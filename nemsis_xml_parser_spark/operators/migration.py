"""Schema versioning + structural migration (SURVEY G2/G4/G5).

* ``bootstrap_schema`` / ``check_schema_version`` — the reference's
  SchemaVersions seed + version gate (/root/reference/database_setup.py:
  44-140, main_ingest.py:53-64,729-739): refuse to ingest unless the
  running logic version has been registered.  ``_schema_versions`` is read
  and written with pyarrow on the driver, one file per registration, so
  the gate costs no Spark job.
* ``migrate_text_content_to_value_columns`` — the reference's one Alembic
  migration (/root/reference/alembic/versions/1941212973eb_*.py:35-83):
  rename ``text_content`` → ``{table}_value`` across every dynamic table,
  discovered by the catalog join over parquet footers
  (``catalog.tables_with_column``); reversible.

On the parquet lake a "rename" is a rewrite (withColumnRenamed + write), the
one Spark job here, paid only by a table that has the column to rename; on
Delta it would be a metadata-only ALTER TABLE RENAME COLUMN.
"""

from __future__ import annotations

import datetime as dt
import os

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import SparkSession
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StringType, StructField, StructType

from .. import catalog
from ..naming import value_column_name
from ..schema import INGESTION_LOGIC_VERSION

SCHEMA_VERSIONS_SCHEMA = StructType(
    [
        StructField("version_number", StringType(), False),
        StructField("creation_date", StringType(), False),
        StructField("description", StringType(), True),
    ]
)


def _versions_path(warehouse_dir: str) -> str:
    return os.path.join(warehouse_dir, "_schema_versions")


def bootstrap_schema(warehouse_dir: str, version: str = INGESTION_LOGIC_VERSION) -> None:
    """Idempotent G4: seed the version row iff absent (count==0 guard parity
    with database_setup.py:109-117), as one new part file."""
    if not check_schema_version(warehouse_dir, version):
        now = dt.datetime.now(dt.timezone.utc).isoformat()
        row = dict(zip(SCHEMA_VERSIONS_SCHEMA.fieldNames(),
                       (version, now, "spark dynamic ingestion logic")))
        catalog.append_part_file(_versions_path(warehouse_dir), pa.Table.from_pylist(
            [row], schema=to_arrow_schema(SCHEMA_VERSIONS_SCHEMA)))


def check_schema_version(warehouse_dir: str, version: str = INGESTION_LOGIC_VERSION) -> bool:
    """G2 version gate: True iff the version row exists."""
    path = _versions_path(warehouse_dir)
    if not os.path.isdir(path):
        return False
    # with a schema, a directory holding no file yet reads as empty
    registered = pq.read_table(path, schema=pa.schema([("version_number", pa.string())]))
    return version in registered["version_number"].to_pylist()


def require_schema_version(warehouse_dir: str, version: str = INGESTION_LOGIC_VERSION) -> None:
    if not check_schema_version(warehouse_dir, version):
        raise RuntimeError(
            f"ingestion logic version '{version}' not registered in "
            f"{_versions_path(warehouse_dir)} — run bootstrap_schema first "
            "(parity: main_ingest.py:729-739 abort)"
        )


def _rewrite_renamed(spark: SparkSession, warehouse_dir: str, table: str, old: str, new: str) -> None:
    """Rewrite ``table`` with column ``old`` renamed to ``new``, through its
    ``__migrating`` scratch directory."""
    path = os.path.join(warehouse_dir, table)
    spark.read.parquet(path).withColumnRenamed(old, new).write.mode("overwrite").parquet(
        path + catalog.MIGRATING_SUFFIX
    )
    catalog.swap_in_scratch_dir(path, catalog.MIGRATING_SUFFIX)


def migrate_text_content_to_value_columns(
    spark: SparkSession, warehouse_dir: str
) -> dict[str, str]:
    """G5 upgrade: for every dynamic table that still has a ``text_content``
    column, rename it to ``{table}_value``.  Returns {table: new_column}."""
    renamed: dict[str, str] = {}
    for t in catalog.tables_with_column(warehouse_dir, "text_content"):
        target = value_column_name(t)
        if target not in catalog.list_columns(warehouse_dir, t):
            _rewrite_renamed(spark, warehouse_dir, t, "text_content", target)
            renamed[t] = target
    return renamed


def downgrade_value_columns_to_text_content(
    spark: SparkSession, warehouse_dir: str
) -> dict[str, str]:
    """G5 downgrade (reversibility parity: 1941212973eb downgrade path):
    every dynamic table without a ``text_content`` column that has its
    ``{table}_value`` column gets it renamed back."""
    renamed: dict[str, str] = {}
    has_text = set(catalog.tables_with_column(warehouse_dir, "text_content"))
    for t in catalog.list_table_dirs(warehouse_dir):
        source = value_column_name(t)
        if t not in has_text and source in catalog.list_columns(warehouse_dir, t):
            _rewrite_renamed(spark, warehouse_dir, t, source, "text_content")
            renamed[t] = "text_content"
    return renamed
