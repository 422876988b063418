"""Schema versioning + structural migration (SURVEY G2/G4/G5).

* ``bootstrap_schema`` / ``check_schema_version`` — the reference's
  SchemaVersions seed + version gate (/root/reference/database_setup.py:
  44-140, main_ingest.py:53-64,729-739): refuse to ingest unless the
  running logic version has been registered.
* ``migrate_text_content_to_value_columns`` — the reference's one Alembic
  migration (/root/reference/alembic/versions/1941212973eb_*.py:35-83):
  rename ``text_content`` → ``{table}_value`` across every dynamic table,
  discovered by a catalog scan; reversible.

On the parquet lake a "rename" is a rewrite (withColumnRenamed + write);
on Delta it would be a metadata-only ALTER TABLE RENAME COLUMN.
"""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import DataFrame, SparkSession
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


def bootstrap_schema(
    spark: SparkSession, warehouse_dir: str, version: str = INGESTION_LOGIC_VERSION
) -> None:
    """Idempotent G4: seed the version row iff absent (count==0 guard parity
    with database_setup.py:109-117)."""
    path = _versions_path(warehouse_dir)
    if os.path.isdir(path):
        existing = spark.read.parquet(path)
        if existing.where(existing.version_number == version).count() > 0:
            return
        mode = "append"
    else:
        mode = "overwrite"
    now = dt.datetime.now(dt.timezone.utc).isoformat()
    spark.createDataFrame(
        [(version, now, "spark dynamic ingestion logic")],
        schema=SCHEMA_VERSIONS_SCHEMA,
    ).write.mode(mode).parquet(path)


def check_schema_version(
    spark: SparkSession, warehouse_dir: str, version: str = INGESTION_LOGIC_VERSION
) -> bool:
    """G2 version gate: True iff the version row exists."""
    path = _versions_path(warehouse_dir)
    if not os.path.isdir(path):
        return False
    df = spark.read.parquet(path)
    return df.where(df.version_number == version).count() > 0


def require_schema_version(
    spark: SparkSession, warehouse_dir: str, version: str = INGESTION_LOGIC_VERSION
) -> None:
    if not check_schema_version(spark, warehouse_dir, version):
        raise RuntimeError(
            f"ingestion logic version '{version}' not registered in "
            f"{_versions_path(warehouse_dir)} — run bootstrap_schema first "
            "(parity: main_ingest.py:729-739 abort)"
        )


def _rewrite_renamed(df: DataFrame, path: str, old: str, new: str) -> None:
    """Rewrite the table at ``path`` (read as ``df``) with column ``old``
    renamed to ``new``, through its ``__migrating`` scratch directory."""
    df.withColumnRenamed(old, new).write.mode("overwrite").parquet(
        path + catalog.MIGRATING_SUFFIX
    )
    catalog.swap_in_scratch_dir(path, catalog.MIGRATING_SUFFIX)


def migrate_text_content_to_value_columns(
    spark: SparkSession, warehouse_dir: str
) -> dict[str, str]:
    """G5 upgrade: for every dynamic table that still has a ``text_content``
    column, rename it to ``{table}_value``.  Returns {table: new_column}."""
    renamed: dict[str, str] = {}
    for t in catalog.list_table_dirs(warehouse_dir):
        path = os.path.join(warehouse_dir, t)
        df = spark.read.parquet(path)
        target = value_column_name(t)
        if "text_content" in df.columns and target not in df.columns:
            _rewrite_renamed(df, path, "text_content", target)
            renamed[t] = target
    return renamed


def downgrade_value_columns_to_text_content(
    spark: SparkSession, warehouse_dir: str
) -> dict[str, str]:
    """G5 downgrade (reversibility parity: 1941212973eb downgrade path)."""
    renamed: dict[str, str] = {}
    for t in catalog.list_table_dirs(warehouse_dir):
        path = os.path.join(warehouse_dir, t)
        df = spark.read.parquet(path)
        source = value_column_name(t)
        if source in df.columns and "text_content" not in df.columns:
            _rewrite_renamed(df, path, source, "text_content")
            renamed[t] = "text_content"
    return renamed
