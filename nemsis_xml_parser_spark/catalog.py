"""Warehouse catalog scans (SURVEY A6/A7/A8/F4).

The reference probes PostgreSQL's information_schema per table
(/root/reference/main_ingest.py:147-166,296-305,586-603); the lake
equivalent reads directory + parquet footer metadata, and the Spark-session
equivalent wraps ``spark.catalog``.  All return DataFrames so catalog
joins (SURVEY A9/F4) are ordinary joins.
"""

from __future__ import annotations

import os
import shutil

import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession

BOOKKEEPING_PREFIX = "_"

# Scratch-directory suffixes of the rewrite paths: the PCR-scoped overwrite
# writes ``{table}__staging``, the structural migration ``{table}__migrating``.
# A crash between scratch write and swap must not leave a directory that
# later scans mistake for a real dynamic table.
STAGING_SUFFIX = "__staging"
MIGRATING_SUFFIX = "__migrating"
SCRATCH_SUFFIXES = (STAGING_SUFFIX, MIGRATING_SUFFIX)


def swap_in_scratch_dir(path: str, scratch_suffix: str) -> None:
    """Replace the table directory ``path`` (if any) with its fully written
    scratch directory ``path + scratch_suffix``.  Rewrites that read
    ``path`` itself cannot write it in place, so they write the scratch
    directory first and call this once the write has finished."""
    if os.path.isdir(path):
        shutil.rmtree(path)
    os.rename(path + scratch_suffix, path)


def is_table_dir(name: str) -> bool:
    return not name.startswith(BOOKKEEPING_PREFIX) and not name.endswith(
        SCRATCH_SUFFIXES
    )


def list_table_dirs(warehouse_dir: str) -> list[str]:
    """Dynamic-table directory names, excluding bookkeeping and scratch dirs
    left behind by an interrupted staging rewrite."""
    if not os.path.isdir(warehouse_dir):
        return []
    return sorted(d for d in os.listdir(warehouse_dir) if is_table_dir(d))


def clean_scratch_dirs(warehouse_dir: str) -> list[str]:
    """Remove leftover scratch directories (``SCRATCH_SUFFIXES``) of a
    crashed rewrite (the subsequent re-ingest regenerates them).  Returns the
    removed names."""
    removed = []
    if os.path.isdir(warehouse_dir):
        for d in os.listdir(warehouse_dir):
            if d.endswith(SCRATCH_SUFFIXES):
                shutil.rmtree(os.path.join(warehouse_dir, d), ignore_errors=True)
                removed.append(d)
    return removed


def part_files(table_dir: str) -> list[str]:
    """Paths of a lake table's parquet part files, in name order; hidden
    files (a task's temp file, checksums) and ``_SUCCESS`` markers are not
    parts."""
    return [
        os.path.join(table_dir, f)
        for f in sorted(os.listdir(table_dir))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def footer_columns(table_dir: str) -> list[str]:
    """Column list of a lake table, in order, from one parquet footer (every
    part file of a table has the same columns)."""
    return pq.read_schema(part_files(table_dir)[0]).names


def list_tables(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """Dynamic tables in the lake, excluding bookkeeping (C10 parity:
    main_ingest.py:296-305 excludes pg_% + SchemaVersions/XMLFilesProcessed)."""
    names = list_table_dirs(warehouse_dir)
    return spark.createDataFrame([(n,) for n in names], "table_name string")


def list_columns(spark: SparkSession, warehouse_dir: str, table: str) -> set[str]:
    """Column set of one lake table (A6 parity: get_table_columns), read
    from a parquet footer without a Spark job."""
    return set(footer_columns(os.path.join(warehouse_dir, table)))


def columns_frame(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    """(table_name, column_name) over the whole lake — the
    information_schema.columns analogue used by the migration's catalog join
    (A9 parity: alembic 1941212973eb:51-67)."""
    rows = []
    for r in list_tables(spark, warehouse_dir).collect():
        for c in list_columns(spark, warehouse_dir, r["table_name"]):
            rows.append((r["table_name"], c))
    return spark.createDataFrame(rows, "table_name string, column_name string")


def tables_with_column(
    spark: SparkSession, warehouse_dir: str, column: str
) -> list[str]:
    """Catalog join: tables owning a given column (the migration's discovery
    query)."""
    df = columns_frame(spark, warehouse_dir)
    return sorted(
        r["table_name"]
        for r in df.where(df.column_name == column).select("table_name").collect()
    )
