"""Warehouse catalog scans (SURVEY A6/A7/A8/F4).

The reference probes PostgreSQL's information_schema per table
(/root/reference/main_ingest.py:147-166,296-305,586-603); the lake
equivalent lists the table directories and reads one parquet footer per
table with pyarrow on the driver, so no catalog question costs a Spark
job.  The catalog join of SURVEY A9/F4 is ``tables_with_column``.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

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


def append_part_file(directory: str, table: pa.Table) -> None:
    """Add ``table`` to the parquet directory ``directory`` (made if absent)
    as one new part file, written under a hidden name, which readers skip,
    and then renamed into place: a reader never sees half a file."""
    os.makedirs(directory, exist_ok=True)
    name = f"part-{uuid.uuid4()}.parquet"
    tmp = os.path.join(directory, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(directory, name))


def list_columns(warehouse_dir: str, table: str) -> set[str]:
    """Column set of one lake table (A6 parity: get_table_columns), read
    from a parquet footer without a Spark job."""
    return set(footer_columns(os.path.join(warehouse_dir, table)))


def tables_with_column(warehouse_dir: str, column: str) -> list[str]:
    """Catalog join: the dynamic tables owning a given column, sorted (the
    migration's discovery query over information_schema.columns, A9
    parity: alembic 1941212973eb:51-67), from one parquet footer per
    table; bookkeeping tables are not dynamic tables (C10 parity:
    main_ingest.py:296-305)."""
    return [t for t in list_table_dirs(warehouse_dir) if column in list_columns(warehouse_dir, t)]
