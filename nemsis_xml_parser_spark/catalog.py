"""Warehouse catalog scans (SURVEY A6/A7/A8/F4).

The reference probes PostgreSQL's information_schema per table
(/root/reference/main_ingest.py:147-166,296-305,586-603); the lake
equivalent lists the table directories and reads one parquet footer per
table with pyarrow on the driver, so no catalog question costs a Spark
job.  The catalog join of SURVEY A9/F4 is ``tables_with_column``.

The catalog also names the lake's scratch directories (``SCRATCH_SUFFIXES``):
a rewrite's staging copy of a table, a table parked aside while its
rewrite is swapped in, and the spool of Arrow files that holds a batch's
flattened rows between ingest's two Spark jobs.  No table listing shows
them, and each batch starts by cleaning up what a crashed one left.
"""

from __future__ import annotations

import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

BOOKKEEPING_PREFIX = "_"

# Scratch-directory suffixes.  The PCR-scoped overwrite writes
# ``{table}__staging`` and the structural migration ``{table}__migrating``;
# a swap parks the live table as ``{table}__old`` until its replacement is
# in place; ingest spools a batch's flattened rows into ``SPOOL_DIR``.  A
# crash must not leave a directory that later scans mistake for a real
# dynamic table, and the next batch's ``clean_scratch_dirs`` removes them.
STAGING_SUFFIX = "__staging"
MIGRATING_SUFFIX = "__migrating"
OLD_SUFFIX = "__old"
SPOOL_SUFFIX = "__spool"
SCRATCH_SUFFIXES = (STAGING_SUFFIX, MIGRATING_SUFFIX, OLD_SUFFIX, SPOOL_SUFFIX)
SPOOL_DIR = BOOKKEEPING_PREFIX + "batch" + SPOOL_SUFFIX


def swap_in_scratch_dir(path: str, scratch_suffix: str) -> None:
    """Replace the table directory ``path`` (if any) with its fully written
    scratch directory ``path + scratch_suffix``.  Rewrites that read
    ``path`` itself cannot write it in place, so they write the scratch
    directory first and call this once the write has finished.

    The live directory is renamed aside to ``path + OLD_SUFFIX`` and
    deleted only after the scratch directory took its name, so a crash at
    any step leaves a full copy of the table: ``clean_scratch_dirs`` puts a
    parked directory back when ``path`` is missing."""
    old = path + OLD_SUFFIX
    if os.path.isdir(path):
        # a parked copy next to a live table is a leftover, not the table
        shutil.rmtree(old, ignore_errors=True)
        os.rename(path, old)
    os.rename(path + scratch_suffix, path)
    shutil.rmtree(old, ignore_errors=True)


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


def clean_scratch_dirs(warehouse_dir: str) -> None:
    """Undo what a crashed batch left: a table parked by an interrupted
    ``swap_in_scratch_dir`` (``{table}__old`` without ``{table}``) is
    renamed back, then every scratch directory (``SCRATCH_SUFFIXES``) is
    removed (the re-ingest regenerates them)."""
    if not os.path.isdir(warehouse_dir):
        return
    for d in os.listdir(warehouse_dir):
        live = os.path.join(warehouse_dir, d.removesuffix(OLD_SUFFIX))
        if d.endswith(OLD_SUFFIX) and not os.path.exists(live):
            os.rename(os.path.join(warehouse_dir, d), live)
    for d in os.listdir(warehouse_dir):
        if d.endswith(SCRATCH_SUFFIXES):
            shutil.rmtree(os.path.join(warehouse_dir, d), ignore_errors=True)


def part_files(table_dir: str) -> list[str]:
    """Paths of a lake table's parquet part files, in name order; hidden
    files (a task's temp file, checksums) and ``_SUCCESS`` markers are not
    parts."""
    return [
        os.path.join(table_dir, f)
        for f in sorted(os.listdir(table_dir))
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    ]


def deal_by_size(files: list, n: int, path=lambda f: f) -> list[list]:
    """Deal ``files`` over ``n`` tasks, largest first and round-robin;
    ``path`` maps an item to the file whose size ranks it."""
    ordered = sorted(files, key=lambda f: -os.path.getsize(path(f)))
    return [ordered[i::n] for i in range(n)]


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
