"""Key-scoped overwrite — "UUID-based Overwrite" (SURVEY D2/D3).

Reference behavior (main_ingest.py:276-328,400-421): for every distinct
``pcr_uuid_context`` in an incoming file, delete all rows carrying that
UUID from EVERY dynamic table, then insert the fresh rows — O(tables ×
UUIDs) DELETE round-trips.

Spark-first: a copy-on-write rewrite of the lake with the (small) key
set of the whole batch, file by file:

    kept = old rows whose PCR is not in keys ;  result = kept ∪ new

and every table's result goes out in ONE Spark write job per batch,
whatever the number of tables.  No row passes through Spark's plan: the
job runs over ``spark.range``, and the driver deals each task its share
of the batch's spool files (``flatten.spool_xml_files``) and of each
rewritten table's part files, largest first (``catalog.deal_by_size``).
Each task pivots its spooled rows with pyarrow straight into each
table's own columns (``pivot``: split by lowercased table tag, then the 4
common columns and the value by name and each attribute column by a
lookup in the row's attribute map), streams its old files by row group,
drops the rows of the key set and writes the rest, with its new rows of
the same table, as one parquet file into the table's staging directory.
The driver then swaps the staging directories in
(``catalog.swap_in_scratch_dir``).
Per-tag jobs would cost a scheduler round-trip per table, and NEMSIS has
hundreds of tags.

``overwrite_pcrs`` is the one place the lake applies this rule; its one
caller is ``bookkeeping.ingest_xml_files``, which CLI batches and each
microbatch of ``streaming.ingest.start_warehouse_stream`` run.  The batch's
tables, attribute columns and key set come from the summary the flatten
tasks folded while they wrote the spool (``flatten.BatchSummary``), so the
write job is the only Spark job here.  On Delta/Iceberg this function
becomes ``MERGE``/``replaceWhere``.  Tasks read and write with plain
file-system calls, so the lake must be a path every executor sees (local
or a shared mount).
"""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import SparkSession

from .. import catalog
from ..naming import COMMON_COLUMNS, value_column_name
from .flatten import BatchSummary

WRITTEN_SCHEMA = "table string, rows long"
PCR = "pcr_uuid_context"
# rows a task buffers per table before writing them as a parquet row group
ROW_GROUP_ROWS = 1 << 20


def part_file_name(pid: int) -> str:
    return f"part-{pid:05d}.parquet"


def write_partition(
    pieces,
    layouts: dict[str, tuple[str, list[str]]],
    pid: int,
    old_files: list[tuple[str, str]],
    keys: list[str],
) -> list[tuple[str, int]]:
    """Task side of the write job: write each table's rows as ONE parquet
    file ``part_file_name(pid)`` in that table's directory.  ``layouts``
    maps a table to (directory, column names).

    The rows are the kept rows of this task's ``old_files`` ((table, path)
    pairs of the live lake), streamed by row group, minus every row whose
    ``pcr_uuid_context`` is in ``keys`` (a NULL never matches), laid out in
    the table's column names (a column the file lacks is NULL); then the
    new rows of ``pieces``, (table, Arrow table in its column names) pairs.
    A table's rows are buffered and written as one row group once
    ``ROW_GROUP_ROWS`` of them are, and the rest at the end, so a task
    holds at most about that many rows per table.  Files are written under
    a hidden temp name and renamed into place, so a retried task replaces
    its own file instead of adding a second one.  Returns (table, rows) per
    file written."""
    rows: Counter = Counter()
    writers: dict[str, tuple[pq.ParquetWriter, str]] = {}
    pending: dict[str, list[pa.Table]] = {}
    schemas = {
        t: pa.schema([(c, pa.string()) for c in names]) for t, (_, names) in layouts.items()
    }

    def flush(t: str) -> None:
        if t not in writers:
            directory = layouts[t][0]
            os.makedirs(directory, exist_ok=True)
            tmp = os.path.join(directory, f".{pid:05d}-{uuid.uuid4().hex}.tmp")
            writers[t] = (pq.ParquetWriter(tmp, schemas[t]), tmp)
        writers[t][0].write_table(pa.concat_tables(pending.pop(t)))

    def write(t: str, columns: list) -> None:
        part = pa.Table.from_arrays(columns, schema=schemas[t])
        pending.setdefault(t, []).append(part)
        rows[t] += part.num_rows
        if sum(p.num_rows for p in pending[t]) >= ROW_GROUP_ROWS:
            flush(t)

    key_set = pa.array(keys, pa.string())
    for t, path in old_files:
        with pq.ParquetFile(path) as old:
            for batch in old.iter_batches(batch_size=ROW_GROUP_ROWS):
                kept = batch.filter(pc.invert(pc.is_in(batch.column(PCR), value_set=key_set)))
                if kept.num_rows:
                    have = set(kept.schema.names)
                    write(t, [
                        kept.column(c) if c in have else pa.nulls(kept.num_rows, pa.string())
                        for c in layouts[t][1]
                    ])
    for t, part in pieces:
        write(t, part.columns)
    for t in list(pending):
        flush(t)
    for t, (writer, tmp) in writers.items():
        writer.close()
        os.replace(tmp, os.path.join(layouts[t][0], part_file_name(pid)))
    return sorted(rows.items())


def _lowered(strings: pa.Array) -> pa.Array:
    """``strings`` lowercased by ``str.lower``, the rule of the batch
    summary's names, applied once per distinct string."""
    distinct = pc.unique(strings)
    lowered = pa.array([x.lower() for x in distinct.to_pylist()], pa.string())
    return pc.take(lowered, pc.index_in(strings, value_set=distinct))


def pivot(spooled: pa.RecordBatch, columns: dict[str, list[str]], owners: dict[str, str]):
    """Spool rows (``flatten.SPOOL_SCHEMA``) as (table, Arrow table in the
    table's ``columns``) pieces, one per lowercased table tag: the common
    columns and the value by name, and each attribute column the value of
    the row's attribute whose lowercased key is that column.  When several
    keys of a row lower to one column, the later key wins, as in the
    reference's row dict (main_ingest.py:466-476).  A row whose PCR is a
    key of ``owners`` is dropped unless its file is that PCR's owner."""
    if owners:
        at = pc.index_in(spooled.column("pcr_uuid"), value_set=pa.array(list(owners)))
        owner = pc.take(pa.array(list(owners.values()), pa.string()), at)
        spooled = spooled.filter(pc.fill_null(pc.equal(spooled.column("file"), owner), True))
    attributes = spooled.column("attributes")
    # a map's entries are offsets[i]:offsets[i + 1] of its flattened keys
    # and items, whatever slice of them the array is
    offsets = attributes.offsets
    first = offsets[0].as_py()
    count = offsets[-1].as_py() - first
    lowered = pa.MapArray.from_arrays(
        pc.subtract(offsets, pa.scalar(first, pa.int32())),
        _lowered(attributes.keys.slice(first, count)),
        attributes.items.slice(first, count),
    )
    rows = pa.RecordBatch.from_arrays(
        [*(spooled.column(c) for c in
           ("element_id", "parent_element_id", "pcr_uuid", "element_tag", "value")), lowered],
        names=[*COMMON_COLUMNS, "value", "attributes"],
    )
    tags = _lowered(spooled.column("table_name"))
    for t in pc.unique(tags).to_pylist():
        sub = rows.filter(pc.equal(tags, t))
        yield t, pa.table([
            sub.column(c) if c in COMMON_COLUMNS
            else sub.column("value") if c == value_column_name(t)
            else pc.map_lookup(sub.column("attributes"), c, "last")
            for c in columns[t]
        ], names=columns[t])


def _spooled(path: str):
    """The record batches of one spool file."""
    reader = pa.ipc.open_file(pa.memory_map(path))
    for i in range(reader.num_record_batches):
        yield reader.get_batch(i)


def _write_task(layouts, old_files, spool_files, owners, keys):
    """Task side of the write job: the task given the id ``i`` pivots the
    rows of its spool files ``spool_files[i]`` and writes them, with the
    kept rows of ``old_files[i]``, as part file ``i`` of each table."""
    columns = {t: cols for t, (_, cols) in layouts.items()}

    def run(ids):
        for batch in ids:
            for i in batch.column(0).to_pylist():
                new = (piece for p in spool_files[i] for b in _spooled(p)
                       for piece in pivot(b, columns, owners))
                written = write_partition(new, layouts, i, old_files[i], keys)
                yield pa.RecordBatch.from_pylist(
                    [{"table": t, "rows": n} for t, n in written],
                    schema=pa.schema([("table", pa.string()), ("rows", pa.int64())]),
                )

    return run


def overwrite_pcrs(
    spark: SparkSession,
    spool_files: list[str],
    warehouse_dir: str,
    summary: BatchSummary,
    owners: dict[str, str],
) -> None:
    """Apply one spooled batch to the per-tag lake under ``warehouse_dir``:
    every existing table loses the rows of every PCR in the batch, then
    each table gains its new rows — in one Spark write job.

    The key set is the whole batch's, not each table's own: a correction
    that drops a repeating group still deletes that PCR's old rows from the
    group's tables, which the batch never writes.  Rows with a NULL
    ``pcr_uuid_context`` are never deleted — the reference only deletes
    per concrete UUID (main_ingest.py:312-316).  A batch without PCR keys
    deletes nothing, so it rewrites only the tables it has rows for, and a
    batch without rows touches nothing.  An existing table keeps its
    columns in order and gains the batch's new attribute columns at the
    end; a new table gets ``warehouse.table_frame``'s columns.  Every
    column is a string.

    ``spool_files`` and ``summary`` are what ``flatten.spool_xml_files``
    returned: the batch's rows, and its tables, attribute columns and PCR
    keys (parity: main_ingest.py:400-403).  ``owners`` maps a PCR that
    several files of the batch carry to the one file whose rows it keeps.
    The write job is the one Spark job, in ``defaultParallelism`` tasks.
    """
    incoming = summary.tables
    attr_map = summary.attributes
    existing = catalog.list_table_dirs(warehouse_dir)
    keys = summary.keys if existing else []
    rewritten = set(incoming) | (set(existing) if keys else set())
    if not rewritten:
        return

    # every rewritten table's final column list, fixed on the driver
    columns = {
        t: catalog.footer_columns(os.path.join(warehouse_dir, t))
        for t in existing if t in rewritten
    }
    for t in incoming:
        old = columns.get(t, [])
        new = list(COMMON_COLUMNS) + [value_column_name(t)] + attr_map.get(t, [])
        columns[t] = old + [c for c in new if c not in old]

    # the tasks deal out the old part files and the spool files alike, so
    # even a one-file batch rewrites the lake on every core
    n_tasks = spark.sparkContext.defaultParallelism
    old_files = [(t, p) for t in columns if t in existing
                 for p in catalog.part_files(os.path.join(warehouse_dir, t))]
    assigned = catalog.deal_by_size(old_files, n_tasks, path=lambda f: f[1])
    spooled = catalog.deal_by_size(spool_files, n_tasks)

    layouts = {
        t: (os.path.join(warehouse_dir, t) + catalog.STAGING_SUFFIX, cols)
        for t, cols in columns.items()
    }
    task = _write_task(layouts, assigned, spooled, owners, keys)
    written: Counter = Counter()
    for r in spark.range(0, n_tasks, 1, n_tasks).mapInArrow(task, WRITTEN_SCHEMA).collect():
        written[r["table"]] += r["rows"]

    for t, (staging, cols) in layouts.items():
        if not written[t]:
            # an emptied table still holds its schema, or readers that
            # infer it (Spark, DuckDB globs) find nothing
            os.makedirs(staging, exist_ok=True)
            pq.write_table(
                pa.table({c: pa.array([], pa.string()) for c in cols}),
                os.path.join(staging, part_file_name(0)),
            )
        catalog.swap_in_scratch_dir(os.path.join(warehouse_dir, t), catalog.STAGING_SUFFIX)
