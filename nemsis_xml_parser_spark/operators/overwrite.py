"""Key-scoped overwrite — "UUID-based Overwrite" (SURVEY D2/D3).

Reference behavior (main_ingest.py:276-328,400-421): for every distinct
``pcr_uuid_context`` in an incoming file, delete all rows carrying that
UUID from EVERY dynamic table, then insert the fresh rows — O(tables ×
UUIDs) DELETE round-trips.

Spark-first: a copy-on-write rewrite of the lake with the (small) key
set of the whole batch, file by file:

    kept = old rows whose PCR is not in keys ;  result = kept ∪ new

and every table's result goes out in ONE Spark write job per batch,
whatever the number of tables.  Only the new rows pass through Spark's
plan, as one projection of the batch in ``warehouse``'s flat layout —
table tag, the 4 common columns, the value, one slot per attribute
column.  The old rows never do: the driver lists each rewritten table's
part files and deals them out over the job's tasks, and each task streams
its old files by row group with pyarrow, drops the rows of the key set and
writes the rest, with its new rows of the same table, as one parquet file
into the table's staging directory.  The driver then swaps the staging
directories in (``catalog.swap_in_scratch_dir``).  Per-tag jobs would cost
a scheduler round-trip per table, and NEMSIS has hundreds of tags.

``overwrite_pcrs`` is the one place the lake applies this rule; its one
caller is ``bookkeeping.ingest_xml_files``, which CLI batches and each
microbatch of ``streaming.ingest.start_warehouse_stream`` run.  The batch's
tables, attribute columns and key set come from the summary the flatten
tasks folded while the batch cache materialized
(``flatten.BatchSummary``), so the write job is the only Spark job here.  On
Delta/Iceberg this function becomes ``MERGE``/``replaceWhere``.  Tasks read
and write with plain file-system calls, so the lake must be a path every
executor sees (local or a shared mount).
"""

from __future__ import annotations

import os
import uuid
from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark import TaskContext
from pyspark.sql import DataFrame

from .. import catalog
from ..naming import COMMON_COLUMNS, value_column_name
from . import warehouse
from .flatten import BatchSummary
from .warehouse import TABLE, VALUE

WRITTEN_SCHEMA = "table string, rows long"
PCR = "pcr_uuid_context"
# rows a task buffers per table before writing them as a parquet row group
ROW_GROUP_ROWS = 1 << 20


def part_file_name(pid: int) -> str:
    return f"part-{pid:05d}.parquet"


def write_partition(
    batches,
    layouts: dict[str, tuple[str, list[str], list[str] | None]],
    pid: int,
    old_files: list[tuple[str, str]],
    keys: list[str],
) -> list[tuple[str, int]]:
    """Task side of the write job: write each table's rows as ONE parquet
    file ``part_file_name(pid)`` in that table's directory.  ``layouts``
    maps a table to (directory, column names, flat source columns); the
    sources are None for a table the batch has no rows for.

    The rows are the kept rows of this task's ``old_files`` ((table, path)
    pairs of the live lake), streamed by row group, minus every row whose
    ``pcr_uuid_context`` is in ``keys`` (a NULL never matches), laid out in
    the table's column names (a column the file lacks is NULL); then the
    flat-layout new rows of ``batches``, split by table tag.  Files are
    written under a hidden temp name and renamed into place, so a retried
    task replaces its own file instead of adding a second one.  Returns
    (table, rows) per file written."""
    rows: Counter = Counter()
    writers: dict[str, tuple[pq.ParquetWriter, str]] = {}
    schemas = {
        t: pa.schema([(c, pa.string()) for c in names])
        for t, (_, names, _) in layouts.items()
    }

    def write(t: str, columns: list) -> None:
        if t not in writers:
            directory = layouts[t][0]
            os.makedirs(directory, exist_ok=True)
            tmp = os.path.join(directory, f".{pid:05d}-{uuid.uuid4().hex}.tmp")
            writers[t] = (pq.ParquetWriter(tmp, schemas[t]), tmp)
        part = pa.Table.from_arrays(columns, schema=schemas[t])
        writers[t][0].write_table(part)
        rows[t] += part.num_rows

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
    split = warehouse.split_by_table(
        batches,
        {t: (names, sources) for t, (_, names, sources) in layouts.items() if sources},
        ROW_GROUP_ROWS,
    )
    for t, part in split:
        write(t, part.columns)
    for t, (writer, tmp) in writers.items():
        writer.close()
        os.replace(tmp, os.path.join(layouts[t][0], part_file_name(pid)))
    return sorted(rows.items())


def _write_task(layouts, assigned, keys):
    def run(batches):
        pid = TaskContext.get().partitionId()
        written = write_partition(batches, layouts, pid, assigned[pid], keys)
        yield pa.RecordBatch.from_pylist(
            [{"table": t, "rows": n} for t, n in written],
            schema=pa.schema([("table", pa.string()), ("rows", pa.int64())]),
        )

    return run


def overwrite_pcrs(elements: DataFrame, warehouse_dir: str, summary: BatchSummary) -> None:
    """Apply one batch of canonical elements to the per-tag lake under
    ``warehouse_dir``: every existing table loses the rows of every PCR in
    the batch, then each table gains its new rows — in one Spark write job.

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

    ``summary`` is ``elements``' ``flatten.BatchSummary``: its tables,
    attribute columns and PCR keys (parity: main_ingest.py:400-403).  The
    write job is the one Spark job, and the only read of ``elements``.
    """
    spark = elements.sparkSession
    incoming = summary.tables
    attr_map = summary.attributes
    # drop crashed-rewrite leftovers first so a staging dir is never
    # treated as a real dynamic table, then list survivors
    catalog.clean_scratch_dirs(warehouse_dir)
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

    # the batch's new rows, one projection for all the tables it writes
    slots = warehouse.flat_slots({t: columns[t] for t in incoming})
    lower_map = warehouse.lowered_attributes()
    flat = elements.select(
        F.lower(F.col("table_name")).alias(TABLE),
        F.col("element_id"),
        F.col("parent_element_id"),
        F.col("pcr_uuid").alias(PCR),
        F.col("element_tag").alias("original_tag_name"),
        F.col("value").alias(VALUE),
        *[lower_map.getItem(c).alias(s) for c, s in slots.items()],
    )
    # the kept rows never enter the plan: the write tasks read the old part
    # files themselves, dealt round-robin (largest first) over the job's
    # tasks, and a batch of fewer partitions gains empty ones up to that
    # many, so a one-file batch still rewrites the lake on every core (a
    # shuffle would spread it too, but costs a job of its own under AQE)
    n_tasks = spark.sparkContext.defaultParallelism
    old_files = sorted(
        ((t, p) for t in columns if t in existing
         for p in catalog.part_files(os.path.join(warehouse_dir, t))),
        key=lambda f: -os.path.getsize(f[1]),
    )
    assigned = [old_files[pid::n_tasks] for pid in range(n_tasks)]
    short = n_tasks - elements.rdd.getNumPartitions()
    if old_files and short > 0:
        pad = spark.range(0, short, 1, short).where(F.col("id") < 0)
        null = F.lit(None).cast("string")
        flat = flat.union(pad.select(*[null.alias(c) for c in flat.columns]))
    else:
        flat = flat.coalesce(n_tasks)

    layouts = {
        t: (
            os.path.join(warehouse_dir, t) + catalog.STAGING_SUFFIX,
            cols,
            [warehouse.flat_source(t, c, slots) for c in cols] if t in incoming else None,
        )
        for t, cols in columns.items()
    }
    written: Counter = Counter()
    for r in flat.mapInArrow(_write_task(layouts, assigned, keys), WRITTEN_SCHEMA).collect():
        written[r["table"]] += r["rows"]

    for t, (staging, cols, _) in layouts.items():
        if not written[t]:
            # an emptied table still holds its schema, or readers that
            # infer it (Spark, DuckDB globs) find nothing
            os.makedirs(staging, exist_ok=True)
            pq.write_table(
                pa.table({c: pa.array([], pa.string()) for c in cols}),
                os.path.join(staging, part_file_name(0)),
            )
        catalog.swap_in_scratch_dir(os.path.join(warehouse_dir, t), catalog.STAGING_SUFFIX)
