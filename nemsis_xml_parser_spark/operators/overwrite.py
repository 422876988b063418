"""Key-scoped overwrite — "UUID-based Overwrite" (SURVEY D2/D3).

Reference behavior (main_ingest.py:276-328,400-421): for every distinct
``pcr_uuid_context`` in an incoming file, delete all rows carrying that
UUID from EVERY dynamic table, then insert the fresh rows — O(tables ×
UUIDs) DELETE round-trips.

Spark-first: one set-based anti-join per lake table against the (small,
broadcast) key set of the whole batch, unioned with the new rows:

    kept = old ⟕anti keys ;  result = kept ∪ new

and every table's result goes out in ONE Spark write job per batch,
whatever the number of tables.  The new rows (one projection of the batch
for all tables) and each existing table's kept rows share
``warehouse``'s flat layout — table tag, the 4 common columns, the value,
one slot per attribute column — so they union into a single plan.  Each
task of that job writes its rows of each table as one parquet file into
the table's staging directory; the driver then swaps the staging directories in
(``catalog.swap_in_scratch_dir``).  Per-tag jobs would cost a scheduler
round-trip per table, and NEMSIS has hundreds of tags.

``overwrite_pcrs`` is the one place the lake applies this rule; batch
ingest (``bookkeeping.ingest_xml_files``) and the streaming ``foreachBatch``
(``streaming.ingest.start_warehouse_stream``) both call it.  On
Delta/Iceberg this function becomes ``MERGE``/``replaceWhere``.  Tasks
write with plain file-system calls, so the lake must be a path every
executor sees (local or a shared mount).
"""

from __future__ import annotations

import os
import uuid
from collections import Counter
from functools import reduce

import pyarrow as pa
import pyarrow.parquet as pq
import pyspark.sql.functions as F
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql.types import StringType, StructField, StructType

from .. import catalog
from ..naming import COMMON_COLUMNS, value_column_name
from . import warehouse
from .warehouse import TABLE, VALUE

WRITTEN_SCHEMA = "table string, rows long"
# rows a task buffers per table before writing them as a parquet row group
ROW_GROUP_ROWS = 1 << 20


def distinct_pcr_uuids(elements: DataFrame) -> DataFrame:
    """Distinct non-null PCR UUIDs in the incoming batch
    (parity: main_ingest.py:400-403)."""
    return (
        elements.select(F.col("pcr_uuid"))
        .where(F.col("pcr_uuid").isNotNull())
        .distinct()
    )


def footer_columns(table_dir: str) -> list[str]:
    """Column list of a lake table, in order, from one parquet footer."""
    first = min(f for f in os.listdir(table_dir) if f.endswith(".parquet"))
    return pq.read_schema(os.path.join(table_dir, first)).names


def part_file_name(pid: int) -> str:
    return f"part-{pid:05d}.parquet"


def write_partition(
    batches, layouts: dict[str, tuple[str, list[str], list[str]]], pid: int
) -> list[tuple[str, int]]:
    """Task side of the write job: split flat-layout ``batches`` by table
    tag and write each table's rows as ONE parquet file
    ``part_file_name(pid)`` in that table's directory.  ``layouts`` maps a
    table to (directory, column names, flat source columns).  Files are
    written under a hidden temp name and renamed into place, so a retried
    task replaces its own file instead of adding a second one.  Returns
    (table, rows) per file written."""
    rows: Counter = Counter()
    writers: dict[str, tuple[pq.ParquetWriter, str]] = {}
    split = warehouse.split_by_table(
        batches, {t: (names, sources) for t, (_, names, sources) in layouts.items()},
        ROW_GROUP_ROWS,
    )
    for t, part in split:
        if t not in writers:
            directory = layouts[t][0]
            os.makedirs(directory, exist_ok=True)
            tmp = os.path.join(directory, f".{pid:05d}-{uuid.uuid4().hex}.tmp")
            writers[t] = (pq.ParquetWriter(tmp, part.schema), tmp)
        writers[t][0].write_table(part)
        rows[t] += part.num_rows
    for t, (writer, tmp) in writers.items():
        writer.close()
        os.replace(tmp, os.path.join(layouts[t][0], part_file_name(pid)))
    return sorted(rows.items())


def _write_task(layouts):
    def run(batches):
        written = write_partition(batches, layouts, TaskContext.get().partitionId())
        yield pa.RecordBatch.from_pylist(
            [{"table": t, "rows": n} for t, n in written],
            schema=pa.schema([("table", pa.string()), ("rows", pa.int64())]),
        )

    return run


def overwrite_pcrs(elements: DataFrame, warehouse_dir: str) -> None:
    """Apply one batch of canonical elements to the per-tag lake under
    ``warehouse_dir``: every existing table loses the rows of every PCR in
    the batch, then each table gains its new rows — in one Spark write job.

    The key set is the whole batch's, not each table's own: a correction
    that drops a repeating group still deletes that PCR's old rows from the
    group's tables, which the batch never writes.  Rows with a NULL
    ``pcr_uuid_context`` are never deleted — the reference only deletes
    per concrete UUID (main_ingest.py:312-316).  An existing table keeps
    its columns in order and gains the batch's new attribute columns at
    the end; a new table gets ``warehouse.table_frame``'s columns.  Every
    column is a string.  ``elements`` should be cached: the table list,
    attribute pass, key set and write each read it.
    """
    spark = elements.sparkSession
    incoming = warehouse.table_names(elements)
    attr_map = warehouse.attribute_columns_per_table(elements)
    # drop crashed-rewrite leftovers first so a staging dir is never
    # treated as a real dynamic table, then list survivors
    catalog.clean_scratch_dirs(warehouse_dir)
    existing = catalog.list_table_dirs(warehouse_dir)

    # every table's final column list, fixed on the driver before the job
    old_cols = {t: footer_columns(os.path.join(warehouse_dir, t)) for t in existing}
    columns = dict(old_cols)
    for t in incoming:
        old = columns.get(t, [])
        new = list(COMMON_COLUMNS) + [value_column_name(t)] + attr_map.get(t, [])
        columns[t] = old + [c for c in new if c not in old]

    slots = warehouse.flat_slots(columns)

    # the batch's new rows, one projection for all tables
    lower_map = warehouse.lowered_attributes()
    parts = [
        elements.select(
            F.lower(F.col("table_name")).alias(TABLE),
            F.col("element_id"),
            F.col("parent_element_id"),
            F.col("pcr_uuid").alias("pcr_uuid_context"),
            F.col("element_tag").alias("original_tag_name"),
            F.col("value").alias(VALUE),
            *[lower_map.getItem(c).alias(s) for c, s in slots.items()],
        )
    ]
    # every existing table's rows in the same shape, minus the batch's key
    # set (one anti-join over all of them)
    old_rows = [
        warehouse.to_flat(
            spark.read.schema(
                StructType([StructField(c, StringType()) for c in old_cols[t]])
            ).parquet(os.path.join(warehouse_dir, t)),
            t, old_cols[t], slots,
        )
        for t in existing
    ]
    if old_rows:
        # collected once; a frame made from an arrow table is a local
        # relation, which broadcasts without a Spark job
        keys = spark.createDataFrame(
            pa.table(
                {"pcr_uuid_context": pa.array(
                    [r[0] for r in distinct_pcr_uuids(elements).collect()], pa.string()
                )}
            )
        )
        parts.append(
            reduce(DataFrame.unionByName, old_rows).join(
                F.broadcast(keys), "pcr_uuid_context", "left_anti"
            )
        )

    layouts = {
        t: (
            os.path.join(warehouse_dir, t) + catalog.STAGING_SUFFIX,
            cols,
            [warehouse.flat_source(t, c, slots) for c in cols],
        )
        for t, cols in columns.items()
    }
    flat = reduce(DataFrame.unionByName, parts)
    written: Counter = Counter()
    for r in (
        flat.coalesce(spark.sparkContext.defaultParallelism)
        .mapInArrow(_write_task(layouts), WRITTEN_SCHEMA)
        .collect()
    ):
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
