"""Key-scoped overwrite — "UUID-based Overwrite" (SURVEY D2/D3).

Reference behavior (main_ingest.py:276-328,400-421): for every distinct
``pcr_uuid_context`` in an incoming file, delete all rows carrying that
UUID from EVERY dynamic table, then insert the fresh rows — O(tables ×
UUIDs) DELETE round-trips.

Spark-first: one set-based anti-join per lake table against the (small,
broadcast) key set of the whole batch, unioned with the new rows:

    kept = old ⟕anti keys ;  result = kept ∪ new

``overwrite_pcrs`` is the one place the lake applies this rule; batch
ingest (``bookkeeping.ingest_xml_files``) and the streaming ``foreachBatch``
(``streaming.ingest.start_warehouse_stream``) both call it.  On
Delta/Iceberg this function becomes ``MERGE``/``replaceWhere``; on plain
parquet it is rewrite-on-overwrite through a staging directory
(``catalog.replace_table_dir``).
"""

from __future__ import annotations

import os
from concurrent.futures import ThreadPoolExecutor

import pyspark.sql.functions as F
from pyspark.sql import DataFrame

from .. import catalog
from . import warehouse


def distinct_pcr_uuids(elements: DataFrame) -> DataFrame:
    """Distinct non-null PCR UUIDs in the incoming batch
    (parity: main_ingest.py:400-403)."""
    return (
        elements.select(F.col("pcr_uuid"))
        .where(F.col("pcr_uuid").isNotNull())
        .distinct()
    )


def overwrite_pcrs(elements: DataFrame, warehouse_dir: str) -> None:
    """Apply one batch of canonical elements to the per-tag lake under
    ``warehouse_dir``: every existing table loses the rows of every PCR in
    the batch, then each table gains its new rows.

    The key set is the whole batch's, not each table's own: a correction
    that drops a repeating group still deletes that PCR's old rows from the
    group's tables, which the batch never writes.  Rows with a NULL
    ``pcr_uuid_context`` are never deleted — the reference only deletes
    per concrete UUID (main_ingest.py:312-316).  ``elements`` should be
    cached: it is read once per table.
    """
    spark = elements.sparkSession
    incoming = warehouse.table_names(elements)
    attr_map = warehouse.attribute_columns_per_table(elements)
    keys = F.broadcast(
        distinct_pcr_uuids(elements).withColumnRenamed("pcr_uuid", "pcr_uuid_context")
    )
    # drop crashed-rewrite leftovers first so a '{table}__staging' dir is
    # never treated as a real dynamic table, then list survivors
    catalog.clean_scratch_dirs(warehouse_dir)
    existing = catalog.list_table_dirs(warehouse_dir)

    def write_table(t: str) -> None:
        path = os.path.join(warehouse_dir, t)
        new_rows = (
            warehouse.table_frame(elements, t, attr_map.get(t, []))
            if t in incoming
            else None
        )
        if t not in existing:
            new_rows.write.mode("overwrite").parquet(path)
            return
        kept = spark.read.parquet(path).join(keys, "pcr_uuid_context", "left_anti")
        if new_rows is not None:
            kept = kept.unionByName(new_rows, allowMissingColumns=True)
        catalog.replace_table_dir(kept, path)

    # concurrent per-tag write jobs: outputs are disjoint directories and
    # Spark's scheduler handles concurrent actions, so the only thing
    # serial execution buys is idle cores between job barriers.  The
    # reference processes tags inside a single-threaded per-element loop
    # (main_ingest.py:429-495).
    tables = sorted(set(existing) | set(incoming))
    with ThreadPoolExecutor(max_workers=min(8, max(1, len(tables)))) as ex:
        for fut in [ex.submit(write_table, t) for t in tables]:
            fut.result()  # propagate the first failure
