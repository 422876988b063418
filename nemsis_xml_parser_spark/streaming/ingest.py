"""Streaming XML directory ingest — the idiomatic upgrade of the
reference's run-per-file CLI workflow (/root/reference/README.md:81-89,
SURVEY §1.5 last row).

``readStream.format('binaryFile')`` watches a drop directory; each
microbatch flattens its files (same mapInPandas flatten as batch) and
applies the PCR-scoped overwrite via ``foreachBatch`` — giving exactly-once
file tracking (checkpointed source) where the reference only had an
unchecked MD5 log.  ``cleanSource='archive'`` reproduces the
processed_xml_archive/ behavior natively.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.flatten import _flatten_partition
from ..operators.overwrite import overwrite_pcrs
from ..schema import ELEMENT_SCHEMA


def stream_elements(
    spark: SparkSession,
    watch_dir: str,
    glob: str = "*.xml",
    archive_dir: str | None = None,
    deterministic_ids: bool = False,
) -> DataFrame:
    """Streaming canonical elements DataFrame from a watched directory."""
    reader = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; this is binaryFile's
        # fixed one
        .schema(
            "path string, modificationTime timestamp, length long, content binary"
        )
        .option("pathGlobFilter", glob)
        .option("maxFilesPerTrigger", 64)
    )
    if archive_dir is not None:
        reader = reader.option("cleanSource", "archive").option(
            "sourceArchiveDir", archive_dir
        )
    binary = reader.load(watch_dir).select("path", "content")
    return binary.mapInPandas(
        lambda it: _flatten_partition(it, deterministic_ids), schema=ELEMENT_SCHEMA
    )


def start_warehouse_stream(
    spark: SparkSession,
    watch_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    glob: str = "*.xml",
    deterministic_ids: bool = False,
) -> StreamingQuery:
    """Microbatch EP1: each batch of files goes through the same PCR-scoped
    overwrite as batch ingest (``overwrite.overwrite_pcrs``; foreachBatch
    bridges the streaming plan to the batch sink)."""
    elements_stream = stream_elements(
        spark, watch_dir, glob=glob, deterministic_ids=deterministic_ids
    )

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        batch_df = batch_df.cache()
        try:
            overwrite_pcrs(batch_df, warehouse_dir)
        finally:
            batch_df.unpersist()

    return (
        elements_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
