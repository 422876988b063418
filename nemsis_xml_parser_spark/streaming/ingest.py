"""Streaming XML directory ingest — the idiomatic upgrade of the
reference's run-per-file CLI workflow (/root/reference/README.md:81-89,
SURVEY §1.5 last row).

``readStream.format('binaryFile')`` watches a drop directory and only finds
files: its checkpointed source hands each microbatch's new ``*.xml`` paths
to ``foreachBatch``, which runs batch ingest over them
(``bookkeeping.ingest_xml_files``).  Each microbatch is therefore one EP1
batch, with the same MD5 skip, per-file statuses, ``_files_processed`` log
and PCR-scoped overwrite as a CLI batch; only the checkpoint, which lists
every file the stream has handed on, is the stream's own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.streaming import StreamingQuery

from ..operators.bookkeeping import ingest_xml_files


def start_warehouse_stream(
    spark: SparkSession,
    watch_dir: str,
    warehouse_dir: str,
    checkpoint_dir: str,
    deterministic_ids: bool = False,
) -> StreamingQuery:
    """Microbatch EP1: ingest the files of each microbatch (at most 64),
    oldest first, with ``ingest_xml_files``, until the directory holds no
    file the checkpoint has not seen."""

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        rows = sorted(batch_df.collect(), key=lambda r: (r.modificationTime, r.path))
        # binaryFile's paths are "file:" + the unencoded local path (no
        # URL parsing: it would cut "a#1.xml" at the "#")
        paths = [r.path.removeprefix("file:") for r in rows]
        ingest_xml_files(spark, paths, warehouse_dir, deterministic_ids=deterministic_ids)

    files = (
        spark.readStream.format("binaryFile")
        # streaming sources require an explicit schema; this is binaryFile's
        # fixed one, of which only the path and the time are read
        .schema("path string, modificationTime timestamp, length long, content binary")
        .option("pathGlobFilter", "*.xml")
        .option("maxFilesPerTrigger", 64)
        .load(watch_dir)
        .select("path", "modificationTime")
    )
    return (
        files.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
