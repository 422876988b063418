"""File-level bookkeeping, idempotency and the ingest pipeline runner
(SURVEY B5/B8, D5/D6, G2/G3/G4).

Reference behavior: every processed XML file gets a row in
``XMLFilesProcessed`` (UUID, name, MD5, timestamp, status, schema version)
(/root/reference/main_ingest.py:67-98,648-655); the MD5 is recorded but
never checked — re-ingest is only neutralized by the PCR-scoped overwrite.
The rebuild records the same log AND uses it: ``files_to_process`` anti-joins
incoming files against already-succeeded MD5s, giving true skip-if-seen
idempotency on top of the overwrite semantics.

The lake layout is plain parquet directories under a warehouse root:

    {root}/_files_processed/          bookkeeping log (append, one file per batch)
    {root}/{tag}/                     one directory per dynamic table

At 100 TB the same code runs with Delta/Iceberg table paths for ACID
overwrite; the operators only assume ``read.parquet`` / ``write.parquet``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import shutil
import uuid

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_schema

from ..schema import (
    FILES_PROCESSED_SCHEMA,
    INGESTION_LOGIC_VERSION,
    STATUS_ERROR_NOT_FOUND,
    STATUS_ERROR_PARSE,
    STATUS_OK,
)


def file_md5(path: str, chunk_size: int = 4096) -> str | None:
    """Chunked MD5 (parity: /root/reference/main_ingest.py:39-50)."""
    try:
        digest = hashlib.md5()
        with open(path, "rb") as f:
            for chunk in iter(lambda: f.read(chunk_size), b""):
                digest.update(chunk)
        return digest.hexdigest()
    except OSError:
        return None


def files_processed_path(warehouse_dir: str) -> str:
    return os.path.join(warehouse_dir, "_files_processed")


def log_processed_files(
    spark: SparkSession,
    warehouse_dir: str,
    records: list[tuple[str, str | None, str]],
) -> None:
    """Append (file_name, md5, status) records to the bookkeeping table
    (parity: main_ingest.py:67-98 + database_setup.py:80-95) as ONE parquet
    file, so the log every later ``files_to_process`` lists grows by one
    file per batch."""
    now = dt.datetime.now(dt.timezone.utc).isoformat()
    names = FILES_PROCESSED_SCHEMA.fieldNames()
    rows = [
        dict(zip(names, (str(uuid.uuid4()), name, md5, now, status, INGESTION_LOGIC_VERSION)))
        for name, md5, status in records
    ]
    # a frame made from an arrow table is a local relation: no Python
    # worker round-trip, and coalesce(1) writes it as one file
    log = spark.createDataFrame(
        pa.Table.from_pylist(rows, schema=to_arrow_schema(FILES_PROCESSED_SCHEMA)),
        schema=FILES_PROCESSED_SCHEMA,
    )
    log.coalesce(1).write.mode("append").parquet(files_processed_path(warehouse_dir))


def read_files_processed(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    path = files_processed_path(warehouse_dir)
    if not os.path.isdir(path):  # first run: empty log
        return spark.createDataFrame([], schema=FILES_PROCESSED_SCHEMA)
    return spark.read.schema(FILES_PROCESSED_SCHEMA).parquet(path)


def files_to_process(
    warehouse_dir: str, file_paths: list[str]
) -> tuple[dict[str, str | None], list[str]]:
    """Split incoming files into ({todo: md5}, skipped) by MD5 anti-join
    against previously-succeeded files (SURVEY D5 — the check the reference
    records data for but never performs).  Each file is hashed once; the
    todo hash is the one the log records.  The log's two columns are read
    with pyarrow: the set ends up on the driver anyway, so it costs no
    Spark job."""
    path = files_processed_path(warehouse_dir)
    seen = set()
    if os.path.isdir(path):  # no directory on the first run
        # with a schema, a log directory holding no file yet reads as empty
        log = pq.read_table(
            path, schema=pa.schema([("md5_hash", pa.string()), ("status", pa.string())])
        )
        seen = set(log.filter(pc.equal(log["status"], STATUS_OK))["md5_hash"].to_pylist())
    todo, skipped = {}, []
    for p in file_paths:
        md5 = file_md5(p)
        if md5 in seen:
            skipped.append(p)
        else:
            todo[p] = md5
    return todo, skipped


def archive_file(path: str, archive_dir: str) -> str:
    """Move a processed file to the archive (parity: main_ingest.py:101-116;
    timestamp-uniquified on collision like move_to_error_directory)."""
    os.makedirs(archive_dir, exist_ok=True)
    dest = os.path.join(archive_dir, os.path.basename(path))
    if os.path.exists(dest):
        stamp = dt.datetime.now().strftime("%Y%m%d%H%M%S")
        root, ext = os.path.splitext(os.path.basename(path))
        dest = os.path.join(archive_dir, f"{root}_{stamp}{ext}")
    shutil.move(path, dest)
    return dest


def move_to_error_directory(path: str, error_dir: str) -> str:
    """Failure routing (parity: main_ingest.py:119-139)."""
    return archive_file(path, error_dir)


def ingest_xml_files(
    spark: SparkSession,
    file_paths: list[str],
    warehouse_dir: str,
    archive_dir: str | None = None,
    error_dir: str | None = None,
    deterministic_ids: bool = False,
) -> dict[str, str]:
    """EP1 pipeline (SURVEY G3) over a batch of XML files:

    md5-skip → flatten → PCR-scoped overwrite of the per-tag lake
    (``overwrite.overwrite_pcrs``) → bookkeeping log → archive/error
    routing.  Returns {file: status}.

    Unlike the reference's file-at-a-time loop, the whole batch flattens in
    ONE distributed pass; per-file statuses are derived from the parse
    results.  Files that parse to zero elements get Error_Parsing_Empty and
    error-dir routing (parity: main_ingest.py:386-397).
    """
    from .flatten import flatten_xml_files
    from .overwrite import overwrite_pcrs

    statuses: dict[str, str] = {}
    todo, skipped = files_to_process(warehouse_dir, file_paths)
    for p in skipped:
        statuses[p] = "Skipped_MD5_Seen"

    for p in [p for p in todo if not os.path.exists(p)]:
        statuses[p] = STATUS_ERROR_NOT_FOUND
        del todo[p]
    if not todo:
        return statuses

    elements = flatten_xml_files(spark, list(todo), deterministic_ids=deterministic_ids)
    elements = elements.cache()
    try:
        parsed_files = {
            r["file"] for r in elements.select("file").distinct().collect()
        }
        overwrite_pcrs(elements, warehouse_dir)

        records = []
        for p, md5 in todo.items():
            ok = "file:" + os.path.abspath(p) in parsed_files
            status = STATUS_OK if ok else STATUS_ERROR_PARSE
            statuses[p] = status
            records.append((os.path.basename(p), md5, status))
        log_processed_files(spark, warehouse_dir, records)

        for p in todo:
            if statuses[p] == STATUS_OK and archive_dir:
                archive_file(p, archive_dir)
            elif statuses[p] != STATUS_OK and error_dir:
                move_to_error_directory(p, error_dir)
        return statuses
    finally:
        elements.unpersist()
