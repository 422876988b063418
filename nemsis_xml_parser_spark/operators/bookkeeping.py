"""File-level bookkeeping, idempotency and the ingest pipeline runner
(SURVEY B5/B8, D5/D6, G2/G3/G4).

Reference behavior: every processed XML file gets a row in
``XMLFilesProcessed`` (UUID, name, MD5, timestamp, status, schema version)
(/root/reference/main_ingest.py:67-98,648-655); the MD5 is recorded but
never checked — re-ingest is only neutralized by the PCR-scoped overwrite.
The rebuild records the same log AND uses it: ``files_to_process`` anti-joins
incoming files against already-succeeded MD5s, giving true skip-if-seen
idempotency on top of the overwrite semantics.  A file's element rows
carry ``flatten.row_file`` of its path, which matches statuses to files.

The lake layout is plain parquet directories under a warehouse root:

    {root}/_files_processed/          bookkeeping log (append, one file per batch)
    {root}/{tag}/                     one directory per dynamic table

The flatten and write tasks read the batch's files, the spool and the
lake's part files by path with pyarrow, so the lake must be a path every
executor sees (local or a shared mount); readers need only
``read.parquet``.  On Delta/Iceberg the rewrite becomes ``MERGE``.
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

from .. import catalog
from ..schema import (
    FILES_PROCESSED_SCHEMA,
    INGESTION_LOGIC_VERSION,
    STATUS_ERROR_MD5,
    STATUS_ERROR_NOT_FOUND,
    STATUS_ERROR_PARSE,
    STATUS_OK,
    STATUS_SKIPPED,
)
from .flatten import BatchSummary, row_file, spool_xml_files
from .overwrite import overwrite_pcrs


def file_md5(path: str) -> str | None:
    """MD5 of a file's bytes, read in chunks, or None when it cannot be
    read (parity: the reference's main_ingest.py:39-50)."""
    try:
        with open(path, "rb") as f:
            return hashlib.file_digest(f, "md5").hexdigest()
    except OSError:
        return None


def files_processed_path(warehouse_dir: str) -> str:
    return os.path.join(warehouse_dir, "_files_processed")


def log_processed_files(
    warehouse_dir: str, records: list[tuple[str, str | None, str]]
) -> None:
    """Append (file_name, md5, status) records to the bookkeeping table
    (parity: main_ingest.py:67-98 + database_setup.py:80-95) as ONE parquet
    file written with pyarrow on the driver (no Spark job), so the log
    every later ``files_to_process`` lists grows by one file per batch
    (``catalog.append_part_file``)."""
    now = dt.datetime.now(dt.timezone.utc).isoformat()
    names = FILES_PROCESSED_SCHEMA.fieldNames()
    rows = [
        dict(zip(names, (str(uuid.uuid4()), name, md5, now, status, INGESTION_LOGIC_VERSION)))
        for name, md5, status in records
    ]
    catalog.append_part_file(
        files_processed_path(warehouse_dir),
        pa.Table.from_pylist(rows, schema=to_arrow_schema(FILES_PROCESSED_SCHEMA)),
    )


def read_files_processed(spark: SparkSession, warehouse_dir: str) -> DataFrame:
    path = files_processed_path(warehouse_dir)
    if not os.path.isdir(path):  # first run: empty log
        return spark.createDataFrame([], schema=FILES_PROCESSED_SCHEMA)
    return spark.read.schema(FILES_PROCESSED_SCHEMA).parquet(path)


def files_to_process(
    warehouse_dir: str, file_paths: list[str]
) -> tuple[dict[str, str | None], dict[str, str]]:
    """Split incoming files into ({todo: md5}, {skipped: md5}) by MD5 anti-join
    against previously-succeeded files (SURVEY D5 — the check the reference
    records data for but never performs) and against the earlier todo
    files of the same batch, so a byte-identical copy in one batch is
    skipped as it would be in the next one.  A file that cannot be read
    (MD5 None) is never a duplicate.  Each file is hashed once; the todo
    hash is the one the log records.  The log's two columns are read with
    pyarrow: the set ends up on the driver anyway, so it costs no Spark
    job."""
    path = files_processed_path(warehouse_dir)
    seen = set()
    if os.path.isdir(path):  # no directory on the first run
        # with a schema, a log directory holding no file yet reads as empty
        log = pq.read_table(
            path, schema=pa.schema([("md5_hash", pa.string()), ("status", pa.string())])
        )
        seen = set(log.filter(pc.equal(log["status"], STATUS_OK))["md5_hash"].to_pylist())
    todo, skipped = {}, {}
    for p in file_paths:
        md5 = file_md5(p)
        if md5 is not None and md5 in seen:
            skipped[p] = md5
        else:
            todo[p] = md5
            seen.add(md5)
    return todo, skipped


def archive_file(path: str, archive_dir: str) -> str:
    """Move a processed file to the archive or error directory (parity:
    main_ingest.py:101-139), never over a file already there: a taken name
    gets a timestamp, and a taken timestamped name a counter as well."""
    os.makedirs(archive_dir, exist_ok=True)
    name = os.path.basename(path)
    root, ext = os.path.splitext(name)
    stamp = dt.datetime.now().strftime("%Y%m%d%H%M%S")
    dest, n = os.path.join(archive_dir, name), 0
    while os.path.exists(dest):
        dest = os.path.join(archive_dir, f"{root}_{stamp}{f'_{n}' if n else ''}{ext}")
        n += 1
    shutil.move(path, dest)
    return dest


def last_versions(summary: BatchSummary, order: list[str]) -> dict[str, str]:
    """The owner file of each PCR that several files of ``order`` (the
    batch's paths, in the caller's order) carry: the last of them, so each
    PCR keeps the rows of its last file, as when the files are ingested
    one at a time (``overwrite.overwrite_pcrs`` drops the others)."""
    rank = {row_file(p): i for i, p in enumerate(order)}
    return {
        k: max(files, key=rank.__getitem__)
        for k, files in summary.key_files.items() if len(files) > 1
    }


def ingest_xml_files(
    spark: SparkSession,
    file_paths: list[str],
    warehouse_dir: str,
    archive_dir: str | None = None,
    error_dir: str | None = None,
    deterministic_ids: bool = False,
) -> dict[str, str]:
    """EP1 pipeline (SURVEY G3) over a batch of XML files:

    scratch clean-up → md5-skip → flatten into the spool → PCR-scoped
    overwrite of the per-tag lake (``overwrite.overwrite_pcrs``) →
    bookkeeping log → archive/error routing.  Returns {file: status}.  It
    is the one ingest path: the CLI calls it per batch, and the
    watched-directory stream (``streaming.ingest.start_warehouse_stream``)
    per microbatch.

    Unlike the reference's file-at-a-time loop, the whole batch flattens in
    ONE distributed pass, which writes the batch's rows as Arrow files
    into the lake's spool directory (``catalog.SPOOL_DIR``) and folds the
    batch summary (``flatten.spool_xml_files``): its tasks read exactly the
    batch's files, by path, so a name is never a glob or a URI.  The
    overwrite's write, which reads the spool, is the only other Spark job,
    and no row of the batch enters the JVM.  The spool is deleted when the
    batch ends, failed or not; scratch directories a killed batch left
    behind, the spool among them, are cleaned up first
    (``catalog.clean_scratch_dirs``).  The batch ends as the
    file-at-a-time loop would: a byte-identical copy of an earlier file is
    skipped, and a PCR that several files carry keeps only the last one's
    rows (``last_versions``).  Per-file statuses come from the
    summary's files: files that parse to zero elements get
    Error_Parsing_Empty and error-dir routing (parity:
    main_ingest.py:386-397), and a path that exists but cannot be read (its
    MD5 is None, say a directory named ``d.xml``) gets Error_MD5 and
    error-dir routing without entering the flatten, so the rest of the
    batch is ingested; routing never moves a file over one already there
    (``archive_file``).  Every file of the batch, skipped and missing
    ones too, gets its status and MD5 in the log, as each file does in the
    reference (main_ingest.py:648-688).
    """
    catalog.clean_scratch_dirs(warehouse_dir)
    todo, skipped = files_to_process(warehouse_dir, file_paths)
    records = [(p, md5, STATUS_SKIPPED) for p, md5 in skipped.items()]
    for p in [p for p, md5 in todo.items() if md5 is None]:
        missing = not os.path.exists(p)
        records.append((p, todo.pop(p), STATUS_ERROR_NOT_FOUND if missing else STATUS_ERROR_MD5))
    if todo:
        spool = os.path.join(warehouse_dir, catalog.SPOOL_DIR)
        try:
            spooled, summary = spool_xml_files(spark, list(todo), spool, deterministic_ids)
            overwrite_pcrs(spark, spooled, warehouse_dir, summary,
                           last_versions(summary, list(todo)))
        finally:
            shutil.rmtree(spool, ignore_errors=True)
        records += [
            (p, md5, STATUS_OK if row_file(p) in summary.files else STATUS_ERROR_PARSE)
            for p, md5 in todo.items()
        ]
    if records:
        log_processed_files(warehouse_dir, [(os.path.basename(p), m, s) for p, m, s in records])
    for p, _, status in records:
        if status == STATUS_OK and archive_dir:
            archive_file(p, archive_dir)
        elif status in (STATUS_ERROR_PARSE, STATUS_ERROR_MD5) and error_dir:
            archive_file(p, error_dir)
    return {p: s for p, _, s in records}
