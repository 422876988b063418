"""End-to-end EP1 pipeline (SURVEY G3): files → warehouse → bookkeeping →
archive/error routing → md5-skip idempotency."""

import os

import pyspark.sql.functions as F

from nemsis_xml_parser_spark.operators.bookkeeping import (
    file_md5,
    files_to_process,
    ingest_xml_files,
    read_files_processed,
)
from nemsis_xml_parser_spark.schema import STATUS_ERROR_PARSE, STATUS_OK
from tests.conftest import NEMSIS_XML


def _write(tmp_path, name, content):
    p = tmp_path / name
    p.write_text(content)
    return str(p)


def test_end_to_end_ingest(spark, tmp_path):
    wh = str(tmp_path / "wh")
    archive = str(tmp_path / "archive")
    errors = str(tmp_path / "errors")
    good = _write(tmp_path, "good.xml", NEMSIS_XML)
    bad = _write(tmp_path, "bad.xml", "<open><unclosed>")

    statuses = ingest_xml_files(
        spark, [good, bad], wh, archive_dir=archive, error_dir=errors,
        deterministic_ids=True,
    )
    assert statuses[good] == STATUS_OK
    assert statuses[bad] == STATUS_ERROR_PARSE

    # warehouse tables exist with the golden shape
    v = spark.read.parquet(os.path.join(wh, "evitals_01"))
    assert v.count() == 1
    assert "evitals_01_value" in v.columns

    # bookkeeping log has both rows with md5s
    log = read_files_processed(spark, wh)
    recs = {r["original_file_name"]: r for r in log.collect()}
    assert recs["good.xml"]["status"] == STATUS_OK
    assert recs["bad.xml"]["status"] == STATUS_ERROR_PARSE
    assert recs["good.xml"]["md5_hash"] is not None

    # routing: good archived, bad moved to errors
    assert os.listdir(archive) == ["good.xml"]
    assert os.listdir(errors) == ["bad.xml"]


def test_reingest_md5_skip_and_overwrite(spark, tmp_path):
    wh = str(tmp_path / "wh")
    f1 = _write(tmp_path, "r1.xml", NEMSIS_XML)
    ingest_xml_files(spark, [f1], wh, deterministic_ids=True)
    before = spark.read.parquet(os.path.join(wh, "erecord_01")).count()

    # identical content again → skipped by md5 (file still present: no archive_dir)
    statuses = ingest_xml_files(spark, [f1], wh, deterministic_ids=True)
    assert statuses[f1] == "Skipped_MD5_Seen"

    # changed content, same PCR UUID → overwrite replaces those rows
    changed = NEMSIS_XML.replace("rec-1", "rec-1-v2")
    f2 = _write(tmp_path, "r2.xml", changed)
    statuses = ingest_xml_files(spark, [f2], wh, deterministic_ids=True)
    assert statuses[f2] == STATUS_OK
    after = spark.read.parquet(os.path.join(wh, "erecord_01"))
    assert after.count() == before
    vals = {r["erecord_01_value"] for r in after.collect()}
    assert vals == {"rec-1-v2", "rec-2"}


def test_files_to_process_runs_no_spark_job(spark, tmp_path):
    """The MD5 skip reads the log's hash and status with pyarrow: it runs
    no Spark job, and a file logged as failed is not skipped."""
    wh = str(tmp_path / "wh")
    seen = _write(tmp_path, "seen.xml", NEMSIS_XML)
    failed = _write(tmp_path, "failed.xml", "<open><unclosed>")
    ingest_xml_files(spark, [seen, failed], wh, deterministic_ids=True)
    new = _write(tmp_path, "new.xml", NEMSIS_XML.replace("rec-1", "rec-1-v2"))

    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None) or [-1])
    todo, skipped = files_to_process(wh, [seen, failed, new])
    assert max(tracker.getJobIdsForGroup(None) or [-1]) == before
    assert skipped == [seen]
    assert todo == {failed: file_md5(failed), new: file_md5(new)}


def test_md5_matches_hashlib(tmp_path):
    p = _write(tmp_path, "x.bin", "hello world")
    import hashlib

    assert file_md5(str(p)) == hashlib.md5(b"hello world").hexdigest()


def test_crashed_staging_dir_not_treated_as_table(spark, tmp_path):
    """A '{table}__staging' directory left by a crash between staging write
    and rename must be cleaned up, not merged as a real dynamic table."""
    from nemsis_xml_parser_spark.catalog import list_table_dirs

    wh = str(tmp_path / "wh")
    good = _write(tmp_path, "good.xml", NEMSIS_XML)
    ingest_xml_files(spark, [good], wh, deterministic_ids=True)

    # simulate a crash leftover
    stale = os.path.join(wh, "evitals_01__staging")
    os.makedirs(stale)
    spark.range(1).write.mode("overwrite").parquet(stale)
    stale_mig = os.path.join(wh, "header__migrating")
    spark.range(1).write.mode("overwrite").parquet(stale_mig)

    assert "evitals_01__staging" not in list_table_dirs(wh)
    assert "header__migrating" not in list_table_dirs(wh)

    good2 = _write(tmp_path, "good2.xml", NEMSIS_XML.replace(
        "6e5d2c1a-0000-4000-8000-000000000001",
        "6e5d2c1a-0000-4000-8000-00000000000a",
    ))
    statuses = ingest_xml_files(spark, [good2], wh, deterministic_ids=True)
    assert statuses[good2] == STATUS_OK
    # scratch dirs were cleaned on ingest, and no table named after them exists
    assert not os.path.exists(stale)
    assert not os.path.exists(stale_mig)
    v = spark.read.parquet(os.path.join(wh, "evitals_01"))
    assert v.count() == 2
