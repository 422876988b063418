"""End-to-end EP1 pipeline (SURVEY G3): files → warehouse → bookkeeping →
archive/error routing → md5-skip idempotency."""

import datetime as dt
import os
import types

import pyarrow.parquet as pq
import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.catalog import list_table_dirs
from nemsis_xml_parser_spark.operators import bookkeeping
from nemsis_xml_parser_spark.operators.bookkeeping import (
    archive_file,
    file_md5,
    files_processed_path,
    files_to_process,
    ingest_xml_files,
    log_processed_files,
    read_files_processed,
)
from nemsis_xml_parser_spark.schema import (
    FILES_PROCESSED_SCHEMA,
    STATUS_ERROR_MD5,
    STATUS_ERROR_PARSE,
    STATUS_OK,
)
from tests.conftest import NEMSIS_XML

pytestmark = pytest.mark.etl


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


def test_unreadable_path_fails_alone(spark, tmp_path):
    """A path that exists but cannot be read (a directory named like an
    XML file) gets Error_MD5, is logged and routed to the error dir, and
    the rest of its batch is ingested and archived."""
    wh = str(tmp_path / "wh")
    archive = str(tmp_path / "archive")
    errors = str(tmp_path / "errors")
    good = _write(tmp_path, "good.xml", NEMSIS_XML)
    unreadable = tmp_path / "d.xml"
    unreadable.mkdir()

    statuses = ingest_xml_files(
        spark, [str(unreadable), good], wh, archive_dir=archive, error_dir=errors,
        deterministic_ids=True,
    )
    assert statuses == {str(unreadable): STATUS_ERROR_MD5, good: STATUS_OK}
    recs = {r["original_file_name"]: r for r in read_files_processed(spark, wh).collect()}
    assert {n: (r["status"], r["md5_hash"]) for n, r in recs.items()} == {
        "d.xml": (STATUS_ERROR_MD5, None), "good.xml": (STATUS_OK, file_md5(
            os.path.join(archive, "good.xml")))}
    assert spark.read.parquet(os.path.join(wh, "evitals_01")).count() == 1
    assert os.listdir(archive) == ["good.xml"]
    assert os.listdir(errors) == ["d.xml"]


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
    assert skipped == {seen: file_md5(seen)}
    assert todo == {failed: file_md5(failed), new: file_md5(new)}


def test_log_processed_files_runs_no_spark_job(spark, tmp_path):
    """The bookkeeping log is appended with pyarrow: no Spark job, one new
    file per batch, and both readers see the new records next to the
    ones an older Spark write left in the log."""
    wh = str(tmp_path / "wh")
    older = [("old-id", "old.xml", "0" * 32, "2024-01-01T00:00:00+00:00",
              STATUS_OK, "v0")]
    spark.createDataFrame(older, FILES_PROCESSED_SCHEMA).coalesce(1).write.parquet(
        files_processed_path(wh)
    )
    new = _write(tmp_path, "new.xml", NEMSIS_XML)

    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None) or [-1])
    log_processed_files(wh, [("new.xml", file_md5(new), STATUS_OK)])
    log_processed_files(wh, [("bad.xml", None, STATUS_ERROR_PARSE)])
    assert max(tracker.getJobIdsForGroup(None) or [-1]) == before

    parts = [f for f in os.listdir(files_processed_path(wh)) if f.endswith(".parquet")]
    assert len(parts) == 3
    recs = {r["original_file_name"]: r for r in read_files_processed(spark, wh).collect()}
    assert sorted(recs) == ["bad.xml", "new.xml", "old.xml"]
    assert recs["new.xml"]["md5_hash"] == file_md5(new)
    assert recs["bad.xml"]["md5_hash"] is None
    assert recs["bad.xml"]["status"] == STATUS_ERROR_PARSE
    # the MD5 skip reads the same log
    assert files_to_process(wh, [new]) == ({}, {new: file_md5(new)})


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


def _mixed_batch(tmp_path):
    """Six files: mixed-case tags of one table, attributes named like a
    common column and like the table's value column, rows outside any
    report (NULL PCR), and one malformed file."""
    docs = {
        "a.xml": NEMSIS_XML,
        "b.xml": '<r><PatientCareReport UUID="B"><x element_id="1" x_value="2" '
                 'Code="3">v</x><X code="4"/></PatientCareReport><loose y="5"/></r>',
        "c.xml": '<r><patientcarereport UUID="lower-is-no-pcr"><X X_Value="6"/>'
                 "</patientcarereport></r>",
        "d.xml": '<r><PatientCareReport UUID="D"><eVitals.01>1</eVitals.01>'
                 '</PatientCareReport><PatientCareReport UUID="B"/></r>',
        "e.xml": "<open><unclosed>",
        "f.xml": '<R><Header><PARENT_ELEMENT_ID a="1"/></Header></R>',
    }
    return [_write(tmp_path, name, text) for name, text in docs.items()]


def test_batch_summary_matches_spark_passes(spark, tmp_path):
    """The summary the spool tasks fold while they write the spool equals
    what the separate Spark passes over the flattened batch return:
    tables, attribute columns, distinct non-NULL PCR keys and files."""
    from nemsis_xml_parser_spark.operators.flatten import flatten_xml_files, spool_xml_files
    from nemsis_xml_parser_spark.operators.warehouse import (
        attribute_columns_per_table,
        table_names,
    )

    paths = _mixed_batch(tmp_path)
    spooled, summary = spool_xml_files(spark, paths, str(tmp_path / "spool"))
    assert len(spooled) > 1
    elements = flatten_xml_files(spark, paths).cache()
    try:
        keys = {r[0] for r in elements.where(F.col("pcr_uuid").isNotNull())
                .select("pcr_uuid").distinct().collect()}
        files = {r[0] for r in elements.select("file").distinct().collect()}
        assert summary.tables == table_names(elements)
        assert summary.attributes == attribute_columns_per_table(elements)
        assert summary.keys == sorted(keys)
        assert summary.files == files
    finally:
        elements.unpersist()
    # the pins the passes agree on
    assert summary.keys == ["6e5d2c1a-0000-4000-8000-000000000001",
                            "6e5d2c1a-0000-4000-8000-000000000002", "B", "D"]
    assert summary.attributes["x"] == ["code"]
    assert summary.attributes["parent_element_id"] == ["a"]
    assert len(summary.files) == 5
    assert not any(f.endswith("e.xml") for f in summary.files)


def test_batch_summary_survives_a_retried_fold(spark, tmp_path):
    """A retried task adds its summary entries again and rewrites its
    spool file: a spool task run twice over one assignment, folding into
    one accumulator, gives the summary of the distributed batch and leaves
    one spool file, holding every row of the batch once."""
    import pyarrow as pa

    from nemsis_xml_parser_spark.operators.flatten import (
        BatchSummary,
        _spool_task,
        spool_xml_files,
        spool_file_name,
        summary_accumulator,
    )

    paths = _mixed_batch(tmp_path)
    spooled, summary = spool_xml_files(spark, paths, str(tmp_path / "spool"),
                                       deterministic_ids=True)
    acc = summary_accumulator(spark)
    retried = tmp_path / "retried"
    retried.mkdir()
    task = _spool_task([paths], True, str(retried), acc)
    for _ in range(2):
        assert len(list(task(iter([pa.record_batch({"id": [0]})])))) == 1
    assert BatchSummary.from_entries(acc.value) == summary
    assert os.listdir(retried) == [spool_file_name(0)]
    one = pa.ipc.open_file(str(retried / spool_file_name(0))).read_all()
    every = pa.concat_tables(pa.ipc.open_file(p).read_all() for p in spooled)
    assert sorted(one["element_id"].to_pylist()) == sorted(every["element_id"].to_pylist())


def test_ingest_runs_two_spark_jobs(spark, tmp_path):
    """A batch into an existing lake runs one job that flattens, spools
    and summarizes it, and one write job: the batch's tables, attribute
    columns, PCR keys and parsed files cost no Spark pass of their own.
    A batch of 40 files, above Spark's 32-path parallel-listing
    threshold, runs no file-listing job either."""
    wh = str(tmp_path / "wh")
    ingest_xml_files(spark, [_write(tmp_path, "first.xml", NEMSIS_XML)], wh,
                     deterministic_ids=True)
    batch = [
        _write(tmp_path, "fix.xml", NEMSIS_XML.replace("rec-1", "rec-1-v2")),
        _write(tmp_path, "new.xml", NEMSIS_XML.replace("6e5d2c1a-", "7e5d2c1a-")),
    ]

    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None) or [-1])
    statuses = ingest_xml_files(spark, batch, wh, deterministic_ids=True)
    assert max(tracker.getJobIdsForGroup(None) or [-1]) - before <= 2
    assert set(statuses.values()) == {STATUS_OK}
    rec = spark.read.parquet(os.path.join(wh, "erecord_01"))
    assert sorted(r["erecord_01_value"] for r in rec.collect()) == [
        "rec-1", "rec-1-v2", "rec-2", "rec-2"]

    forty = [_write(tmp_path, f"more{i}.xml", NEMSIS_XML.replace("6e5d2c1a-", f"{i:08d}-"))
             for i in range(40)]
    before = max(tracker.getJobIdsForGroup(None))
    statuses = ingest_xml_files(spark, forty, wh, deterministic_ids=True)
    assert max(tracker.getJobIdsForGroup(None)) - before <= 2
    assert set(statuses.values()) == {STATUS_OK}
    assert spark.read.parquet(os.path.join(wh, "erecord_01")).count() == 4 + 2 * 40


@pytest.mark.parametrize(
    "name",
    ["q?.xml", "run[1].xml", "set{a,b}.xml", "2024-01-01T10:00:00.xml"],
    ids=["glob-wildcard", "glob-brackets", "glob-braces", "colons"],
)
def test_batch_reads_exactly_its_named_files(spark, tmp_path, name):
    """A batch reads the files it names, whatever characters their names
    hold: a name is neither a glob pattern nor a URI, so a file next to it
    that the name would match as a glob is not read."""
    wh = str(tmp_path / "wh")
    good = _write(tmp_path, "good.xml", NEMSIS_XML)
    odd = _write(tmp_path, name, NEMSIS_XML.replace("6e5d2c1a-", "7e5d2c1a-"))
    # "q?.xml" would match it as a glob; no batch names it
    _write(tmp_path, "qa.xml", NEMSIS_XML.replace("6e5d2c1a-", "9e5d2c1a-"))

    statuses = ingest_xml_files(spark, [good, odd], wh, deterministic_ids=True)
    assert statuses == {good: STATUS_OK, odd: STATUS_OK}
    pcrs = set()
    for t in list_table_dirs(wh):
        pcrs |= set(pq.read_table(os.path.join(wh, t), columns=["pcr_uuid_context"])
                    .column(0).to_pylist())
    assert pcrs - {None} == {f"{p}5d2c1a-0000-4000-8000-00000000000{i}"
                             for p in ("6e", "7e") for i in (1, 2)}
    log = [r["original_file_name"] for r in read_files_processed(spark, wh).collect()]
    assert sorted(log) == sorted(["good.xml", name])


def test_archive_never_replaces_an_archived_file(tmp_path, monkeypatch):
    """Files of one name from several directories, archived in the same
    second, each keep a file of their own in the archive."""
    class _Frozen(dt.datetime):
        @classmethod
        def now(cls, tz=None):
            return cls(2024, 1, 1, 10, 0, 0, tzinfo=tz)

    monkeypatch.setattr(bookkeeping, "dt", types.SimpleNamespace(
        datetime=_Frozen, timezone=dt.timezone))
    archive = str(tmp_path / "archive")
    for d in "abc":
        (tmp_path / d).mkdir()
        archive_file(_write(tmp_path / d, "export.xml", d), archive)
    assert sorted(os.listdir(archive)) == [
        "export.xml", "export_20240101100000.xml", "export_20240101100000_1.xml"]
    assert sorted(open(os.path.join(archive, f)).read() for f in os.listdir(archive)) == [
        "a", "b", "c"]


@pytest.mark.parametrize(
    "second, table, values",
    [
        # a byte-identical copy: skipped by MD5, the PCR's rows stay single
        (NEMSIS_XML, "evitals_01", ["2025-02-15T12:15:00-05:00"]),
        # a later version of the same PCRs: only its rows stay
        (NEMSIS_XML.replace("98", "99"), "evitals_10", ["99"]),
    ],
    ids=["identical-copy", "later-version"],
)
def test_one_batch_ends_like_one_file_at_a_time(spark, tmp_path, second, table, values):
    """Two files of one batch that carry the same PCRs leave the lake as
    ingesting them one after the other would: one copy of each PCR, from
    the later file; rows outside any report are kept from both."""
    wh = str(tmp_path / "wh")
    first = _write(tmp_path, "v1.xml", NEMSIS_XML)
    later = _write(tmp_path, "v2.xml", second)

    statuses = ingest_xml_files(spark, [first, later], wh, deterministic_ids=True)
    skipped = second == NEMSIS_XML
    assert statuses == {first: STATUS_OK,
                        later: "Skipped_MD5_Seen" if skipped else STATUS_OK}
    assert sorted(r[f"{table}_value"] for r in
                  spark.read.parquet(os.path.join(wh, table)).collect()) == values
    rec = spark.read.parquet(os.path.join(wh, "erecord_01")).collect()
    assert sorted(r["erecord_01_value"] for r in rec) == ["rec-1", "rec-2"]
    # the NULL-PCR header rows of every ingested file are kept
    agency = spark.read.parquet(os.path.join(wh, "dagency_01")).collect()
    assert len(agency) == (1 if skipped else 2)
