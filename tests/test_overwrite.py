"""Key-scoped overwrite semantics (SURVEY D2/D3, FIXTURES F1 re-ingest),
exercised through ``overwrite_pcrs`` on a per-tag lake — the code batch and
streaming ingest run."""

import os

import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.catalog import list_table_dirs
from nemsis_xml_parser_spark.naming import value_column_name
from nemsis_xml_parser_spark.operators.bookkeeping import ingest_xml_files
from nemsis_xml_parser_spark.operators.flatten import (
    BatchSummary,
    flatten_batch,
    flatten_xml_strings,
    summary_entries,
)
from nemsis_xml_parser_spark.operators.overwrite import overwrite_pcrs
from nemsis_xml_parser_spark.schema import STATUS_ERROR_PARSE, STATUS_OK
from tests.conftest import NEMSIS_XML

pytestmark = pytest.mark.etl

PCR1 = "6e5d2c1a-0000-4000-8000-000000000001"


def _lake(spark, lake):
    """Every lake row as (element_tag, pcr_uuid, value), the canonical
    element column names."""
    frames = [
        spark.read.parquet(os.path.join(lake, t)).select(
            F.col("original_tag_name").alias("element_tag"),
            F.col("pcr_uuid_context").alias("pcr_uuid"),
            F.col(value_column_name(t)).alias("value"),
        )
        for t in list_table_dirs(lake)
    ]
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out


def summarize(els):
    """The batch summary of ``els``, from the flatten tasks' fold run over
    its rows on the driver."""
    return BatchSummary.from_entries(summary_entries(els.collect()))


def overwrite(els, lake):
    overwrite_pcrs(els, lake, summarize(els))


def test_reingest_same_keys_replaces(spark, tmp_path):
    lake = str(tmp_path / "lake")
    els = flatten_xml_strings(spark, [("f.xml", NEMSIS_XML)]).cache()
    n_keyed = els.where(F.col("pcr_uuid").isNotNull()).count()
    n_null = els.where(F.col("pcr_uuid").isNull()).count()
    overwrite(els, lake)
    overwrite(els, lake)
    twice = _lake(spark, lake)
    # keyed rows are replaced, not duplicated
    assert twice.where(F.col("pcr_uuid").isNotNull()).count() == n_keyed
    # NULL-keyed rows duplicate — faithful to the reference, whose
    # delete-by-UUID can't target them (main_ingest.py:312-316); the
    # pipeline's MD5 skip (D5) covers the identical-file case instead
    assert twice.where(F.col("pcr_uuid").isNull()).count() == 2 * n_null
    # keyed content identical to a single ingest
    assert (
        twice.where(F.col("pcr_uuid").isNotNull())
        .exceptAll(
            els.where(F.col("pcr_uuid").isNotNull()).select(
                "element_tag", "pcr_uuid", "value"
            )
        )
        .count()
        == 0
    )


def test_overwrite_keeps_other_keys_and_nulls(spark, tmp_path):
    lake = str(tmp_path / "lake")
    xml_a = '<r><PatientCareReport UUID="A"><x>1</x></PatientCareReport><keep>y</keep></r>'
    xml_b = '<r><PatientCareReport UUID="A"><x>2</x></PatientCareReport></r>'
    xml_c = '<r><PatientCareReport UUID="C"><x>3</x></PatientCareReport></r>'
    for name, xml in (("a.xml", xml_a), ("c.xml", xml_c), ("b.xml", xml_b)):
        overwrite(flatten_xml_strings(spark, [(name, xml)]), lake)
    merged = _lake(spark, lake)
    vals = {
        (r["pcr_uuid"], r["value"])
        for r in merged.where(F.col("element_tag") == "x").collect()
    }
    assert vals == {("A", "2"), ("C", "3")}  # A replaced, C kept
    # NULL-keyed rows (outside any report) always survive
    assert merged.where(F.col("element_tag") == "keep").count() == 1


def test_correction_without_a_group_clears_its_tables(spark, tmp_path):
    """The key set is the batch's, not each table's: a correction of PCR1
    with no vitals group writes no vitals rows, yet PCR1's old vitals rows
    must go.  Keys derived from each table's own new rows would keep them."""
    wh = str(tmp_path / "wh")
    first = tmp_path / "first.xml"
    first.write_text(NEMSIS_XML)
    vitals = NEMSIS_XML[NEMSIS_XML.index("      <eVitals>"):
                        NEMSIS_XML.index("</eVitals>") + len("</eVitals>\n")]
    correction = tmp_path / "correction.xml"
    correction.write_text(
        NEMSIS_XML.replace(vitals, "").replace("rec-1", "rec-1-v2")
    )
    assert "eVitals" not in correction.read_text()

    ingest_xml_files(spark, [str(first)], wh, deterministic_ids=True)
    vitals_tables = [t for t in list_table_dirs(wh) if t.startswith("evitals")]
    assert len(vitals_tables) == 5
    for t in vitals_tables:
        v = spark.read.parquet(os.path.join(wh, t))
        assert v.where(F.col("pcr_uuid_context") == PCR1).count() == 1

    statuses = ingest_xml_files(spark, [str(correction)], wh, deterministic_ids=True)
    assert statuses[str(correction)] == STATUS_OK
    for t in vitals_tables:
        assert spark.read.parquet(os.path.join(wh, t)).count() == 0, t
    rec = spark.read.parquet(os.path.join(wh, "erecord_01"))
    assert {r["erecord_01_value"] for r in rec.collect()} == {"rec-1-v2", "rec-2"}


def _report(uuid, tags, value):
    body = "".join(f"<{t}>{value}</{t}>" for t in tags)
    return f'<PatientCareReport UUID="{uuid}">{body}</PatientCareReport>'


def _jobs_per_overwrite(spark, lake, n_tables):
    """Spark jobs of one overwrite_pcrs call that corrects a PCR in a lake
    of ``n_tables`` tables (root + report + leaf tags)."""
    tags = [f"x{i}" for i in range(n_tables - 2)]
    first = f"<r>{_report('A', tags, 1)}{_report('B', tags, 1)}</r>"
    overwrite(flatten_xml_strings(spark, [("a.xml", first)]), lake)
    assert len(list_table_dirs(lake)) == n_tables
    batch = flatten_xml_strings(spark, [("b.xml", f"<r>{_report('A', tags, 2)}</r>")])
    batch = batch.cache()
    summary = summarize(batch)
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None) or [-1])
    overwrite_pcrs(batch, lake, summary)
    jobs = max(tracker.getJobIdsForGroup(None) or [-1]) - before
    batch.unpersist()
    return jobs


def test_job_count_does_not_grow_with_table_count(spark, tmp_path):
    """Every table's rewrite runs in one write job, and the batch summary
    is given, so a lake of 12 tables costs one job per batch, as a lake of
    3 does."""
    small = _jobs_per_overwrite(spark, str(tmp_path / "small"), 3)
    large = _jobs_per_overwrite(spark, str(tmp_path / "large"), 12)
    assert small == large == 1, (small, large)


def test_new_attribute_widens_existing_table(spark, tmp_path):
    lake = str(tmp_path / "lake")
    first = '<r><PatientCareReport UUID="A"><x a="1">v</x><y>w</y></PatientCareReport></r>'
    second = '<r><PatientCareReport UUID="B"><x b="2">u</x></PatientCareReport></r>'
    overwrite(flatten_xml_strings(spark, [("1.xml", first)]), lake)
    x_cols = spark.read.parquet(os.path.join(lake, "x")).columns
    y_cols = spark.read.parquet(os.path.join(lake, "y")).columns
    assert x_cols == ["element_id", "parent_element_id", "pcr_uuid_context",
                      "original_tag_name", "x_value", "a"]

    overwrite(flatten_xml_strings(spark, [("2.xml", second)]), lake)
    x = spark.read.parquet(os.path.join(lake, "x"))
    assert x.columns == x_cols + ["b"]
    got = {(r["pcr_uuid_context"], r["x_value"], r["a"], r["b"]) for r in x.collect()}
    assert got == {("A", "v", "1", None), ("B", "u", None, "2")}
    # a table the batch does not touch keeps its exact column list and rows
    y = spark.read.parquet(os.path.join(lake, "y"))
    assert y.columns == y_cols
    assert [(r["pcr_uuid_context"], r["y_value"]) for r in y.collect()] == [("A", "w")]


def _inodes(lake):
    return {
        (t, f): os.stat(os.path.join(lake, t, f)).st_ino
        for t in list_table_dirs(lake)
        for f in os.listdir(os.path.join(lake, t))
    }


def test_write_partition_retry_replaces_its_own_file(tmp_path):
    """A retried task (same partition id) leaves one file per table, with
    its new rows and the kept rows of its old files once: rows of a key-set
    PCR go (a uuid holding ' too), a NULL-PCR row stays, a column the old
    file lacks is NULL, and a table the batch has no rows for keeps its
    kept rows."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from nemsis_xml_parser_spark.operators.overwrite import (
        TABLE,
        VALUE,
        part_file_name,
        write_partition,
    )

    common = ["element_id", "parent_element_id", "pcr_uuid_context", "original_tag_name"]
    layouts = {
        t: (str(tmp_path / t), common + [f"{t}_value", "a"], common + [VALUE, "_a0"])
        for t in ("p", "q")
    }
    layouts["r"] = (str(tmp_path / "r"), common + ["r_value"], None)
    batch = pa.RecordBatch.from_pydict({
        TABLE: ["p", "q", "p"],
        "element_id": ["1", "2", "3"],
        "parent_element_id": [None, "1", "1"],
        "pcr_uuid_context": ["A", "A", None],
        "original_tag_name": ["p", "q", "p"],
        VALUE: ["v1", "v2", "v3"],
        "_a0": ["x", None, None],
    })
    old = {}
    for t, pcrs in (("p", ["A", None, "it's", "B"]), ("r", ["it's", "B"])):
        old[t] = str(tmp_path / f"old_{t}.parquet")
        pq.write_table(pa.table({
            "element_id": [f"{t}{i}" for i in range(len(pcrs))],
            "parent_element_id": [None] * len(pcrs),
            "pcr_uuid_context": pcrs,
            "original_tag_name": [t] * len(pcrs),
            f"{t}_value": ["old"] * len(pcrs),
        }), old[t])
    for _ in range(2):
        assert write_partition(
            [batch], layouts, 7, [("p", old["p"]), ("r", old["r"])], ["A", "it's"]
        ) == [("p", 4), ("q", 1), ("r", 1)]
    for t, n in (("p", 4), ("q", 1), ("r", 1)):
        assert os.listdir(tmp_path / t) == [part_file_name(7)]
        got = pq.read_table(tmp_path / t / part_file_name(7))
        assert got.column_names == layouts[t][1]
        assert got.num_rows == n
    p = pq.read_table(tmp_path / "p" / part_file_name(7)).to_pylist()
    assert sorted((r["element_id"], r["pcr_uuid_context"], r["a"]) for r in p) == [
        ("1", "A", "x"), ("3", None, None), ("p1", None, None), ("p3", "B", None)
    ]
    r = pq.read_table(tmp_path / "r" / part_file_name(7)).to_pylist()
    assert [(x["element_id"], x["pcr_uuid_context"]) for x in r] == [("r1", "B")]


def test_batch_without_keys_rewrites_only_its_own_tables(spark, tmp_path):
    """An empty key set deletes nothing: a batch of only malformed files
    touches no table, and a header-only batch without a PCR rewrites only
    the tables it has rows for (file inodes compared before and after)."""
    wh = str(tmp_path / "wh")
    first = tmp_path / "first.xml"
    first.write_text(NEMSIS_XML)
    ingest_xml_files(spark, [str(first)], wh, deterministic_ids=True)
    before = _inodes(wh)

    bad = tmp_path / "bad.xml"
    bad.write_text("<open><unclosed>")
    assert ingest_xml_files(spark, [str(bad)], wh)[str(bad)] == STATUS_ERROR_PARSE
    assert _inodes(wh) == before

    header = tmp_path / "header.xml"
    header.write_text(
        '<EMSDataSet xmlns="http://www.nemsis.org"><Header><DemographicGroup>'
        "<dAgency.01>AG-002</dAgency.01></DemographicGroup></Header></EMSDataSet>"
    )
    assert ingest_xml_files(spark, [str(header)], wh)[str(header)] == STATUS_OK
    after = _inodes(wh)
    changed = {t for t, f in before.keys() | after.keys()
               if before.get((t, f)) != after.get((t, f))}
    assert changed == {"emsdataset", "header", "demographicgroup", "dagency_01"}
    agency = spark.read.parquet(os.path.join(wh, "dagency_01"))
    assert {r["dagency_01_value"] for r in agency.collect()} == {"AG-001", "AG-002"}


def test_one_file_batch_spreads_old_files_over_all_tasks(spark, tmp_path):
    """The write tasks read the lake's old part files themselves, so a
    one-file batch (one partition) still rewrites the lake in
    defaultParallelism tasks, not in one."""
    lake = str(tmp_path / "lake")
    n = spark.sparkContext.defaultParallelism
    tags = ["x0", "x1", "x2"]
    reports = "".join(_report(f"P{i}", tags, 1) for i in range(4 * n))
    overwrite(flatten_xml_strings(spark, [("a.xml", f"<r>{reports}</r>")]), lake)
    assert len([f for f in _inodes(lake) if f[1].endswith(".parquet")]) >= n

    path = tmp_path / "b.xml"
    path.write_text(f"<r>{_report('P0', tags, 2)}</r>")
    batch, summary = flatten_batch(spark, [str(path)], deterministic_ids=True)
    assert batch.rdd.getNumPartitions() == 1
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None))
    overwrite_pcrs(batch, lake, summary)
    batch.unpersist()
    assert max(tracker.getJobIdsForGroup(None)) == before + 1
    write_job = tracker.getJobInfo(before + 1)
    assert tracker.getStageInfo(max(write_job.stageIds)).numTasks == n
    x0 = spark.read.parquet(os.path.join(lake, "x0"))
    assert x0.count() == 4 * n
    assert x0.where(F.col("pcr_uuid_context") == "P0").first()["x0_value"] == "2"
