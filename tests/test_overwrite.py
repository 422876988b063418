"""Key-scoped overwrite semantics (SURVEY D2/D3, FIXTURES F1 re-ingest),
exercised through ``overwrite_pcrs`` on a per-tag lake — the code batch and
streaming ingest run."""

import os

import pyspark.sql.functions as F

from nemsis_xml_parser_spark.catalog import list_table_dirs
from nemsis_xml_parser_spark.naming import value_column_name
from nemsis_xml_parser_spark.operators.bookkeeping import ingest_xml_files
from nemsis_xml_parser_spark.operators.flatten import flatten_xml_strings
from nemsis_xml_parser_spark.operators.overwrite import (
    distinct_pcr_uuids,
    overwrite_pcrs,
)
from nemsis_xml_parser_spark.schema import STATUS_OK
from tests.conftest import NEMSIS_XML

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


def test_distinct_pcr_uuids(spark):
    els = flatten_xml_strings(spark, [("f.xml", NEMSIS_XML)])
    got = {r["pcr_uuid"] for r in distinct_pcr_uuids(els).collect()}
    assert got == {PCR1, "6e5d2c1a-0000-4000-8000-000000000002"}


def test_reingest_same_keys_replaces(spark, tmp_path):
    lake = str(tmp_path / "lake")
    els = flatten_xml_strings(spark, [("f.xml", NEMSIS_XML)]).cache()
    n_keyed = els.where(F.col("pcr_uuid").isNotNull()).count()
    n_null = els.where(F.col("pcr_uuid").isNull()).count()
    overwrite_pcrs(els, lake)
    overwrite_pcrs(els, lake)
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
        overwrite_pcrs(flatten_xml_strings(spark, [(name, xml)]), lake)
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
    overwrite_pcrs(flatten_xml_strings(spark, [("a.xml", first)]), lake)
    assert len(list_table_dirs(lake)) == n_tables
    batch = flatten_xml_strings(spark, [("b.xml", f"<r>{_report('A', tags, 2)}</r>")])
    batch = batch.cache()
    batch.count()
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None) or [-1])
    overwrite_pcrs(batch, lake)
    jobs = max(tracker.getJobIdsForGroup(None) or [-1]) - before
    batch.unpersist()
    return jobs


def test_job_count_does_not_grow_with_table_count(spark, tmp_path):
    """Every table's rewrite runs in one write job, so a lake of 12 tables
    costs the same jobs per batch as a lake of 3."""
    small = _jobs_per_overwrite(spark, str(tmp_path / "small"), 3)
    large = _jobs_per_overwrite(spark, str(tmp_path / "large"), 12)
    assert small == large, (small, large)


def test_new_attribute_widens_existing_table(spark, tmp_path):
    lake = str(tmp_path / "lake")
    first = '<r><PatientCareReport UUID="A"><x a="1">v</x><y>w</y></PatientCareReport></r>'
    second = '<r><PatientCareReport UUID="B"><x b="2">u</x></PatientCareReport></r>'
    overwrite_pcrs(flatten_xml_strings(spark, [("1.xml", first)]), lake)
    x_cols = spark.read.parquet(os.path.join(lake, "x")).columns
    y_cols = spark.read.parquet(os.path.join(lake, "y")).columns
    assert x_cols == ["element_id", "parent_element_id", "pcr_uuid_context",
                      "original_tag_name", "x_value", "a"]

    overwrite_pcrs(flatten_xml_strings(spark, [("2.xml", second)]), lake)
    x = spark.read.parquet(os.path.join(lake, "x"))
    assert x.columns == x_cols + ["b"]
    got = {(r["pcr_uuid_context"], r["x_value"], r["a"], r["b"]) for r in x.collect()}
    assert got == {("A", "v", "1", None), ("B", "u", None, "2")}
    # a table the batch does not touch keeps its exact column list and rows
    y = spark.read.parquet(os.path.join(lake, "y"))
    assert y.columns == y_cols
    assert [(r["pcr_uuid_context"], r["y_value"]) for r in y.collect()] == [("A", "w")]


def test_write_partition_retry_replaces_its_own_file(tmp_path):
    """A retried task (same partition id) leaves one file per table, with
    its rows once."""
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
    batch = pa.RecordBatch.from_pydict({
        TABLE: ["p", "q", "p"],
        "element_id": ["1", "2", "3"],
        "parent_element_id": [None, "1", "1"],
        "pcr_uuid_context": ["A", "A", None],
        "original_tag_name": ["p", "q", "p"],
        VALUE: ["v1", "v2", "v3"],
        "_a0": ["x", None, None],
    })
    for _ in range(2):
        assert write_partition([batch], layouts, 7) == [("p", 2), ("q", 1)]
    for t, n in (("p", 2), ("q", 1)):
        assert os.listdir(tmp_path / t) == [part_file_name(7)]
        got = pq.read_table(tmp_path / t / part_file_name(7))
        assert got.column_names == layouts[t][1]
        assert got.num_rows == n
    assert pq.read_table(tmp_path / "p").column("a").to_pylist() == ["x", None]
