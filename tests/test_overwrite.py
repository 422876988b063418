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
