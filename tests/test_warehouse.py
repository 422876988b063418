"""Warehouse fan-out tests (FIXTURES.md F3 golden shape)."""

import os

import pytest

from nemsis_xml_parser_spark.catalog import list_table_dirs
from nemsis_xml_parser_spark.operators.bookkeeping import ingest_xml_files
from nemsis_xml_parser_spark.operators.flatten import flatten_xml_files, flatten_xml_strings
from nemsis_xml_parser_spark.operators.warehouse import (
    attribute_columns_per_table,
    orphan_check,
    table_comments,
    table_frame,
    table_names,
)
from tests.conftest import NEMSIS_XML

pytestmark = pytest.mark.etl


@pytest.fixture(scope="module")
def elements(spark):
    return flatten_xml_strings(spark, [("fixture.xml", NEMSIS_XML)]).cache()


def test_table_names(elements):
    names = table_names(elements)
    assert "evitals_01" in names
    assert "patientcarereport" in names
    assert "emsdataset" in names


def test_attribute_columns(elements):
    attrs = attribute_columns_per_table(elements)
    assert attrs.get("epatient_15") == ["codetype"]
    assert attrs.get("evitals_06") == ["nv"]
    assert attrs.get("patientcarereport") == ["uuid"]
    assert attrs.get("evitals_01", []) == []


def test_table_frame_shape(elements):
    tf = table_frame(elements, "eVitals_01")
    assert tf.columns == [
        "element_id",
        "parent_element_id",
        "pcr_uuid_context",
        "original_tag_name",
        "evitals_01_value",
    ]
    row = tf.collect()[0]
    assert row["evitals_01_value"] == "2025-02-15T12:15:00-05:00"
    assert row["original_tag_name"] == "eVitals.01"
    assert row["pcr_uuid_context"] == "6e5d2c1a-0000-4000-8000-000000000001"


def test_table_frame_attr_pivot(elements):
    tf = table_frame(elements, "epatient_15")
    assert tf.columns[-1] == "codetype"
    assert tf.collect()[0]["codetype"] == "ICD10"


def test_table_frame_keeps_the_later_of_keys_equal_but_for_case(spark, tmp_path):
    """Attribute keys that lower to one column fill it with the later
    key's value, as the reference's row dict does (main_ingest.py:466-476),
    instead of failing on a duplicated map key."""
    p = tmp_path / "case.xml"
    p.write_text('<r><x Code="1" code="2">v</x><x CODE="3">w</x><x/></r>')
    rows = table_frame(flatten_xml_files(spark, [str(p)]), "x", ["code"]).collect()
    assert sorted((r["x_value"] or "", r["code"] or "") for r in rows) == [
        ("", ""), ("v", "2"), ("w", "3")]


def test_attr_collision_with_common_dropped(spark):
    # an attribute literally named element_id must not clobber the common
    # column (reference intersection-filter parity, main_ingest.py:479-483)
    xml = '<r><t element_id="boom" other="ok">v</t></r>'
    els = flatten_xml_strings(spark, [("c.xml", xml)])
    attrs = attribute_columns_per_table(els)
    assert attrs["t"] == ["other"]
    tf = table_frame(els, "t", attrs["t"])
    assert "other" in tf.columns
    r = tf.collect()[0]
    assert r["other"] == "ok"
    assert r["element_id"] != "boom"  # generated UUID survived


def test_table_comments(elements):
    comments = table_comments(elements)
    assert comments["evitals_01"].endswith("eVitals/eVitals_VitalGroup/eVitals_01")


def test_ingested_lake_orphan_check(elements, spark, tmp_path):
    """The per-tag lake batch ingest writes: one directory per table in
    the reference's shape (FIXTURES.md F3), and the orphan check holds on
    it."""
    src = tmp_path / "f.xml"
    src.write_text(NEMSIS_XML)
    lake = str(tmp_path / "lake")
    ingest_xml_files(spark, [str(src)], lake, deterministic_ids=True)
    assert list_table_dirs(lake) == table_names(elements)
    row = spark.read.parquet(os.path.join(lake, "evitals_01")).collect()[0]
    assert row["evitals_01_value"] == "2025-02-15T12:15:00-05:00"
    assert row["original_tag_name"] == "eVitals.01"
    # the attribute pivot: codetype is the last column of epatient_15
    pat = spark.read.parquet(os.path.join(lake, "epatient_15"))
    assert pat.columns[-1] == "codetype"
    assert pat.collect()[0]["codetype"] == "ICD10"
    child = spark.read.parquet(os.path.join(lake, "evitals_vitalgroup"))
    parent = spark.read.parquet(os.path.join(lake, "evitals"))
    assert orphan_check(child, parent).count() == 0
    # negative: against the wrong parent table, everything is an orphan
    wrong = spark.read.parquet(os.path.join(lake, "erecord"))
    assert orphan_check(child, wrong).count() == child.count()


def test_tag_collision_merges_tables(spark):
    # two raw tags that sanitize identically merge (reference behavior,
    # SURVEY §7.4.1: replicate, don't fix)
    xml = "<r><a.b>1</a.b><a_b>2</a_b></r>"
    els = flatten_xml_strings(spark, [("m.xml", xml)])
    tf = table_frame(els, "a_b")
    assert tf.count() == 2
