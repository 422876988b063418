"""Warehouse fan-out tests (FIXTURES.md F3 golden shape)."""

import os

import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.catalog import list_table_dirs
from nemsis_xml_parser_spark.operators.bookkeeping import ingest_xml_files
from nemsis_xml_parser_spark.operators.flatten import flatten_xml_strings
from nemsis_xml_parser_spark.operators.warehouse import (
    attribute_columns_per_table,
    orphan_check,
    read_table,
    table_comments,
    table_frame,
    table_names,
    write_warehouse,
)
from tests.conftest import NEMSIS_XML


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


def test_write_warehouse_partitioned_single_pass(elements, spark, tmp_path):
    """Default layout: one partitionBy(table_name) write; read_table
    projects the reference's pivoted shape through a pruned scan."""
    lake = str(tmp_path / "lake")
    registry = write_warehouse(elements, lake)
    assert "evitals_01" in registry
    dirs = sorted(
        d.split("=", 1)[1] for d in os.listdir(lake) if d.startswith("table_name=")
    )
    assert dirs == sorted(registry.keys())
    tf = read_table(spark, lake, "eVitals_01")
    assert tf.columns == registry["evitals_01"]
    row = tf.collect()[0]
    assert row["evitals_01_value"] == "2025-02-15T12:15:00-05:00"
    assert row["original_tag_name"] == "eVitals.01"
    # attr pivot through read_table matches table_frame's
    pat = read_table(spark, lake, "epatient_15")
    assert pat.columns[-1] == "codetype"
    assert pat.collect()[0]["codetype"] == "ICD10"
    # the table_name filter must reach the scan as a partition filter
    plan = pat._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    child = read_table(spark, lake, "evitals_vitalgroup")
    parent = read_table(spark, lake, "evitals")
    assert orphan_check(child, parent).count() == 0


def test_ingested_lake_orphan_check(elements, spark, tmp_path):
    """The per-tag lake batch ingest writes: one directory per table, and
    the orphan check holds on it."""
    src = tmp_path / "f.xml"
    src.write_text(NEMSIS_XML)
    lake = str(tmp_path / "lake")
    ingest_xml_files(spark, [str(src)], lake, deterministic_ids=True)
    assert list_table_dirs(lake) == table_names(elements)
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
