"""Schema version gate + value-column migration (SURVEY G2/G4/G5)."""

import os

import pytest

from nemsis_xml_parser_spark.operators import migration as M


def test_bootstrap_and_gate(spark, tmp_path):
    wh = str(tmp_path / "wh")
    assert not M.check_schema_version(spark, wh)
    with pytest.raises(RuntimeError, match="not registered"):
        M.require_schema_version(spark, wh)
    M.bootstrap_schema(spark, wh)
    assert M.check_schema_version(spark, wh)
    M.require_schema_version(spark, wh)  # no raise
    # idempotent: re-bootstrap doesn't duplicate the seed row
    M.bootstrap_schema(spark, wh)
    n = spark.read.parquet(os.path.join(wh, "_schema_versions")).count()
    assert n == 1


def test_value_column_migration_roundtrip(spark, tmp_path):
    wh = str(tmp_path / "wh")
    legacy = spark.createDataFrame(
        [("e1", None, None, "eVitals.01", "v1")],
        "element_id string, parent_element_id string, pcr_uuid_context string, "
        "original_tag_name string, text_content string",
    )
    legacy.write.parquet(os.path.join(wh, "evitals_01"))
    # bookkeeping tables excluded from the catalog scan
    legacy.write.parquet(os.path.join(wh, "_files_processed"))

    renamed = M.migrate_text_content_to_value_columns(spark, wh)
    assert renamed == {"evitals_01": "evitals_01_value"}
    migrated = spark.read.parquet(os.path.join(wh, "evitals_01"))
    assert "evitals_01_value" in migrated.columns
    assert "text_content" not in migrated.columns
    assert migrated.collect()[0]["evitals_01_value"] == "v1"
    # second run is a no-op
    assert M.migrate_text_content_to_value_columns(spark, wh) == {}

    # reversible (downgrade path)
    back = M.downgrade_value_columns_to_text_content(spark, wh)
    assert back == {"evitals_01": "text_content"}
    assert "text_content" in spark.read.parquet(os.path.join(wh, "evitals_01")).columns
    # bookkeeping untouched throughout
    assert "text_content" in spark.read.parquet(os.path.join(wh, "_files_processed")).columns


def test_tables_with_column_on_ingested_lake(spark, tmp_path):
    """The catalog join (A6/A9/F4) over a lake written by ingest; column
    lists come from parquet footers, without a Spark job."""
    from nemsis_xml_parser_spark import catalog
    from nemsis_xml_parser_spark.operators.bookkeeping import ingest_xml_files
    from tests.conftest import NEMSIS_XML

    wh = str(tmp_path / "wh")
    xml = tmp_path / "f.xml"
    xml.write_text(NEMSIS_XML)
    ingest_xml_files(spark, [str(xml)], wh, deterministic_ids=True)

    tables = catalog.list_table_dirs(wh)
    assert catalog.tables_with_column(spark, wh, "pcr_uuid_context") == tables
    assert catalog.tables_with_column(spark, wh, "evitals_06_value") == ["evitals_06"]
    assert catalog.tables_with_column(spark, wh, "codetype") == ["epatient_15"]
    assert catalog.tables_with_column(spark, wh, "text_content") == []

    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup(None) or [-1])
    cols = catalog.list_columns(spark, wh, "epatient_15")
    assert max(tracker.getJobIdsForGroup(None) or [-1]) == before
    assert cols == {"element_id", "parent_element_id", "pcr_uuid_context",
                    "original_tag_name", "epatient_15_value", "codetype"}
