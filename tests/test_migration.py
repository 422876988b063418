"""Schema version gate + value-column migration (SURVEY G2/G4/G5)."""

import os

import pytest

from nemsis_xml_parser_spark.operators import migration as M

pytestmark = pytest.mark.etl


def _last_job(spark):
    return max(spark.sparkContext.statusTracker().getJobIdsForGroup(None) or [-1])


def test_bootstrap_and_gate(spark, tmp_path):
    """The gate the CLI runs before every ingest batch (with and without
    --skip-version-gate) reads and writes ``_schema_versions`` with
    pyarrow: no Spark job."""
    wh = str(tmp_path / "wh")
    before = _last_job(spark)
    assert not M.check_schema_version(wh)
    with pytest.raises(RuntimeError, match="not registered"):
        M.require_schema_version(wh)
    M.bootstrap_schema(wh)
    assert M.check_schema_version(wh)
    M.require_schema_version(wh)  # no raise
    # idempotent: re-bootstrap doesn't duplicate the seed row
    M.bootstrap_schema(wh)
    assert _last_job(spark) == before
    n = spark.read.parquet(os.path.join(wh, "_schema_versions")).count()
    assert n == 1


def test_gate_reads_versions_spark_wrote(spark, tmp_path):
    """A ``_schema_versions`` an earlier, Spark-written bootstrap left (part
    files, ``_SUCCESS``, checksums) still gates, and bootstrap adds its row
    next to it only for a version it does not hold."""
    wh = str(tmp_path / "wh")
    spark.createDataFrame(
        [("v-old", "2024-01-01T00:00:00+00:00", "older logic")], M.SCHEMA_VERSIONS_SCHEMA
    ).write.parquet(os.path.join(wh, "_schema_versions"))
    assert M.check_schema_version(wh, "v-old")
    assert not M.check_schema_version(wh)
    M.bootstrap_schema(wh, "v-old")
    M.bootstrap_schema(wh)
    M.require_schema_version(wh)
    versions = spark.read.parquet(os.path.join(wh, "_schema_versions")).collect()
    assert sorted(r["version_number"] for r in versions) == sorted(
        ["v-old", M.INGESTION_LOGIC_VERSION])


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
    # second run is a no-op, found from the parquet footers: no Spark job
    before = _last_job(spark)
    assert M.migrate_text_content_to_value_columns(spark, wh) == {}
    assert _last_job(spark) == before

    # reversible (downgrade path)
    back = M.downgrade_value_columns_to_text_content(spark, wh)
    assert back == {"evitals_01": "text_content"}
    assert "text_content" in spark.read.parquet(os.path.join(wh, "evitals_01")).columns
    before = _last_job(spark)
    assert M.downgrade_value_columns_to_text_content(spark, wh) == {}
    assert _last_job(spark) == before
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

    before = _last_job(spark)
    tables = catalog.list_table_dirs(wh)
    assert catalog.tables_with_column(wh, "pcr_uuid_context") == tables
    assert catalog.tables_with_column(wh, "evitals_06_value") == ["evitals_06"]
    assert catalog.tables_with_column(wh, "codetype") == ["epatient_15"]
    assert catalog.tables_with_column(wh, "text_content") == []
    cols = catalog.list_columns(wh, "epatient_15")
    assert _last_job(spark) == before
    assert cols == {"element_id", "parent_element_id", "pcr_uuid_context",
                    "original_tag_name", "epatient_15_value", "codetype"}
