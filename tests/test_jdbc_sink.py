"""JDBC sink DDL generation (no PostgreSQL in this container — the SQL
strings are the parity artifact; tests/test_jdbc_live.py runs the staging
transaction on DuckDB)."""

from nemsis_xml_parser_spark.operators import jdbc_sink as J
from nemsis_xml_parser_spark.operators.flatten import flatten_xml_strings
from tests.conftest import NEMSIS_XML


def test_create_table_sql_shape():
    stmts = J.create_table_sql("evitals_06", ["nv"], path_comment="a/b's")
    assert stmts[0] == (
        'CREATE TABLE IF NOT EXISTS "public"."evitals_06" '
        '("element_id" TEXT PRIMARY KEY, "parent_element_id" TEXT, '
        '"pcr_uuid_context" TEXT, "original_tag_name" TEXT, '
        '"evitals_06_value" TEXT, "nv" TEXT);'
    )
    assert stmts[1] == 'COMMENT ON TABLE "public"."evitals_06" IS \'a/b\'\'s\';'


def test_widen_and_fk_sql():
    assert J.widen_table_sql("t", ["a", "b"]) == [
        'ALTER TABLE "public"."t" ADD COLUMN IF NOT EXISTS "a" TEXT;',
        'ALTER TABLE "public"."t" ADD COLUMN IF NOT EXISTS "b" TEXT;',
    ]
    probe, ddl = J.fk_constraint_sql("child", "parent")
    assert "information_schema.table_constraints" in probe
    assert '"fk_child_parent"' in ddl
    assert "ON DELETE CASCADE" in ddl
    # long names hash-truncate ≤ 63
    _, ddl_long = J.fk_constraint_sql("c" * 60, "p" * 60)
    name = ddl_long.split('ADD CONSTRAINT "')[1].split('"')[0]
    assert len(name) <= 63


def test_fk_pairs_derived(spark):
    els = flatten_xml_strings(spark, [("f.xml", NEMSIS_XML)])
    pairs = J.fk_pairs(els)
    # original sanitized-tag case preserved (reference main_ingest.py:460-462)
    assert ("eVitals_01", "eVitals_VitalGroup") in pairs
    assert ("PatientCareReport", "Header") in pairs
    assert all(len(p) == 2 for p in pairs)


def test_fk_constraint_name_original_case_parity():
    """The reference builds the ideal name from raw-case sanitized tags and
    lowercases only the table identifiers in the DDL
    (main_ingest.py:509-514)."""
    probe, ddl = J.fk_constraint_sql("PatientCareReport", "Header")
    assert '"fk_PatientCareReport_Header"' in ddl
    assert '"public"."patientcarereport"' in ddl
    assert 'REFERENCES "public"."header"' in ddl
    assert "table_name = 'patientcarereport'" in probe
    assert "fk_PatientCareReport_Header" in probe
    # truncation hash must also come from the raw-case ideal name
    import hashlib
    child, parent = "C" * 60, "P" * 60
    _, ddl_long = J.fk_constraint_sql(child, parent)
    name = ddl_long.split('ADD CONSTRAINT "')[1].split('"')[0]
    assert len(name) <= 63
    assert name.endswith(hashlib.md5(f"fk_{child}_{parent}".encode()).hexdigest()[:6])
