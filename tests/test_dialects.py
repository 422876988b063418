"""Dialect-parameterized DDL (operators/jdbc_sink.py::Dialect): the
PostgreSQL shapes are string-asserted against the reference's
database_setup.py layout, and the DuckDB/Derby variants are LIVE-executed
on their engines — so pointing the sink at a real PostgreSQL is pure
configuration (VERDICT r6 next-round #8)."""

from __future__ import annotations

import duckdb
import pytest

from nemsis_xml_parser_spark.operators import jdbc_sink as J

pytestmark = pytest.mark.etl


def test_postgres_bookkeeping_ddl_matches_reference_shapes():
    sv, xfp = J.bookkeeping_ddl("public", J.POSTGRES)
    # database_setup.py:70 — SERIAL auto-increment PK
    assert "SchemaVersionID SERIAL PRIMARY KEY" in sv
    # database_setup.py:72 — timezone-aware timestamps
    assert "CreationDate TIMESTAMPTZ NOT NULL" in sv
    assert "UpdateDate TIMESTAMPTZ" in sv
    # identifier casing parity: quoted schema, UNQUOTED table name (folds
    # to lowercase on PG, exactly like the reference's f-string DDL)
    assert '"public".SchemaVersions' in sv
    assert '"public".XMLFilesProcessed' in xfp
    assert "ProcessedFileID TEXT PRIMARY KEY" in xfp
    assert "ProcessingTimestamp TIMESTAMPTZ NOT NULL" in xfp
    assert (
        'FOREIGN KEY (SchemaVersionID) REFERENCES "public".SchemaVersions'
        "(SchemaVersionID)" in xfp
    )


def test_postgres_dialect_is_the_default_everywhere():
    # existing call sites must be byte-stable: the dialect refactor may
    # not change the default-emitted SQL
    stmts = J.create_table_sql("header", ["extra"], path_comment="A/B")
    assert stmts[0].startswith('CREATE TABLE IF NOT EXISTS "public"."header"')
    assert '"element_id" TEXT PRIMARY KEY' in stmts[0]
    assert stmts[1] == 'COMMENT ON TABLE "public"."header" IS \'A/B\';'
    widen = J.widen_table_sql("header", ["na"])
    assert widen == [
        'ALTER TABLE "public"."header" ADD COLUMN IF NOT EXISTS "na" TEXT;'
    ]
    probe, ddl = J.fk_constraint_sql("Child", "Parent")
    assert "information_schema.table_constraints" in probe
    assert "ON DELETE CASCADE" in ddl


def test_derby_dialect_shapes():
    sv, xfp = J.bookkeeping_ddl("APP", J.DERBY)
    assert "IF NOT EXISTS" not in sv and "IF NOT EXISTS" not in xfp
    assert "GENERATED ALWAYS AS IDENTITY" in sv
    assert "TIMESTAMPTZ" not in sv and "TIMESTAMP" in sv
    assert "TEXT" not in xfp and "VARCHAR(32000)" in xfp
    create = J.create_table_sql(
        "header", ["a1"], schema="APP", path_comment="A/B", dialect=J.DERBY
    )
    assert len(create) == 1  # no COMMENT ON in Derby
    assert create[0].startswith('CREATE TABLE "APP"."header"')
    assert "VARCHAR(32000)" in create[0]
    probe, _ = J.fk_constraint_sql("Child", "Parent", "APP", J.DERBY)
    assert "SYS.SYSCONSTRAINTS" in probe


def test_duckdb_dialect_live_bookkeeping_roundtrip():
    con = duckdb.connect()
    for stmt in J.bookkeeping_ddl("main", J.DUCKDB):
        con.execute(stmt)
    con.execute(
        'INSERT INTO "main".SchemaVersions VALUES '
        "(1, 'v4', TIMESTAMPTZ '2026-01-01 00:00:00+00', NULL, 'd', NULL);"
    )
    con.execute(
        'INSERT INTO "main".XMLFilesProcessed VALUES '
        "('f1', 'a.xml', 'md5', TIMESTAMPTZ '2026-01-01 00:00:00+00', "
        "'OK', 1, NULL);"
    )
    # idempotent re-run (IF NOT EXISTS honored)
    for stmt in J.bookkeeping_ddl("main", J.DUCKDB):
        con.execute(stmt)
    assert con.execute("SELECT COUNT(*) FROM SchemaVersions").fetchone() == (1,)
    # dynamic table DDL + widening on the same dialect
    for stmt in J.create_table_sql("header", ["a1"], "main", "A/B", J.DUCKDB):
        con.execute(stmt)
    for stmt in J.widen_table_sql("header", ["a2"], "main", J.DUCKDB):
        con.execute(stmt)
    cols = [r[1] for r in con.execute('PRAGMA table_info("header")').fetchall()]
    assert "a1" in cols and "a2" in cols
    con.close()


def test_derby_dialect_live_bookkeeping_and_fk_probe(spark, tmp_path):
    """The Derby variant executes on a REAL JDBC engine: bookkeeping
    tables (IDENTITY PK, TIMESTAMP), a dynamic child/parent pair, the
    CASCADE FK applied, and the SYS-catalog probe finding it."""
    from nemsis_xml_parser_spark.operators.dbapi import JavaJdbcConnection

    url = f"jdbc:derby:{tmp_path}/dlct;create=true"
    conn = JavaJdbcConnection(spark, url)
    cur = conn.cursor()
    for stmt in J.bookkeeping_ddl("APP", J.DERBY):
        cur.execute(stmt.rstrip(";"))
    cur.execute(
        'INSERT INTO "APP".XMLFilesProcessed '
        "(ProcessedFileID, OriginalFileName, MD5Hash, ProcessingTimestamp, "
        "Status, SchemaVersionID, DemographicGroup) VALUES "
        "('f1', 'a.xml', 'm', TIMESTAMP('2026-01-01 00:00:00'), 'OK', "
        "NULL, NULL)"
    )
    for table, attrs in (("parenttag", []), ("childtag", ["a1"])):
        for stmt in J.create_table_sql(table, attrs, "APP", dialect=J.DERBY):
            cur.execute(stmt.rstrip(";"))
    probe, ddl = J.fk_constraint_sql("childtag", "parenttag", "APP", J.DERBY)
    cur.execute(probe.rstrip(";"))
    assert cur.fetchone() is None  # not yet created
    cur.execute(ddl.rstrip(";"))
    cur.execute(probe.rstrip(";"))
    row = cur.fetchone()
    assert row is not None  # the probe sees the live FK
    # the FK actually enforces: an orphan child row must be rejected
    cur.execute(
        "INSERT INTO \"APP\".\"parenttag\" VALUES ('p1', NULL, NULL, "
        "NULL, NULL)"
    )
    cur.execute(
        "INSERT INTO \"APP\".\"childtag\" VALUES ('c1', 'p1', NULL, NULL, "
        "NULL, NULL)"
    )
    with pytest.raises(Exception):
        cur.execute(
            "INSERT INTO \"APP\".\"childtag\" VALUES ('c2', 'MISSING', "
            "NULL, NULL, NULL, NULL)"
        )
    conn.rollback()
    conn.close()
