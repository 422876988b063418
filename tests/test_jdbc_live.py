"""Live SQL round-trip for the JDBC sink (SURVEY B1-B4, D3/D6).

No PostgreSQL server exists in the container, so the staging SQL is
executed against DuckDB — a real SQL engine with a Postgres-flavored
dialect and an information_schema — through a thin DBAPI adapter.  This
covers what the fake-connection tests cannot: the DDL actually parses and
runs, COMMENT ON TABLE persists, ALTER TABLE widening works on a live
catalog, staged rows and the key-set DELETE round-trip real rows, and a
failure at any step rolls back the whole per-file transaction (D6,
/root/reference/main_ingest.py:644).  The one statement DuckDB cannot run
is ALTER TABLE ADD CONSTRAINT (unsupported there); its information_schema
existence probe is executed live instead.
"""

import duckdb
import pytest

import nemsis_xml_parser_spark.operators.jdbc_sink as J
from nemsis_xml_parser_spark.operators.flatten import flatten_xml_strings
from nemsis_xml_parser_spark.operators.warehouse import (
    attribute_columns_per_table,
    table_comments,
    table_frame,
)
from nemsis_xml_parser_spark.naming import COMMON_COLUMNS, value_column_name
from tests.conftest import NEMSIS_XML

pytestmark = pytest.mark.etl


class DuckDBAPIConn:
    """Adapter: DuckDB autocommits and `.cursor()` opens a separate
    transaction context, so bridge to the psycopg2-style contract the
    promote transaction of ``stage_to_jdbc_distributed`` expects (shared
    transaction, commit/rollback on the connection)."""

    def __init__(self):
        self._c = duckdb.connect()
        self._c.execute("CREATE SCHEMA IF NOT EXISTS public;")
        self._in_txn = False

    def _begin(self):
        if not self._in_txn:
            self._c.execute("BEGIN TRANSACTION;")
            self._in_txn = True

    def cursor(self):
        conn = self

        class _Cur:
            def execute(self, sql, params=None):
                conn._begin()
                conn._c.execute(sql, params)
                return self

            def executemany(self, sql, rows):
                conn._begin()
                conn._c.executemany(sql, rows)
                return self

            def fetchall(self):
                return conn._c.fetchall()

            def fetchone(self):
                return conn._c.fetchone()

        return _Cur()

    def commit(self):
        if self._in_txn:
            self._c.execute("COMMIT;")
            self._in_txn = False

    def rollback(self):
        if self._in_txn:
            self._c.execute("ROLLBACK;")
            self._in_txn = False

    def q(self, sql):
        return self._c.execute(sql).fetchall()


def _batch(spark, xml):
    # fresh uuids per flatten, like the reference's per-ingest uuid4
    # (main_ingest.py element_id generation) — a re-stage of the same file
    # therefore never collides on the PRIMARY KEY
    els = flatten_xml_strings(spark, [("f.xml", xml)], deterministic_ids=False)
    attr_map = attribute_columns_per_table(els)
    tables = sorted(attr_map.keys() | {t for t in (
        r["t"] for r in els.selectExpr("lower(table_name) t").distinct().collect()
    )})
    registry = {
        t: list(COMMON_COLUMNS) + [value_column_name(t)] + attr_map.get(t, [])
        for t in tables
    }
    frames = {t: table_frame(els, t, attr_map.get(t, [])) for t in tables}
    keys = [r["pcr_uuid"] for r in els.select("pcr_uuid").where(
        "pcr_uuid is not null").distinct().collect()]
    return els, registry, frames, keys


@pytest.fixture()
def staged(spark):
    return _batch(spark, NEMSIS_XML)


def test_stage_roundtrip_and_idempotent_restage(spark, staged, tmp_path):
    els, registry, frames, keys = staged
    conn = DuckDBAPIConn()
    comments = table_comments(els)
    inserted = _stage(conn, tmp_path / "v1", registry, frames, keys, comments=comments)
    assert inserted["evitals_01"] >= 1
    for t, n in inserted.items():
        assert conn.q(f'SELECT COUNT(*) FROM "public"."{t}"')[0][0] == n
    # attribute column landed with its value
    assert conn.q(
        'SELECT "codetype" FROM "public"."epatient_15"'
    ) == [("ICD10",)]
    # COMMENT ON TABLE persisted into the live catalog
    [(comment,)] = conn.q(
        "SELECT comment FROM duckdb_tables() WHERE table_name = 'evitals_01'"
    )
    assert comment == comments["evitals_01"]
    # re-staging the same PCR keys: delete-by-key + reinsert is idempotent
    # for every PCR-scoped row; rows with NULL pcr_uuid_context (demographic
    # section) fall outside the delete predicate and accumulate — exact
    # reference parity (main_ingest.py:276-325 deletes only matching
    # pcr_uuid_context; file-level idempotency D5 is the guard upstream)
    els2 = flatten_xml_strings(
        spark, [("f.xml", NEMSIS_XML)], deterministic_ids=False
    )  # fresh parse = fresh uuids, like the reference's second ingest
    frames2 = {t: table_frame(els2, t, [c for c in registry[t] if c not in
               COMMON_COLUMNS and c != value_column_name(t)]) for t in registry}
    _stage(conn, tmp_path / "v2", registry, frames2, keys, comments=comments)
    for t in inserted:
        [(total,)] = conn.q(f'SELECT COUNT(*) FROM "public"."{t}"')
        [(nulls,)] = conn.q(
            f'SELECT COUNT(*) FROM "public"."{t}" WHERE "pcr_uuid_context" IS NULL'
        )
        # PCR-scoped rows: unchanged count; NULL-context rows: doubled
        assert nulls % 2 == 0
        assert total - nulls == inserted[t] - nulls // 2


def test_widen_table_executes_live():
    conn = DuckDBAPIConn()
    cur = conn.cursor()
    for stmt in J.create_table_sql("header", [], path_comment="EMSDataSet/Header"):
        cur.execute(stmt)
    for stmt in J.widen_table_sql("header", ["newattr", "other"]):
        cur.execute(stmt)
    # idempotent re-widen (IF NOT EXISTS)
    for stmt in J.widen_table_sql("header", ["newattr"]):
        cur.execute(stmt)
    cur.execute(
        J.insert_sql("header", ["element_id", "newattr"], paramstyle="qmark"),
        ("e1", "v1"),
    )
    conn.commit()
    assert conn.q('SELECT "newattr" FROM "public"."header"') == [("v1",)]


def _duckdb_file_hooks(tmp_path):
    """Distributed-staging hooks for DuckDB, whose single-writer file model
    forces each partition's scratch into its OWN database file (on
    PostgreSQL the defaults apply verbatim: every partition connection hits
    the same server and stages into same-database scratch tables)."""
    stage_dir = str(tmp_path)

    def connect_fn(pid):
        import duckdb as _duck

        return _duck.connect(f"{stage_dir}/stg_{pid}.db")

    def stage_ref(table, pid):
        return f'stg{pid}."{J.stage_table_name(table, pid)}"'

    def prepare_promote(conn, staged):
        # ATTACH outside the promote transaction, on the raw connection
        for pid in sorted({pid for _, pid, n in staged if n}):
            conn._c.execute(
                f"ATTACH '{stage_dir}/stg_{pid}.db' AS stg{pid} (READ_ONLY);"
            )

    return dict(
        connect_fn=connect_fn,
        stage_schema=None,
        stage_ref=stage_ref,
        prepare_promote=prepare_promote,
        paramstyle="qmark",
    )


def _stage(conn, stage_dir, registry, frames, keys, **kwargs):
    """Stage a batch through the DuckDB file hooks into a fresh
    ``stage_dir``, then detach its stage files, so the next batch on
    ``conn`` can stage again."""
    stage_dir.mkdir()
    inserted = J.stage_to_jdbc_distributed(
        conn, registry=registry, frames=frames, pcr_keys=keys,
        **_duckdb_file_hooks(stage_dir), **kwargs,
    )
    for (name,) in conn.q(
        "SELECT database_name FROM duckdb_databases() WHERE database_name LIKE 'stg%'"
    ):
        conn._c.execute(f"DETACH {name};")
    return inserted


def _frame_rows(frames, tables):
    """Test-side oracle: each table's rows as its frame holds them, sorted."""
    return {t: sorted(map(tuple, frames[t].collect()), key=str) for t in tables}


def _target_rows(conn, tables):
    return {
        t: sorted(conn.q(f'SELECT * FROM "public"."{t}"'), key=str) for t in tables
    }


def test_distributed_stage_roundtrip_no_driver_collect(
    spark, staged, tmp_path, monkeypatch
):
    els, registry, frames, keys = staged
    comments = table_comments(els)
    conn = DuckDBAPIConn()

    # Prove no data row passes through the driver: any DataFrame.collect
    # inside the staging path blows up (the path collects only the
    # per-partition metadata triples, via RDD.collect).
    import pyspark.sql as psql

    def _no_collect(self):
        raise AssertionError("driver-side DataFrame.collect in staging path")

    monkeypatch.setattr(psql.DataFrame, "collect", _no_collect)
    inserted = J.stage_to_jdbc_distributed(
        conn, registry=registry, frames=frames, pcr_keys=keys,
        comments=comments, **_duckdb_file_hooks(tmp_path),
    )
    monkeypatch.undo()

    assert inserted["evitals_01"] >= 1
    for t, n in inserted.items():
        assert conn.q(f'SELECT COUNT(*) FROM "public"."{t}"')[0][0] == n
    assert conn.q('SELECT "codetype" FROM "public"."epatient_15"') == [("ICD10",)]
    [(comment,)] = conn.q(
        "SELECT comment FROM duckdb_tables() WHERE table_name = 'evitals_01'"
    )
    assert comment == comments["evitals_01"]
    # the target holds exactly the rows of the batch's table frames
    want = _frame_rows(frames, registry)
    assert inserted == {t: len(rows) for t, rows in want.items()}
    assert _target_rows(conn, registry) == want


def test_distributed_promote_failure_rolls_back(spark, staged, tmp_path):
    els, registry, frames, keys = staged
    t = "evitals_01"
    bad = frames[t].union(frames[t].limit(1))  # duplicate PRIMARY KEY row
    frames = dict(frames, **{t: bad})
    conn = DuckDBAPIConn()
    with pytest.raises(Exception):
        J.stage_to_jdbc_distributed(
            conn, registry=registry, frames=frames, pcr_keys=keys,
            **_duckdb_file_hooks(tmp_path),
        )
    # staging succeeded (scratch files committed) but the single promote
    # transaction rolled back — the target shows nothing at all
    left = conn.q(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = 'public'"
    )
    assert left == []


def test_distributed_executor_failure_leaves_target_untouched(
    spark, staged, tmp_path
):
    els, registry, frames, keys = staged
    hooks = _duckdb_file_hooks(tmp_path)

    def poisoned_connect(pid):
        raise RuntimeError("partition connection refused")

    hooks["connect_fn"] = poisoned_connect
    conn = DuckDBAPIConn()
    with pytest.raises(Exception):
        J.stage_to_jdbc_distributed(
            conn, registry=registry, frames=frames, pcr_keys=keys, **hooks
        )
    left = conn.q(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = 'public'"
    )
    assert left == []


def test_fk_probe_runs_against_live_information_schema(staged, tmp_path):
    els, registry, frames, keys = staged
    conn = DuckDBAPIConn()
    _stage(conn, tmp_path / "v1", registry, frames, keys)
    for child, parent in J.fk_pairs(els):
        probe, ddl = J.fk_constraint_sql(child, parent)
        assert conn.q(probe) == []  # no FK yet — probe parses + runs
        # DuckDB cannot execute ADD CONSTRAINT; assert the DDL shape instead
        assert "ON DELETE CASCADE" in ddl and child.lower() in ddl


def test_distributed_stage_rows_bulk_hook_parity(spark, staged, tmp_path):
    """The engine-native bulk-load hook (stage_rows) must land the exact
    rows the generic executemany path lands — DuckDB's Arrow-register
    INSERT..SELECT here, PostgreSQL's COPY FROM STDIN in deployment
    (measured ~150x the DBAPI row-binding rate; BENCH_ingest_r14)."""
    els, registry, frames, keys = staged
    comments = table_comments(els)

    def stage_rows(conn, stage, schema, cols, rows):
        import pyarrow as pa

        tb = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
        conn.register("_stg_src", tb)
        qual = f'"{schema}"."{stage}"' if schema else f'"{stage}"'
        conn.execute(f"INSERT INTO {qual} SELECT * FROM _stg_src")
        conn.unregister("_stg_src")

    conn = DuckDBAPIConn()
    inserted = _stage(
        conn, tmp_path / "hook", registry, frames, keys,
        comments=comments, stage_rows=stage_rows,
    )
    ref_conn = DuckDBAPIConn()
    ref = _stage(ref_conn, tmp_path / "executemany", registry, frames, keys,
                 comments=comments)
    want = _frame_rows(frames, registry)
    assert inserted == ref == {t: len(rows) for t, rows in want.items()}
    assert _target_rows(conn, registry) == _target_rows(ref_conn, registry) == want


def test_restage_widens_existing_table(spark, tmp_path):
    """A batch bringing an attribute the target table lacks: the promote
    adds the column (ALTER ... ADD COLUMN IF NOT EXISTS) in the same
    transaction as the DELETE and INSERT, and its values land."""
    conn = DuckDBAPIConn()

    def stage(xml, n):
        _, registry, frames, keys = _batch(spark, xml)
        return _stage(conn, tmp_path / f"batch{n}", registry, frames, keys)

    def columns():
        return [r[0] for r in conn.q(
            "SELECT column_name FROM information_schema.columns "
            "WHERE table_name = 'erecord_01' ORDER BY ordinal_position"
        )]

    stage(NEMSIS_XML, 1)
    assert "newattr" not in columns()
    widened = NEMSIS_XML.replace(
        "<eRecord.01>rec-1<", '<eRecord.01 NewAttr="n1">rec-1<'
    )
    assert stage(widened, 2)["erecord_01"] == 2
    assert columns()[-1] == "newattr"
    assert sorted(conn.q(
        'SELECT "erecord_01_value", "newattr" FROM "public"."erecord_01"'
    )) == [("rec-1", "n1"), ("rec-2", None)]


def _prefill(conn, registry, table, rows):
    """Create ``table`` with the sink's DDL and insert ``rows`` (tuples in
    the registry's column order)."""
    cols = registry[table]
    cur = conn.cursor()
    for stmt in J.create_table_sql(table, cols[len(COMMON_COLUMNS) + 1:]):
        cur.execute(stmt)
    cur.executemany(J.insert_sql(table, cols, paramstyle="qmark"), rows)
    conn.commit()


def _counting_hooks(stage_dir):
    """``_duckdb_file_hooks`` whose ``connect_fn`` logs every connection it
    opens (executor side) to ``connections.log``."""
    hooks = _duckdb_file_hooks(stage_dir)
    connect = hooks["connect_fn"]
    log = f"{stage_dir}/connections.log"

    def connect_fn(pid):
        with open(log, "a") as f:
            f.write(f"{pid}\n")
        return connect(pid)

    hooks["connect_fn"] = connect_fn
    return hooks, log


def test_distributed_stage_opens_one_connection_per_task(spark, staged, tmp_path):
    """Staging runs in one coalesced job: at most defaultParallelism
    connections, for a 3-table registry as for the full one."""
    els, registry, frames, keys = staged
    three = dict(sorted(registry.items())[:3])
    assert len(registry) > spark.sparkContext.defaultParallelism
    for name, reg in (("three", three), ("full", registry)):
        stage_dir = tmp_path / name
        stage_dir.mkdir()
        hooks, log = _counting_hooks(stage_dir)
        conn = DuckDBAPIConn()
        inserted = J.stage_to_jdbc_distributed(
            conn, registry=reg, frames=frames, pcr_keys=keys, **hooks
        )
        assert sum(inserted.values()) == sum(frames[t].count() for t in reg)
        with open(log) as f:
            opened = len(f.readlines())
        assert 1 <= opened <= spark.sparkContext.defaultParallelism, name


def test_stage_partition_retry_is_idempotent(tmp_path, monkeypatch):
    """A retried staging task (same pid) rebuilds its stage tables: each
    holds its rows once, also when they arrive in several chunks."""
    import pyarrow as pa

    TABLE, VALUE = J._TABLE, J._VALUE
    common = list(COMMON_COLUMNS)
    layouts = {
        t: (common + [value_column_name(t)], common + [VALUE]) for t in ("p", "q")
    }
    batch = pa.RecordBatch.from_pydict({
        TABLE: ["p", "q", "p", "p"],
        "element_id": ["1", "2", "3", "4"],
        "parent_element_id": [None, "1", "1", "1"],
        "pcr_uuid_context": ["A", "A", None, "B"],
        "original_tag_name": ["p", "q", "p", "p"],
        VALUE: ["v1", "v2", "v3", "v4"],
    })

    def connect_fn(pid):
        return duckdb.connect(str(tmp_path / f"stg_{pid}.db"))

    monkeypatch.setattr(J, "STAGE_CHUNK_ROWS", 1)
    for _ in range(2):
        staged = J.stage_partition(
            [batch, batch.slice(3)], 7, connect_fn, layouts, paramstyle="qmark"
        )
        assert staged == [("p", 7, 4), ("q", 7, 1)]
    con = duckdb.connect(str(tmp_path / "stg_7.db"), read_only=True)
    assert sorted(con.execute('SELECT "element_id" FROM "p__stg7"').fetchall()) == [
        ("1",), ("3",), ("4",), ("4",)
    ]
    assert con.execute('SELECT * FROM "q__stg7"').fetchall() == [
        ("2", "1", "A", "q", "v2")
    ]
    con.close()


# a batch whose second PCR's uuid holds a quote
QUOTED_PCR = "6e5d2c1a-0000-4000-8000-00000000'002"
QUOTED_XML = NEMSIS_XML.replace("6e5d2c1a-0000-4000-8000-000000000002", QUOTED_PCR)
PCR1 = "6e5d2c1a-0000-4000-8000-000000000001"


def _old_erecords(registry):
    """eRecord.01 rows of an earlier version: (a) of a batch PCR, (b)
    outside any PCR, (c) of the batch PCR whose uuid holds a quote."""
    width = len(registry["erecord_01"])
    row = lambda eid, pcr, v: (eid, None, pcr, "eRecord.01", v) + (None,) * (width - 5)
    return [row("old-a", PCR1, "a"), row("old-b", None, "b"), row("old-c", QUOTED_PCR, "c")]


def test_distributed_delete_by_key_set(spark, tmp_path):
    """The promote deletes through the key set staged once: old rows of
    batch PCRs go (a quote in a uuid included), NULL-PCR rows stay."""
    _, registry, frames, keys = _batch(spark, QUOTED_XML)
    assert QUOTED_PCR in keys
    conn = DuckDBAPIConn()
    _prefill(conn, registry, "erecord_01", _old_erecords(registry))
    inserted = J.stage_to_jdbc_distributed(
        conn, registry=registry, frames=frames, pcr_keys=keys,
        **_duckdb_file_hooks(tmp_path),
    )
    assert inserted["erecord_01"] == 2
    assert sorted(conn.q(
        'SELECT "pcr_uuid_context", "erecord_01_value" FROM "public"."erecord_01"'
    ), key=str) == sorted([(PCR1, "rec-1"), (None, "b"), (QUOTED_PCR, "rec-2")], key=str)
    # the key table lives only inside the promote transaction
    assert conn.q(
        f"SELECT count(*) FROM duckdb_tables() WHERE table_name = '{J.KEYS_TABLE}'"
    ) == [(0,)]


class _FailingConn(DuckDBAPIConn):
    """Raises on the first statement containing ``fail_on``."""

    def __init__(self, fail_on):
        super().__init__()
        self.fail_on = fail_on

    def cursor(self):
        inner, fail_on = super().cursor(), self.fail_on

        class _Cur:
            def execute(self, sql, params=None):
                if fail_on in sql:
                    raise RuntimeError(f"injected failure on: {fail_on}")
                return inner.execute(sql, params)

            def executemany(self, sql, rows):
                return inner.executemany(sql, rows)

        return _Cur()


def test_distributed_key_set_failure_rolls_back(spark, tmp_path):
    """A failure at the key-set statement leaves the target as it was:
    the promote's DDL is rolled back and no old row is deleted."""
    _, registry, frames, keys = _batch(spark, QUOTED_XML)
    conn = _FailingConn(f'CREATE TEMP TABLE "{J.KEYS_TABLE}"')
    _prefill(conn, registry, "erecord_01", _old_erecords(registry))
    before = sorted(conn.q('SELECT * FROM "public"."erecord_01"'), key=str)
    with pytest.raises(RuntimeError, match="injected failure"):
        J.stage_to_jdbc_distributed(
            conn, registry=registry, frames=frames, pcr_keys=keys,
            **_duckdb_file_hooks(tmp_path),
        )
    assert conn.q(
        "SELECT table_name FROM information_schema.tables "
        "WHERE table_schema = 'public'"
    ) == [("erecord_01",)]
    assert sorted(conn.q('SELECT * FROM "public"."erecord_01"'), key=str) == before


@pytest.mark.xfail(
    strict=True,
    raises=AssertionError,
    reason="the promote deletes a batch's PCRs only from the tables in the "
    "batch's registry, not from every table of the target",
)
def test_distributed_correction_drops_tables_it_no_longer_has(spark, tmp_path):
    """A correction of a PCR that no longer carries its vitals group must
    delete the PCR's old vitals rows, as the lake rewrite and the reference
    (delete from every dynamic table) do."""
    _, registry, frames, keys = _batch(spark, NEMSIS_XML)
    conn = DuckDBAPIConn()
    _stage(conn, tmp_path / "v1", registry, frames, keys)
    assert conn.q('SELECT count(*) FROM "public"."evitals_06"') == [(1,)]
    start = NEMSIS_XML.index("      <eVitals>")
    end = NEMSIS_XML.index("</eVitals>") + len("</eVitals>\n")
    _, registry2, frames2, keys2 = _batch(spark, NEMSIS_XML[:start] + NEMSIS_XML[end:])
    assert "evitals_06" not in registry2 and PCR1 in keys2
    _stage(conn, tmp_path / "v2", registry2, frames2, keys2)
    assert conn.q('SELECT count(*) FROM "public"."evitals_06"') == [(0,)]
