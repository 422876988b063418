"""File-backed DuckDB stand-in for the PostgreSQL target of
``jdbc_sink.stage_to_jdbc_distributed``.

``DuckConn`` gives DuckDB the psycopg2 transaction contract the sink expects
(one shared transaction per connection, commit/rollback on the connection)
and counts every statement the driver issues.  ``staging_hooks`` stages each
partition into its own DuckDB file (DuckDB has one writer per file) through
an Arrow bulk insert, the DuckDB counterpart of PostgreSQL ``COPY``; each
executor-side connection appends one line to ``connections.log`` so the
driver can count them.
"""

from __future__ import annotations

import os

import duckdb


class DuckConn:
    def __init__(self, path: str):
        self._c = duckdb.connect(path)
        self._in_txn = False
        self.statements = 0
        self.execute_raw("CREATE SCHEMA IF NOT EXISTS public;")

    def execute_raw(self, sql: str, params=None):
        self.statements += 1
        return self._c.execute(sql, params)

    def _begin(self):
        if not self._in_txn:
            self._c.execute("BEGIN TRANSACTION;")
            self._in_txn = True

    def cursor(self):
        conn = self

        class _Cur:
            def execute(self, sql, params=None):
                conn._begin()
                conn.execute_raw(sql, params)
                return self

        return _Cur()

    def commit(self):
        if self._in_txn:
            self._c.execute("COMMIT;")
            self._in_txn = False

    def rollback(self):
        if self._in_txn:
            self._c.execute("ROLLBACK;")
            self._in_txn = False

    def insert_arrow(self, table: str, data) -> None:
        """Bulk-insert an Arrow table into ``public.table`` (set-up only)."""
        self._c.register("_src", data)
        self._c.execute(f'INSERT INTO public."{table}" SELECT * FROM _src')
        self._c.unregister("_src")

    def close(self):
        self._c.close()


class StagingCounters:
    """Per-call counts the hooks record (driver side)."""

    def __init__(self) -> None:
        self.partitions_staged = 0


def staging_hooks(stage_dir: str, counters: StagingCounters) -> dict:
    """Keyword arguments for ``stage_to_jdbc_distributed`` staging into
    per-partition DuckDB files under ``stage_dir``."""
    log = os.path.join(stage_dir, "connections.log")

    def connect_fn(pid):
        import duckdb as _duck

        with open(log, "a") as f:
            f.write(f"{pid}\n")
        return _duck.connect(os.path.join(stage_dir, f"stg_{pid}.db"))

    def stage_ref(table, pid):
        return f'stg{pid}."{table}__stg{pid}"'

    def prepare_promote(conn, staged):
        pids = sorted({pid for _, pid, n in staged if n})
        counters.partitions_staged = len(pids)
        for pid in pids:
            path = os.path.join(stage_dir, f"stg_{pid}.db")
            conn.execute_raw(f"ATTACH '{path}' AS stg{pid} (READ_ONLY);")

    def stage_rows(conn, stage, schema, cols, rows):
        import pyarrow as pa

        tb = pa.table({c: [r[i] for r in rows] for i, c in enumerate(cols)})
        conn.register("_stg_src", tb)
        qual = f'"{schema}"."{stage}"' if schema else f'"{stage}"'
        conn.execute(f"INSERT INTO {qual} SELECT * FROM _stg_src")
        conn.unregister("_stg_src")

    return dict(
        connect_fn=connect_fn,
        stage_schema=None,
        stage_ref=stage_ref,
        prepare_promote=prepare_promote,
        paramstyle="qmark",
        stage_rows=stage_rows,
    )


def connections_logged(stage_dir: str) -> int:
    try:
        with open(os.path.join(stage_dir, "connections.log")) as f:
            return sum(1 for _ in f)
    except FileNotFoundError:
        return 0


def table_counts(path: str) -> dict[str, int]:
    """Rows per table in schema ``public`` of a DuckDB file."""
    con = duckdb.connect(path, read_only=True)
    try:
        names = [r[0] for r in con.execute(
            "SELECT table_name FROM information_schema.tables "
            "WHERE table_schema = 'public'").fetchall()]
        return {t: con.execute(f'SELECT count(*) FROM public."{t}"').fetchone()[0]
                for t in names}
    finally:
        con.close()


def markers(path: str) -> dict[str, str]:
    """eRecord.01 marker per PCR in the target; raises if a PCR has two."""
    con = duckdb.connect(path, read_only=True)
    try:
        rows = con.execute(
            "SELECT pcr_uuid_context, erecord_01_value FROM public.erecord_01").fetchall()
    finally:
        con.close()
    out: dict[str, str] = {}
    for p, m in rows:
        if out.setdefault(p, m) != m:
            raise ValueError(f"PCR {p} has rows of two versions")
    return out
