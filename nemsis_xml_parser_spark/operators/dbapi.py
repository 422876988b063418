"""psycopg2-style transaction adapter over DuckDB's DBAPI.

The JDBC/warehouse operators (the promote transaction of
``stage_to_jdbc_distributed``, the exactly-once streaming sink) are
written against the psycopg2 contract the reference uses
(database_setup.py:18-41): one shared transaction per connection,
``commit``/``rollback`` on the connection object.
DuckDB's Python DBAPI autocommits each statement and ``cursor()`` opens
a separate context, so this bridge issues an explicit BEGIN on first
use and funnels every cursor through the one underlying connection —
the same adapter the live-engine tests use, packaged so tools (bench)
and applications can run the JDBC code paths on DuckDB without a
PostgreSQL server.
"""

from __future__ import annotations

from typing import Any


class DuckTxnConnection:
    """Wrap ``duckdb.connect(path)`` with psycopg2-style transactions."""

    def __init__(self, path: str | None = None) -> None:
        import duckdb

        self._c = duckdb.connect(path) if path is not None else duckdb.connect()
        self._in_txn = False

    def _begin(self) -> None:
        if not self._in_txn:
            self._c.execute("BEGIN TRANSACTION;")
            self._in_txn = True

    def cursor(self) -> Any:
        conn = self

        class _Cur:
            def execute(self, sql: str, params=None):
                conn._begin()
                conn._c.execute(sql, params)
                return self

            def executemany(self, sql: str, rows):
                conn._begin()
                conn._c.executemany(sql, rows)
                return self

            def fetchone(self):
                return conn._c.fetchone()

            def fetchall(self):
                return conn._c.fetchall()

        return _Cur()

    def commit(self) -> None:
        if self._in_txn:
            self._c.execute("COMMIT;")
            self._in_txn = False

    def rollback(self) -> None:
        if self._in_txn:
            self._c.execute("ROLLBACK;")
            self._in_txn = False

    def close(self) -> None:
        self.rollback()
        self._c.close()


class JavaJdbcConnection:
    """Minimal DBAPI bridge over a ``java.sql.Connection`` via py4j —
    runs the psycopg2-shaped code paths (the promote transaction of
    stage_to_jdbc_distributed, the exactly-once streaming sink) against
    any real JDBC engine reachable from the driver JVM (Derby embedded in
    tests; PostgreSQL in production).
    Driver-side only, like the reference's single psycopg2 connection.

    qmark placeholders map to ``PreparedStatement`` parameters;
    autocommit is disabled so ``commit``/``rollback`` delimit one shared
    transaction, matching the contract the operators document.
    """

    def __init__(self, spark, url: str) -> None:
        jvm = spark._sc._jvm
        self._conn = jvm.java.sql.DriverManager.getConnection(url)
        self._conn.setAutoCommit(False)

    def cursor(self):
        conn = self._conn

        class _Cur:
            def __init__(self):
                self._rs = None

            def execute(self, sql, params=None):
                sql = sql.rstrip().rstrip(";")
                if params:
                    ps = conn.prepareStatement(sql)
                    for i, p in enumerate(params, start=1):
                        ps.setObject(i, p)
                    if ps.execute():
                        self._rs = ps.getResultSet()
                    else:
                        self._rs = None
                else:
                    st = conn.createStatement()
                    if st.execute(sql):
                        self._rs = st.getResultSet()
                    else:
                        self._rs = None
                return self

            def executemany(self, sql, rows):
                sql = sql.rstrip().rstrip(";")
                ps = conn.prepareStatement(sql)
                for row in rows:
                    for i, p in enumerate(row, start=1):
                        ps.setObject(i, p)
                    ps.addBatch()
                ps.executeBatch()
                self._rs = None
                return self

            def fetchone(self):
                if self._rs is None or not self._rs.next():
                    return None
                meta = self._rs.getMetaData()
                return tuple(
                    self._rs.getObject(i)
                    for i in range(1, meta.getColumnCount() + 1)
                )

        return _Cur()

    def commit(self) -> None:
        self._conn.commit()

    def rollback(self) -> None:
        self._conn.rollback()

    def close(self) -> None:
        try:
            self._conn.rollback()
        finally:
            self._conn.close()
