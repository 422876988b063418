"""Exactly-once JDBC sink for Structured Streaming — transactional
batch-id idempotence over ``foreachBatch``.

``foreachBatch`` alone is AT-LEAST-ONCE: after a crash between the sink
write and the checkpoint commit, Spark re-delivers the same microbatch
(same ``batch_id``) on restart, and a naive append duplicates it.  The
production fix is the epoch-stamped idempotent upsert: every applied
batch records its ``(sink_id, batch_id)`` in a ``_stream_commits``
ledger INSIDE THE SAME DATABASE TRANSACTION as the data rows, so

* crash BEFORE commit → rollback removes rows and marker together;
  replay applies the batch cleanly;
* crash AFTER commit (before the Spark checkpoint advances) → replay
  finds the marker and skips — no duplicate rows, ever.

This is the reference's transaction-per-file
(/root/reference/main_ingest.py:644,661-688 — one commit covering data
and bookkeeping) transplanted to stream time: the unit of atomicity
moves from file to microbatch, and the MD5 idempotency log the
reference kept but never checked (main_ingest.py:39-50 — SURVEY D5)
becomes a ledger that is actually consulted on every delivery.

Tested live against DuckDB (DBAPI) AND Derby (a real JDBC engine via
the ``java.sql`` py4j bridge, operators/dbapi.py::JavaJdbcConnection)
with a forced crash-after-commit and a checkpoint-restart replay
(tests/test_stream_sink.py); PostgreSQL swaps in via ``conn_factory``.
"""

from __future__ import annotations

import datetime as _dt
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

COMMITS_TABLE = "_stream_commits"

_CREATE_COMMITS = (
    f'CREATE TABLE IF NOT EXISTS "{COMMITS_TABLE}" ('
    '"sink_id" TEXT, "batch_id" BIGINT, "n_rows" BIGINT, '
    '"committed_at" TEXT, PRIMARY KEY ("sink_id", "batch_id"));'
)


def _qmark_insert(table: str, n_cols: int) -> str:
    params = ", ".join(["?"] * n_cols)
    return f'INSERT INTO "{table}" VALUES ({params});'


def exactly_once_batch_writer(
    conn_factory: Callable[[], object],
    table: str,
    columns: list[str],
    sink_id: str,
    create_sql: str | None = None,
    batch_size: int = 1000,
    after_commit: Callable[[int], None] | None = None,
    commits_create_sql: str = _CREATE_COMMITS,
    max_collect_rows: int = 100_000,
) -> Callable[[DataFrame, int], None]:
    """Single-connection ``foreachBatch`` with transactional batch-id
    dedup — the SMALL-BATCH compat path.  Every microbatch funnels
    through one driver-side ``collect()``; at scale use
    ``exactly_once_batch_writer_distributed`` (executor-parallel
    staging, one driver promote txn, identical crash semantics), the
    recommended entry for any real deployment.

    ``max_collect_rows`` is the driver-funnel guard: a microbatch larger
    than this raises instead of silently pulling the rows through the
    driver — the error tells the caller to switch to the distributed
    writer.  The guard is enforced via ``limit(n+1)``
    so driver memory is capped even on the failing batch.

    ``conn_factory`` opens a DBAPI connection per batch (qmark style —
    DuckDB/JDBC-bridged drivers; swap the placeholder for psycopg2).
    ``create_sql`` optionally creates the target table.  ``after_commit``
    is a test seam fired after the DB commit but before Spark's
    checkpoint advances — raising there simulates the
    crash-after-commit window that separates exactly-once from
    at-least-once.
    """

    def write(batch_df: DataFrame, batch_id: int) -> None:
        conn = conn_factory()
        try:
            cur = conn.cursor()
            for ddl in filter(None, (commits_create_sql, create_sql)):
                try:
                    cur.execute(ddl)
                except Exception:  # noqa: BLE001
                    # engines without IF NOT EXISTS (Derby) raise when the
                    # table already exists; nothing else is in the txn yet
                    conn.rollback()
            cur.execute(
                f'SELECT 1 FROM "{COMMITS_TABLE}" '
                'WHERE "sink_id" = ? AND "batch_id" = ?;',
                (sink_id, batch_id),
            )
            if cur.fetchone() is not None:
                return  # replayed batch: committed atomically in a prior life
            rows = [
                tuple(r)
                for r in batch_df.select(*columns)
                .limit(max_collect_rows + 1)
                .collect()
            ]
            if len(rows) > max_collect_rows:
                raise ValueError(
                    f"microbatch {batch_id} exceeds max_collect_rows="
                    f"{max_collect_rows}; use "
                    "exactly_once_batch_writer_distributed (executor-side "
                    "staging) instead of this driver-collect compat path"
                )
            try:
                sql = _qmark_insert(table, len(columns))
                for i in range(0, len(rows), batch_size):
                    cur.executemany(sql, rows[i : i + batch_size])
                cur.execute(
                    f'INSERT INTO "{COMMITS_TABLE}" VALUES (?, ?, ?, ?);',
                    (
                        sink_id,
                        batch_id,
                        len(rows),
                        _dt.datetime.now(_dt.timezone.utc).isoformat(),
                    ),
                )
                conn.commit()  # data + ledger land together or not at all
            except Exception:
                conn.rollback()
                raise
        finally:
            close = getattr(conn, "close", None)
            if close is not None:
                close()
        if after_commit is not None:
            after_commit(batch_id)

    return write


def _stage_name(table: str, sink_id: str, pid: int) -> str:
    """Scratch table for one microbatch partition.  Batch-scoped names are
    unnecessary: batches are promoted sequentially within one ``write`` call
    and the DROP+CREATE makes both task retries and batch replays rebuild
    the scratch from zero."""
    safe_sink = "".join(ch if ch.isalnum() else "_" for ch in sink_id)
    return f"{table}__{safe_sink}_stg{pid}"


def exactly_once_batch_writer_distributed(
    driver_conn_factory: Callable[[], object],
    connect_fn: Callable[[int], object],
    table: str,
    columns: list[str],
    sink_id: str,
    create_sql: str | None = None,
    column_types: dict[str, str] | None = None,
    stage_ref: Callable[[int], str] | None = None,
    prepare_promote: Callable[[object, list[tuple[int, int]]], None] | None = None,
    cleanup: bool = True,
    batch_size: int = 1000,
    paramstyle: str = "qmark",
    after_commit: Callable[[int], None] | None = None,
    commits_create_sql: str = _CREATE_COMMITS,
) -> Callable[[DataFrame, int], None]:
    """Distributed exactly-once ``foreachBatch`` — the cluster-scale form of
    ``exactly_once_batch_writer``, which funnels every microbatch through a
    driver-side ``collect()``.  Mirrors the batch path's
    ``operators/jdbc_sink.py::stage_to_jdbc_distributed``:

    Phase 1 (executors): each partition of the microbatch opens its OWN
    DBAPI connection via ``connect_fn(partition_id)``, DROP+CREATEs its
    scratch stage table (so task retries AND batch replays are idempotent),
    bulk-inserts with ``executemany``, and commits the scratch only.  The
    driver sees one ``(partition_id, n_rows)`` pair per partition — no data
    row ever crosses the driver.

    Phase 2 (driver, ONE transaction): ledger check → ``INSERT INTO target
    SELECT .. FROM stage`` per staged partition → ledger marker insert →
    single commit.  The marker lands in the same transaction as the data,
    so the crash-before/crash-after-commit analysis in the module docstring
    carries over unchanged; only the data motion is executor-parallel.

    DuckDB's single-writer file model needs the same hooks as the batch
    path (per-partition scratch *files*, ATTACHed at promote time) —
    ``duckdb_distributed_hooks`` packages them; on PostgreSQL the defaults
    (same-database scratch tables) apply verbatim.
    """
    from ..operators.jdbc_sink import insert_sql

    if stage_ref is None:
        _default_ref = True

        def stage_ref(pid: int) -> str:
            return f'"{_stage_name(table, sink_id, pid)}"'

    else:
        _default_ref = False

    cols = list(columns)
    types = dict(column_types or {})

    from ..operators.jdbc_sink import _PLACEHOLDERS

    ph = _PLACEHOLDERS[paramstyle]  # ledger SQL follows the same paramstyle

    def write(batch_df: DataFrame, batch_id: int) -> None:
        conn = driver_conn_factory()
        try:
            cur = conn.cursor()
            for ddl in filter(None, (commits_create_sql, create_sql)):
                try:
                    cur.execute(ddl)
                except Exception:  # noqa: BLE001
                    conn.rollback()  # engine without IF NOT EXISTS (Derby)
            cur.execute(
                f'SELECT 1 FROM "{COMMITS_TABLE}" '
                f'WHERE "sink_id" = {ph} AND "batch_id" = {ph};',
                (sink_id, batch_id),
            )
            if cur.fetchone() is not None:
                return  # replayed batch: committed atomically in a prior life

            _table, _sink, _types = table, sink_id, types

            def _stage_partition(pid, it, _cols=tuple(cols)):
                rows = [tuple(r) for r in it]
                pconn = connect_fn(pid)
                try:
                    pcur = pconn.cursor()
                    stg = _stage_name(_table, _sink, pid)
                    coldefs = ", ".join(
                        f'"{c}" {_types.get(c, "TEXT")}' for c in _cols
                    )
                    pcur.execute(f'DROP TABLE IF EXISTS "{stg}";')
                    pcur.execute(f'CREATE TABLE "{stg}" ({coldefs});')
                    sql = insert_sql(stg, list(_cols), None, paramstyle)
                    for i in range(0, len(rows), batch_size):
                        pcur.executemany(sql, rows[i : i + batch_size])
                    pconn.commit()
                except Exception:
                    pconn.rollback()
                    raise
                finally:
                    if hasattr(pconn, "close"):
                        pconn.close()
                yield (pid, len(rows))

            staged = (
                batch_df.select(*cols)
                .rdd.mapPartitionsWithIndex(_stage_partition)
                .collect()  # metadata pairs only — never data rows
            )
            if prepare_promote is not None:
                prepare_promote(conn, staged)
            collist = ", ".join(f'"{c}"' for c in cols)
            try:
                for pid, n in staged:
                    if n == 0:
                        continue
                    cur.execute(
                        f'INSERT INTO "{table}" ({collist}) '
                        f"SELECT {collist} FROM {stage_ref(pid)};"
                    )
                cur.execute(
                    f'INSERT INTO "{COMMITS_TABLE}" '
                    f"VALUES ({ph}, {ph}, {ph}, {ph});",
                    (
                        sink_id,
                        batch_id,
                        sum(n for _, n in staged),
                        _dt.datetime.now(_dt.timezone.utc).isoformat(),
                    ),
                )
                conn.commit()  # data + ledger land together or not at all
            except Exception:
                conn.rollback()
                raise
            if cleanup and _default_ref:
                for pid, _ in staged:
                    cur.execute(f"DROP TABLE IF EXISTS {stage_ref(pid)};")
                conn.commit()
        finally:
            close = getattr(conn, "close", None)
            if close is not None:
                close()
        if after_commit is not None:
            after_commit(batch_id)

    return write


def duckdb_distributed_hooks(
    db_path: str, stage_dir: str, table: str, sink_id: str
) -> dict:
    """Hooks wiring ``exactly_once_batch_writer_distributed`` to DuckDB,
    whose single-writer file model forces each partition's scratch into its
    own database file (the batch-path precedent:
    tests/test_jdbc_live.py::_duckdb_file_hooks).  The driver connection is
    opened per batch and closed after promote, releasing the READ_ONLY
    attach locks so the next batch's executors can rewrite the scratch
    files.  On PostgreSQL none of this is needed — the defaults stage into
    same-database scratch tables."""
    from ..operators.dbapi import DuckTxnConnection

    def driver_conn_factory():
        return DuckTxnConnection(db_path)

    def connect_fn(pid: int):
        import os

        os.makedirs(stage_dir, exist_ok=True)
        return DuckTxnConnection(f"{stage_dir}/stream_stg_{pid}.db")

    def stage_ref(pid: int) -> str:
        return f'stg{pid}."{_stage_name(table, sink_id, pid)}"'

    def prepare_promote(conn, staged) -> None:
        # ATTACH outside the promote transaction, on the raw connection
        for pid in sorted({pid for pid, n in staged if n}):
            conn._c.execute(
                f"ATTACH IF NOT EXISTS '{stage_dir}/stream_stg_{pid}.db' "
                f"AS stg{pid} (READ_ONLY);"
            )

    return dict(
        driver_conn_factory=driver_conn_factory,
        connect_fn=connect_fn,
        stage_ref=stage_ref,
        prepare_promote=prepare_promote,
        cleanup=False,  # scratch files are rebuilt by DROP+CREATE next batch
    )


def stream_to_jdbc_exactly_once(
    df: DataFrame,
    conn_factory: Callable[[], object],
    table: str,
    columns: list[str],
    sink_id: str,
    checkpoint: str,
    create_sql: str | None = None,
    after_commit: Callable[[int], None] | None = None,
    commits_create_sql: str = _CREATE_COMMITS,
) -> StreamingQuery:
    """Wire a streaming DataFrame into the exactly-once JDBC sink."""
    writer = exactly_once_batch_writer(
        conn_factory,
        table,
        columns,
        sink_id,
        create_sql=create_sql,
        after_commit=after_commit,
        commits_create_sql=commits_create_sql,
    )
    return (
        df.writeStream.outputMode("append")
        .foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .start()
    )


def stream_to_jdbc_exactly_once_distributed(
    df: DataFrame,
    checkpoint: str,
    **writer_kwargs,
) -> StreamingQuery:
    """Wire a streaming DataFrame into the DISTRIBUTED exactly-once JDBC
    sink (``exactly_once_batch_writer_distributed`` kwargs pass through)."""
    writer = exactly_once_batch_writer_distributed(**writer_kwargs)
    return (
        df.writeStream.outputMode("append")
        .foreachBatch(writer)
        .option("checkpointLocation", checkpoint)
        .start()
    )
