"""PostgreSQL/JDBC warehouse adapter (SURVEY B1-B4, D3/D6 on JDBC).

The reference materializes its warehouse in PostgreSQL with dynamic DDL:
CREATE TABLE with 5 common columns (+PK), ALTER TABLE ADD COLUMN widening,
and FK constraints with 63-char-safe names, all inside a per-file
transaction (/root/reference/main_ingest.py:169-273,500-642,644).

Spark's JDBC writer can't issue DDL/PK/FK, so this module does what the
reference's psycopg2 layer did — but set-based:

* ``create_table_sql`` / ``widen_table_sql`` / ``fk_constraint_sql``
  generate exact-shape DDL from the warehouse schema registry (one schema
  pass per tag instead of per element);
* ``fk_pairs`` derives the unique (child_table, parent_table) pairs
  distributively (D4);
* ``stage_to_jdbc_distributed`` is the one staging path: ONE coalesced
  ``mapInArrow`` job stages every table of the batch over one connection
  per task — the tables' frames go into the job as one union, in a flat
  "table tag + columns" layout of this module's own (``_to_flat``), and
  each task splits them apart again (``_split_by_table``); then ONE
  driver transaction runs DDL → a DELETE per table
  against the batch's PCR key set, staged once (D3) → one
  ``INSERT .. SELECT .. UNION ALL`` per table (D6).  No data row passes
  through the driver, whatever the size of the batch.

No PostgreSQL exists in the test container, so execution is exercised
against DuckDB in tests; the SQL strings are the parity artifact and are
byte-stable.
"""

from __future__ import annotations

import time as _time
from collections import Counter
from dataclasses import dataclass
from functools import reduce

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark import TaskContext
from pyspark.sql import DataFrame

from ..naming import COMMON_COLUMNS, fk_constraint_name, value_column_name


@dataclass(frozen=True)
class Dialect:
    """Engine-specific DDL knobs, so a real-PostgreSQL deployment (or the
    DuckDB/Derby engines the live tests run) is configuration, not code.

    Defaults are the PostgreSQL shapes the reference emits
    (/root/reference/database_setup.py:66-95: SERIAL PRIMARY KEY,
    TIMESTAMPTZ, quoted schema + unquoted bookkeeping table names that
    fold to lowercase).
    """

    name: str = "postgresql"
    text_type: str = "TEXT"
    timestamp_type: str = "TIMESTAMPTZ"
    integer_type: str = "INTEGER"
    #: auto-incrementing PK column clause (database_setup.py:70 SERIAL)
    serial_pk: str = "SERIAL PRIMARY KEY"
    #: engine understands CREATE TABLE IF NOT EXISTS / ADD COLUMN IF NOT
    #: EXISTS (Derby does neither; callers catch-and-rollback instead)
    if_not_exists: bool = True
    #: engine supports COMMENT ON TABLE (Derby has no table comments)
    supports_comment_on: bool = True

    @property
    def ine(self) -> str:
        return "IF NOT EXISTS " if self.if_not_exists else ""


POSTGRES = Dialect()
DUCKDB = Dialect(
    name="duckdb",
    # DuckDB has no SERIAL; sequences exist but the bookkeeping PK only
    # needs uniqueness in the live tests
    serial_pk="INTEGER PRIMARY KEY",
)
DERBY = Dialect(
    name="derby",
    text_type="VARCHAR(32000)",
    timestamp_type="TIMESTAMP",
    serial_pk="INTEGER GENERATED ALWAYS AS IDENTITY PRIMARY KEY",
    if_not_exists=False,
    supports_comment_on=False,
)

DIALECTS = {d.name: d for d in (POSTGRES, DUCKDB, DERBY)}


def create_table_sql(
    table: str,
    attr_cols: list[str],
    schema: str = "public",
    path_comment: str | None = None,
    dialect: Dialect = POSTGRES,
) -> list[str]:
    """CREATE TABLE with the reference's exact 5-common-column layout
    (main_ingest.py:210-246) + COMMENT carrying the XML path."""
    t = dialect.text_type
    cols = [
        f'"element_id" {t} PRIMARY KEY',
        f'"parent_element_id" {t}',
        f'"pcr_uuid_context" {t}',
        f'"original_tag_name" {t}',
        f'"{value_column_name(table)}" {t}',
    ] + [f'"{a}" {t}' for a in attr_cols]
    stmts = [
        f'CREATE TABLE {dialect.ine}"{schema}"."{table}" ({", ".join(cols)});'
    ]
    if path_comment is not None and dialect.supports_comment_on:
        escaped = path_comment.replace("'", "''")
        stmts.append(f'COMMENT ON TABLE "{schema}"."{table}" IS \'{escaped}\';')
    return stmts


def widen_table_sql(
    table: str,
    new_attr_cols: list[str],
    schema: str = "public",
    dialect: Dialect = POSTGRES,
) -> list[str]:
    """Schema evolution by widening (main_ingest.py:252-271), one ALTER per
    newly-observed attribute column."""
    return [
        f'ALTER TABLE "{schema}"."{table}" ADD COLUMN {dialect.ine}"{a}" '
        f"{dialect.text_type};"
        for a in new_attr_cols
    ]


def bookkeeping_ddl(schema: str = "public", dialect: Dialect = POSTGRES) -> list[str]:
    """The reference's two bookkeeping tables (database_setup.py:66-95),
    dialect-parameterized: SchemaVersions (SERIAL PK, TIMESTAMPTZ columns)
    and XMLFilesProcessed (TEXT PK, MD5 hash, FK to SchemaVersions).

    Identifier casing parity: the reference quotes the schema but leaves
    the bookkeeping table/column names unquoted, so PostgreSQL folds them
    to lowercase — these statements preserve that exact shape."""
    d = dialect
    return [
        f'CREATE TABLE {d.ine}"{schema}".SchemaVersions ('
        f"SchemaVersionID {d.serial_pk}, "
        f"VersionNumber {d.text_type} NOT NULL UNIQUE, "
        f"CreationDate {d.timestamp_type} NOT NULL, "
        f"UpdateDate {d.timestamp_type}, "
        f"Description {d.text_type}, "
        f"DemographicGroup {d.text_type});",
        f'CREATE TABLE {d.ine}"{schema}".XMLFilesProcessed ('
        f"ProcessedFileID {d.text_type} PRIMARY KEY, "
        f"OriginalFileName {d.text_type} NOT NULL, "
        f"MD5Hash {d.text_type}, "
        f"ProcessingTimestamp {d.timestamp_type} NOT NULL, "
        f"Status {d.text_type} NOT NULL, "
        f"SchemaVersionID {d.integer_type}, "
        f"DemographicGroup {d.text_type}, "
        f"FOREIGN KEY (SchemaVersionID) "
        f'REFERENCES "{schema}".SchemaVersions(SchemaVersionID));',
    ]


def fk_pairs(elements: DataFrame) -> list[tuple[str, str]]:
    """Distinct (child_table, parent_table) pairs derived distributively
    (parity: main_ingest.py:451-463 set-dedup, D4).

    Pairs keep the ORIGINAL sanitized-tag case — the reference builds the
    constraint name from raw-case tags (main_ingest.py:512-514,
    ``fk_PatientCareReport_Header``) and lowercases only the table
    identifiers inside the DDL; lowering here would change both the ideal
    name and the MD5 truncation suffix.
    """
    rows = (
        elements.where(F.col("parent_table_name").isNotNull())
        .select(
            F.col("table_name").alias("c"),
            F.col("parent_table_name").alias("p"),
        )
        .distinct()
        .collect()
    )
    return sorted((r["c"], r["p"]) for r in rows)


def fk_constraint_sql(
    child: str, parent: str, schema: str = "public", dialect: Dialect = POSTGRES
) -> tuple[str, str]:
    """(probe_sql, ddl_sql) for one FK: existence probe against
    information_schema (main_ingest.py:586-603) and the ADD CONSTRAINT with
    the 63-char-safe name and ON DELETE CASCADE (main_ingest.py:605-618).

    ``child``/``parent`` are original-case sanitized tags; the constraint
    name is derived from them verbatim (main_ingest.py:512-514) while the
    table identifiers are lowercased in the probe and DDL
    (main_ingest.py:509-510, ``.lower()`` on both tables).

    Derby has no information_schema — its probe walks the SYS catalog
    (SYSCONSTRAINTS ⋈ SYSTABLES ⋈ SYSSCHEMAS, type 'F'); the ADD
    CONSTRAINT DDL is identical across all three engines.
    """
    name = fk_constraint_name(child, parent)
    child_l, parent_l = child.lower(), parent.lower()
    if dialect.name == "derby":
        probe = (
            "SELECT c.CONSTRAINTNAME FROM SYS.SYSCONSTRAINTS c "
            "JOIN SYS.SYSTABLES t ON c.TABLEID = t.TABLEID "
            "JOIN SYS.SYSSCHEMAS s ON t.SCHEMAID = s.SCHEMAID "
            f"WHERE s.SCHEMANAME = '{schema}' AND t.TABLENAME = '{child_l}' "
            f"AND c.CONSTRAINTNAME = '{name}' AND c.TYPE = 'F'"
        )
    else:
        probe = (
            "SELECT constraint_name FROM information_schema.table_constraints "
            f"WHERE table_schema = '{schema}' AND table_name = '{child_l}' "
            f"AND constraint_name = '{name}' AND constraint_type = 'FOREIGN KEY';"
        )
    ddl = (
        f'ALTER TABLE "{schema}"."{child_l}" ADD CONSTRAINT "{name}" '
        f'FOREIGN KEY ("parent_element_id") REFERENCES "{schema}"."{parent_l}" '
        '("element_id") ON DELETE CASCADE;'
    )
    return probe, ddl


def _prepare_target(cur, table, cols, comments, schema) -> None:
    """Target DDL inside the caller's transaction: CREATE TABLE IF NOT
    EXISTS, then ADD COLUMN IF NOT EXISTS for every attribute column of the
    batch (an existing table gains the columns a new batch brings)."""
    attr_cols = [
        c for c in cols if c not in COMMON_COLUMNS and c != value_column_name(table)
    ]
    for stmt in create_table_sql(table, attr_cols, schema, (comments or {}).get(table)):
        cur.execute(stmt)
    for stmt in widen_table_sql(table, attr_cols, schema):
        cur.execute(stmt)


#: DBAPI paramstyle → placeholder token (psycopg2 is "format", duckdb and
#: most JDBC-bridged drivers are "qmark")
_PLACEHOLDERS = {"format": "%s", "qmark": "?"}


def insert_sql(
    table: str, columns: list[str], schema: str = "public", paramstyle: str = "format"
) -> str:
    """Parameterized batched INSERT template (executemany) — replaces the
    reference's statement-per-element (main_ingest.py:485-495)."""
    collist = ", ".join(f'"{c}"' for c in columns)
    params = ", ".join([_PLACEHOLDERS[paramstyle]] * len(columns))
    qual = f'"{schema}"."{table}"' if schema else f'"{table}"'
    return f'INSERT INTO {qual} ({collist}) VALUES ({params});'


def read_jdbc_table(
    spark,
    url: str,
    table: str,
    driver: str | None = None,
    fetch_size: int = 10_000,
    partition_column: str | None = None,
    num_partitions: int | None = None,
    lower_bound=None,
    upper_bound=None,
) -> DataFrame:
    """Warehouse-reader direction of the JDBC adapter (the first thing a
    PostgreSQL user runs against the staged warehouse): a ``spark.read``
    JDBC scan with pushdown-friendly defaults.

    Filters and projections applied on the returned DataFrame reach the
    database as WHERE clauses / narrowed SELECT lists (Catalyst's
    JDBCRelation pushdown — ``PushedFilters`` in the plan; asserted live
    in tests/test_jdbc_read_pushdown.py), so a 3-column probe of one key
    never ships the whole table.  ``fetch_size`` keeps the driver-side
    JDBC cursor streaming instead of buffering entire result sets
    (PostgreSQL defaults to all-rows without it).  For large tables pass
    ``partition_column``/``num_partitions``/bounds so the scan issues one
    range-predicated query per partition — executor-parallel reads, the
    read-side mirror of ``stage_to_jdbc_distributed``.
    """
    reader = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("fetchsize", str(fetch_size))
    )
    if driver is not None:
        reader = reader.option("driver", driver)
    if partition_column is not None:
        if num_partitions is None or lower_bound is None or upper_bound is None:
            raise ValueError(
                "partitioned JDBC read needs num_partitions, lower_bound "
                "and upper_bound along with partition_column"
            )
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("numPartitions", str(num_partitions))
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
        )
    return reader.load()


def read_jdbc_table_partitioned(
    spark,
    url: str,
    table: str,
    partition_column: str,
    num_partitions: int,
    driver: str | None = None,
    fetch_size: int = 10_000,
) -> DataFrame:
    """Partitioned JDBC read with AUTO-DISCOVERED bounds — the form the
    warehouse catalog/bookkeeping tables are read with (their serial PKs
    — ``file_id`` in ``_files_processed``, mirroring the reference's
    ``XMLFilesProcessed.FileID`` SERIAL — are ideal stride columns, but
    their extent is unknown until runtime).

    Bounds come from ONE one-row aggregate pushed to the engine as a
    subquery scan (``(SELECT MIN(c), MAX(c) FROM t) q`` — the database
    does the aggregation, Spark ships back a single row), then the scan
    issues ``num_partitions`` range-predicated queries in parallel —
    non-overlapping strides covering the whole key space, executor-side.
    Empty tables fall back to an unpartitioned read (no bounds to
    stride).
    """
    # ANSI-quote the probe COLUMN: Spark's JDBC writer quotes column
    # identifiers at CREATE time (case-sensitive "file_id" in Derby), so
    # an unquoted file_id would resolve to FILE_ID and miss.  The table
    # name is passed through unquoted, exactly as read_jdbc_table uses it.
    qc = f'"{partition_column}"'
    probe_sql = (
        f'(SELECT MIN({qc}) AS "lo", MAX({qc}) AS "hi" FROM {table}) probe'
    )
    probe = read_jdbc_table(spark, url, probe_sql, driver=driver).collect()[0]
    if probe["lo"] is None:
        return read_jdbc_table(spark, url, table, driver=driver, fetch_size=fetch_size)
    return read_jdbc_table(
        spark,
        url,
        table,
        driver=driver,
        fetch_size=fetch_size,
        partition_column=partition_column,
        num_partitions=num_partitions,
        lower_bound=probe["lo"],
        # upperBound is exclusive in stride computation but rows >= it
        # still land in the last partition; passing hi keeps strides even
        upper_bound=probe["hi"],
    )


#: the batch size the staging path is benchmarked at (100k rows, far above
#: any NEMSIS file the reference ingests); nothing in the program routes
#: on it
DISTRIBUTED_ROW_THRESHOLD = 100_000


def stage_table_name(table: str, pid: int) -> str:
    """Scratch table holding one staging task's rows of ``table``."""
    return f"{table}__stg{pid}"


def stage_table_ddl(stage: str, columns: list[str], schema: str | None) -> list[str]:
    """Self-contained DDL for a task's stage table (all TEXT, like the
    warehouse — main_ingest.py:210-246 types every column TEXT).  DROP+CREATE
    makes a Spark task retry idempotent: a re-run task rebuilds its scratch
    table from zero instead of double-inserting."""
    qual = f'"{schema}"."{stage}"' if schema else f'"{stage}"'
    cols = ", ".join(f'"{c}" TEXT' for c in columns)
    return [f"DROP TABLE IF EXISTS {qual};", f"CREATE TABLE {qual} ({cols});"]


#: rows of one table a staging task buffers before appending them to its
#: stage table, so a task holds about this many rows per table
STAGE_CHUNK_ROWS = 1 << 16
#: what each staging task returns: one row per stage table it filled
STAGED_SCHEMA = "table string, pid int, rows long"
#: temporary table holding a batch's PCR keys during the promote
KEYS_TABLE = "_batch_pcr_keys"


# the flat layout a staging job moves every table of a batch in, one union
# of the tables' frames: table tag, the 4 common columns, the value, and
# attribute slots "_a0".."_aN" (named by position, so no attribute name can
# collide with them)
_TABLE, _VALUE = "_t", "_v"


def _flat_slots(columns: dict[str, list[str]]) -> dict[str, str]:
    """Attribute slot of every attribute column in ``columns`` ({table:
    its column names}), shared by all the tables."""
    names = sorted(
        {c for t, cols in columns.items() for c in cols
         if c not in COMMON_COLUMNS and c != value_column_name(t)}
    )
    return {c: f"_a{i}" for i, c in enumerate(names)}


def _flat_source(table: str, column: str, slots: dict[str, str]) -> str:
    """Flat column holding ``table``'s ``column``: a common column as it
    is, the table's value column -> _VALUE, any other column -> its slot."""
    if column in COMMON_COLUMNS:
        return column
    return _VALUE if column == value_column_name(table) else slots[column]


def _to_flat(
    frame: DataFrame, table: str, columns: list[str], slots: dict[str, str]
) -> DataFrame:
    """``frame``'s ``columns`` (those of ``table``) in the flat layout,
    tagged ``table``; the slots of columns the table lacks are NULL."""
    have = {_flat_source(table, c, slots): c for c in columns}
    null = F.lit(None).cast("string")
    return frame.select(
        F.lit(table).alias(_TABLE),
        *[
            (F.col(have[s]) if s in have else null).alias(s)
            for s in [*COMMON_COLUMNS, _VALUE, *slots.values()]
        ],
    )


def _split_by_table(
    batches, layouts: dict[str, tuple[list[str], list[str]]], chunk_rows: int
):
    """Task side of a flat-layout job: split Arrow ``batches`` by table tag
    and yield (table, Arrow table in the table's own column names).
    ``layouts`` maps a table to (column names, flat source columns).  A
    table's rows are yielded once ``chunk_rows`` of them are buffered, and
    the rest at the end, so a task holds at most about ``chunk_rows`` rows
    per table, whatever the size of its partition."""
    pending: dict[str, list[pa.RecordBatch]] = {}
    buffered: Counter = Counter()
    for batch in batches:
        tags = batch.column(_TABLE)
        for t in pc.unique(tags).to_pylist():
            names, sources = layouts[t]
            sub = batch.filter(pc.equal(tags, t))
            pending.setdefault(t, []).append(
                pa.RecordBatch.from_arrays([sub.column(s) for s in sources], names=names)
            )
            buffered[t] += sub.num_rows
            if buffered[t] >= chunk_rows:
                buffered[t] = 0
                yield t, pa.Table.from_batches(pending.pop(t))
    for t, rest in pending.items():
        yield t, pa.Table.from_batches(rest)


def stage_partition(
    batches,
    pid: int,
    connect_fn,
    layouts: dict[str, tuple[list[str], list[str]]],
    stage_schema: str | None = None,
    stage_rows=None,
    paramstyle: str = "format",
) -> list[tuple[str, int, int]]:
    """Task side of the staging job: split flat-layout Arrow ``batches`` by
    table (``_split_by_table``; ``layouts`` maps a table to its
    column names and flat source columns) and stage each table's rows into
    ``stage_table_name(table, pid)`` over ONE connection,
    ``connect_fn(pid)``, opened at the first row.  Each stage table is
    rebuilt (DROP+CREATE) once, then appended to in chunks of about
    ``STAGE_CHUNK_ROWS`` rows — through ``stage_rows`` when given, else
    one ``executemany`` per chunk — and the connection commits once.
    Returns (table, pid, rows) per stage table."""
    rows: dict[str, int] = {}
    conn = None
    try:
        for table, part in _split_by_table(batches, layouts, STAGE_CHUNK_ROWS):
            if conn is None:
                conn = connect_fn(pid)
                cur = conn.cursor()
            cols = layouts[table][0]
            stage = stage_table_name(table, pid)
            if table not in rows:
                for stmt in stage_table_ddl(stage, cols, stage_schema):
                    cur.execute(stmt)
                rows[table] = 0
            tuples = list(zip(*(c.to_pylist() for c in part.columns)))
            if stage_rows is not None:
                stage_rows(conn, stage, stage_schema, cols, tuples)
            else:
                cur.executemany(insert_sql(stage, cols, stage_schema, paramstyle), tuples)
            rows[table] += part.num_rows
        if conn is not None:
            conn.commit()
    except Exception:
        if conn is not None:
            conn.rollback()
        raise
    finally:
        if conn is not None and hasattr(conn, "close"):
            conn.close()
    return [(t, pid, n) for t, n in sorted(rows.items())]


def delete_by_key_set(
    cur, tables, pcr_keys: list[str], schema: str = "public", paramstyle: str = "format"
) -> None:
    """Delete the batch's PCRs from ``tables``: stage the key set ONCE, as
    a temporary table filled by one bound statement (so no key is ever
    spliced into SQL), then one ``DELETE .. IN (SELECT ..)`` per table.
    Rows with a NULL ``pcr_uuid_context`` never match (main_ingest.py:312-316
    deletes per concrete UUID)."""
    if not pcr_keys:
        return
    cur.execute(
        f'CREATE TEMP TABLE "{KEYS_TABLE}" AS SELECT '
        f'unnest(CAST({_PLACEHOLDERS[paramstyle]} AS TEXT[])) AS "pcr_uuid_context";',
        (list(pcr_keys),),
    )
    for table in tables:
        cur.execute(
            f'DELETE FROM "{schema}"."{table}" WHERE "pcr_uuid_context" IN '
            f'(SELECT "pcr_uuid_context" FROM "{KEYS_TABLE}");'
        )
    cur.execute(f'DROP TABLE "{KEYS_TABLE}";')


_SAME_AS_TARGET = object()  # sentinel: stage_schema=None means "unqualified"


def stage_to_jdbc_distributed(
    driver_conn,
    connect_fn,
    registry: dict[str, list[str]],
    frames: dict[str, DataFrame],
    pcr_keys: list[str],
    comments: dict[str, str] | None = None,
    schema: str = "public",
    paramstyle: str = "format",
    stage_schema: str | None = _SAME_AS_TARGET,
    stage_ref=None,
    prepare_promote=None,
    phase_timings: dict | None = None,
    stage_rows=None,
) -> dict[str, int]:
    """Two-phase staging of a batch into the JDBC target: the sink's one
    path, for a one-file batch as for a 100 TB one.

    Phase 1 (executors, ONE Spark job): every table frame is projected into
    the flat layout (``_to_flat``: table tag, the 4 common columns, the
    value, attribute slots), the union
    is coalesced to ``defaultParallelism`` tasks, and ``mapInArrow`` hands
    each task its rows as Arrow batches.  Each task opens ONE DBAPI
    connection, ``connect_fn(task_id)``, and stages every table it holds
    into its own scratch table (``stage_partition``: DROP+CREATE, so a
    retried task is idempotent, then chunked appends, then one commit).
    No data row passes through the driver — the driver receives one
    (table, task_id, n_rows) triple per stage table.

    Phase 2 (driver, ONE transaction): target DDL (create, widen) → the
    batch's key set staged once and deleted from every registry table
    (``delete_by_key_set``) → one ``INSERT INTO target SELECT .. FROM
    stage UNION ALL ..`` per table over its tasks' stage tables → single
    commit.  A failure anywhere rolls the target back untouched — the same
    per-file all-or-nothing guarantee as the reference
    (main_ingest.py:644), but the data motion is
    executor-parallel and server-side.

    Hooks for engines whose scratch lives outside the target database
    (the DuckDB live test stages into per-task files):

    * ``stage_ref(table, pid) -> str`` — FROM-able identifier for a staged
      task's table as seen by ``driver_conn`` (default: the same-database
      ``"{schema}"."{table}__stg{pid}"``, the PostgreSQL shape, whose stage
      tables are dropped after the commit; scratch behind an overridden
      ``stage_ref`` is left to its owner);
    * ``prepare_promote(driver_conn, staged) -> None`` — driver-side setup
      before the promote transaction (e.g. ``ATTACH`` scratch files);
      ``staged`` is the list of (table, pid, n_rows) triples;
    * ``phase_timings`` — optional dict the call fills with wall seconds
      per phase (``stage_sec`` executor scratch writes, ``promote_sec``
      the driver promote transaction) so benches can name the bottleneck
      instead of guessing from the total;
    * ``stage_rows(conn, stage_table, stage_schema, cols, rows)`` —
      engine-NATIVE bulk load of one chunk of row tuples into its scratch
      table, replacing the generic ``executemany`` batches.  Measured on
      the 10k-file ingest bench (BENCH_ingest_r14.json): DBAPI
      ``executemany`` row binding is the staging bottleneck at ~2k
      rows/s/connection; the DuckDB Arrow-register INSERT..SELECT hook
      is ~150x that, and the PostgreSQL equivalent is
      ``cursor.copy_expert("COPY stage FROM STDIN", buf)`` — COPY is
      the standard bulk path any real PG deployment should pass here.
    """
    if stage_schema is _SAME_AS_TARGET:
        stage_schema = schema
    default_ref = stage_ref is None
    if default_ref:

        def stage_ref(table: str, pid: int) -> str:
            return f'"{stage_schema}"."{stage_table_name(table, pid)}"'

    _t_stage0 = _time.perf_counter()
    slots = _flat_slots(registry)
    layouts = {
        t: (cols, [_flat_source(t, c, slots) for c in cols])
        for t, cols in registry.items()
    }

    def run(batches):
        pid = TaskContext.get().partitionId()
        staged = stage_partition(
            batches, pid, connect_fn, layouts, stage_schema, stage_rows, paramstyle
        )
        yield pa.RecordBatch.from_pylist(
            [{"table": t, "pid": p, "rows": n} for t, p, n in staged],
            schema=pa.schema([("table", pa.string()), ("pid", pa.int32()),
                              ("rows", pa.int64())]),
        )

    staged: list[tuple[str, int, int]] = []
    if registry:
        flat = reduce(
            DataFrame.unionByName,
            [_to_flat(frames[t], t, cols, slots) for t, cols in registry.items()],
        )
        out = (
            flat.coalesce(flat.sparkSession.sparkContext.defaultParallelism)
            .mapInArrow(run, STAGED_SCHEMA)
            .toArrow()
        )
        staged = sorted(zip(*(out.column(c).to_pylist() for c in out.column_names)))

    if phase_timings is not None:
        phase_timings["stage_sec"] = round(_time.perf_counter() - _t_stage0, 2)

    _t_promote0 = _time.perf_counter()
    if prepare_promote is not None:
        prepare_promote(driver_conn, staged)

    inserted: dict[str, int] = dict.fromkeys(registry, 0)
    sources: dict[str, list[str]] = {}
    for table, pid, n in staged:
        if n:
            inserted[table] += n
            sources.setdefault(table, []).append(stage_ref(table, pid))
    cur = driver_conn.cursor()
    try:
        for table, cols in registry.items():
            _prepare_target(cur, table, cols, comments, schema)
        delete_by_key_set(cur, registry, pcr_keys, schema, paramstyle)
        for table, refs in sources.items():
            collist = ", ".join(f'"{c}"' for c in registry[table])
            union = " UNION ALL ".join(f"SELECT {collist} FROM {r}" for r in refs)
            cur.execute(f'INSERT INTO "{schema}"."{table}" ({collist}) {union};')
        driver_conn.commit()
    except Exception:
        driver_conn.rollback()
        raise
    if default_ref:
        for table, pid, _ in staged:
            cur.execute(f"DROP TABLE IF EXISTS {stage_ref(table, pid)};")
        driver_conn.commit()
    if phase_timings is not None:
        phase_timings["promote_sec"] = round(
            _time.perf_counter() - _t_promote0, 2
        )
    return inserted
