"""The benchmark's workloads.

Each workload builds its inputs from the seed in ``setup`` (untimed),
restores its target in ``prepare`` (untimed), runs one operation in ``op``
(timed) and verifies that operation in ``check`` (untimed).  ``op`` returns
the units of work it completed: elements written or rows staged.  After a
traced op, ``traced_extra`` records the per-layer numbers, and after the
last op of a traced run ``traced_finish`` records those of whole passes.

The program is driven only through its public functions: ``ingest_xml_files``,
``flatten``, ``warehouse``, ``catalog``, ``jdbc_sink.stage_to_jdbc_distributed``
and the ``plans.QUERIES`` registry.  Checks read the program's output files
with DuckDB and pyarrow and compare them with counts the generators return.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from collections import Counter
from contextlib import contextmanager

import duckdb
import pyspark.sql.functions as F

import duck_target
import tables_gen
from nemsis_gen import Corpus, XmlFile

from nemsis_xml_parser_spark import catalog
from nemsis_xml_parser_spark.naming import COMMON_COLUMNS, value_column_name
from nemsis_xml_parser_spark.operators import bookkeeping, flatten, jdbc_sink, warehouse
from nemsis_xml_parser_spark.plans import QUERIES
from nemsis_xml_parser_spark.schema import STATUS_OK

SKIPPED = "Skipped_MD5_Seen"

# Registered plans of the traced run's query pass: the cheaper TPC-H shapes
# and text scoring.  dedup_minhash_lsh_candidates, ann_ivfpq_rerank_topk and
# graph_pagerank_centrality are left out: together they take 8.7 s of a 15 s
# warm pass on four cores.
PLAN_MIX = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q10_returned_items",
    "q21_last_shipper_multi_supplier",
    "text_bm25_score",
]
# the paper's own query shapes over the lake
NEMSIS_SHAPES = ["nemsis_value_select", "nemsis_parent_child_join", "nemsis_orphan_check"]
# parent/child tables of the NEMSIS query shapes
PARENT, CHILD = "evitals_vitalgroup", "evitals_06"

# Sizes: "full" is the benchmark, "tiny" the smoke test.  A full
# ingest_overwrite batch writes 22,120 elements into a lake of 222,440; a
# full stage_jdbc batch stages 100,440 rows, at or above
# jdbc_sink.DISTRIBUTED_ROW_THRESHOLD.
SIZES = {
    "full": dict(lake_files=40, lake_pcrs=20_200, batch_files=20, batch_pcrs=2_000,
                 resubmitted=2, stage_files=20, stage_pcrs=9_120,
                 stage_min_rows=jdbc_sink.DISTRIBUTED_ROW_THRESHOLD, sf=0.005,
                 query_reps=2),
    "tiny": dict(lake_files=2, lake_pcrs=20, batch_files=2, batch_pcrs=4,
                 resubmitted=1, stage_files=2, stage_pcrs=8, stage_min_rows=1,
                 sf=0.001, query_reps=1),
}


def write_files(files: list[XmlFile], directory: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    paths = []
    for f in files:
        p = os.path.join(directory, f.name)
        with open(p, "w") as fh:
            fh.write(f.text)
        paths.append(p)
    return paths


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class CheckFailed(Exception):
    pass


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


def lake_rows(lake: str) -> Counter:
    """Rows per (table, pcr_uuid_context) over every dynamic table."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT split_part(filename, '/', -2) AS t, pcr_uuid_context AS p, "
            "count(*) FROM read_parquet(?, union_by_name=true, filename=true) "
            "WHERE NOT starts_with(split_part(filename, '/', -2), '_') GROUP BY ALL",
            [os.path.join(lake, "*", "*.parquet")],
        ).fetchall()
        return Counter({(t, p): n for t, p, n in rows})
    finally:
        con.close()


def lake_markers(lake: str) -> dict[str, set[str]]:
    """eRecord.01 markers per PCR."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            "SELECT pcr_uuid_context, erecord_01_value FROM read_parquet(?)",
            [os.path.join(lake, "erecord_01", "*.parquet")],
        ).fetchall()
    finally:
        con.close()
    out: dict[str, set[str]] = {}
    for p, m in rows:
        out.setdefault(p, set()).add(m)
    return out


def expected_rows(files: list[XmlFile]) -> Counter:
    out: Counter = Counter()
    for f in files:
        for t, n in f.header_rows.items():
            out[(t, None)] += n
        for p in f.pcrs:
            for t, n in p.rows.items():
                out[(t, p.uuid)] += n
    return out


def table_files(lake: str) -> dict[str, tuple[int, float]]:
    """Per dynamic table: (parquet bytes, newest file mtime)."""
    out = {}
    for t in catalog.list_table_dirs(lake):
        size, newest = 0, 0.0
        for f in os.scandir(os.path.join(lake, t)):
            if f.name.endswith(".parquet"):
                st = f.stat()
                size += st.st_size
                newest = max(newest, st.st_mtime)
        out[t] = (size, newest)
    return out


class SparkJobs:
    """Spark jobs and tasks run since ``mark``, read from the status tracker."""

    def __init__(self, spark):
        self.tracker = spark.sparkContext.statusTracker()
        self.last = self._max_id()

    def _max_id(self) -> int:
        return max(self.tracker.getJobIdsForGroup(None) or [-1])

    def mark(self) -> None:
        self.last = self._max_id()

    def since_mark(self) -> tuple[int, int]:
        hi = self._max_id()
        tasks = 0
        for j in range(self.last + 1, hi + 1):
            info = self.tracker.getJobInfo(j)
            for s in info.stageIds if info else ():
                stage = self.tracker.getStageInfo(s)
                tasks += stage.numTasks if stage else 0
        return hi - self.last, tasks


class Workload:
    name = ""
    unit = ""  # what op() counts

    def __init__(self, spark, work: str, seed: int, size: dict, tracer):
        self.spark, self.work, self.seed, self.size = spark, work, seed, size
        self.tracer = tracer
        self.jobs = SparkJobs(spark)
        self.layer: dict[str, list[float]] = {}
        self.report: dict = {}

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    @contextmanager
    def phase(self, name: str):
        """Time one step of setup into the report."""
        t = time.perf_counter()
        yield
        self.report.setdefault("setup_phases_s", {})[name] = time.perf_counter() - t

    def setup(self) -> None: ...

    def prepare(self) -> None: ...

    def op(self) -> int:
        raise NotImplementedError

    def check(self) -> None: ...

    def traced_extra(self) -> None:
        """Untimed per-layer measurements after a traced op."""

    def traced_finish(self) -> int:
        """Untimed per-layer measurements after the last op of a traced run;
        returns the checked operations it ran."""
        return 0

    def install_wrappers(self) -> None:
        """Wrap program module attributes for the traced run."""


# --------------------------------------------------------------------------
# ingest with overwrite
# --------------------------------------------------------------------------


class IngestOverwrite(Workload):
    """One mixed batch into a lake ten times its size, restored before every
    op: byte-identical resubmissions, corrections of existing PCRs, new PCRs.
    The traced run ends with a query pass (``traced_finish``)."""

    name = "ingest_overwrite"
    unit = "elements"

    def setup(self) -> None:
        s = self.size
        corpus = Corpus(self.seed)
        with self.phase("generate"):
            lake_files = corpus.new_files(s["lake_files"], s["lake_pcrs"], prefix="lake")
            lake_paths = write_files(lake_files, os.path.join(self.work, "lake_src"))
            half = s["batch_pcrs"] // 2
            corrected = random.Random(self.seed).sample(
                [p for f in lake_files for p in f.pcrs], half)
            self.processed = corpus.mixed_files(s["batch_files"], corrected,
                                                s["batch_pcrs"] - half)
            batch_dir = os.path.join(self.work, "batch")
            self.resubmitted = write_files(lake_files[:s["resubmitted"]], batch_dir)
            self.processed_paths = write_files(self.processed, batch_dir)
            self.paths = self.resubmitted + self.processed_paths
        self.snapshot = os.path.join(self.work, "lake_snapshot")
        with self.phase("lake_build"):
            statuses = bookkeeping.ingest_xml_files(self.spark, lake_paths, self.snapshot)
        expect(all(v == STATUS_OK for v in statuses.values()), "lake build failed")
        base = expected_rows(lake_files)
        expect(lake_rows(self.snapshot) == base, "lake build rows differ")

        gone = {p.uuid for p in corrected}
        self.expected = Counter({k: n for k, n in base.items() if k[1] not in gone})
        self.expected.update(expected_rows(self.processed))
        self.markers = {p.uuid: p.marker for f in lake_files + self.processed
                        for p in f.pcrs}
        self.lake = os.path.join(self.work, "lake")
        self.report.update(lake_elements=sum(base.values()),
                           batch_elements=sum(f.elements for f in self.processed),
                           corrections=half, new_pcrs=s["batch_pcrs"] - half,
                           skipped_files=len(self.resubmitted))

    def prepare(self) -> None:
        shutil.rmtree(self.lake, ignore_errors=True)
        shutil.copytree(self.snapshot, self.lake)
        self.before = table_files(self.lake)

    def op(self) -> int:
        self.t_wall = time.time()
        self.jobs.mark()
        with self.tracer.span("bookkeeping.ingest_xml_files"):
            self.statuses = bookkeeping.ingest_xml_files(self.spark, self.paths, self.lake)
        self.op_jobs = self.jobs.since_mark()
        return sum(f.elements for f in self.processed)

    def check(self) -> None:
        st = self.statuses
        expect(all(st[p] == SKIPPED for p in self.resubmitted), "resubmission not skipped")
        expect(all(st[p] == STATUS_OK for p in self.processed_paths), "batch not staged")
        expect(lake_rows(self.lake) == self.expected, "lake rows differ after overwrite")
        markers = lake_markers(self.lake)
        expect(all(markers.get(u) == {m} for u, m in self.markers.items()),
               "a PCR keeps rows of another version")

    def install_wrappers(self) -> None:
        tr = self.tracer
        tr.wrap(bookkeeping, "files_to_process", span="bookkeeping.files_to_process")
        tr.wrap(bookkeeping, "log_processed_files", span="bookkeeping.log_processed_files")
        tr.wrap(bookkeeping, "file_md5", count="md5_reads")
        tr.wrap(flatten, "flatten_xml_files", span="flatten.flatten_xml_files")
        tr.wrap(warehouse, "table_names", span="warehouse.table_names")
        tr.wrap(warehouse, "attribute_columns_per_table",
                span="warehouse.attribute_columns_per_table")
        tr.wrap(catalog, "clean_scratch_dirs", span="catalog.clean_scratch_dirs")
        tr.wrap(catalog, "list_table_dirs", span="catalog.list_table_dirs")

    def traced_extra(self) -> None:
        tr, op = self.tracer, self.tracer.op_id
        self.record("spark.jobs_per_batch", self.op_jobs[0])
        self.record("spark.tasks_per_batch", self.op_jobs[1])
        self.record("bookkeeping.md5_reads_per_file",
                    tr.counts.pop("md5_reads", 0) / len(self.statuses))
        sp = {n: sum(tr.durations(n, op)) for n in (
            "bookkeeping.ingest_xml_files", "bookkeeping.files_to_process",
            "bookkeeping.log_processed_files", "flatten.flatten_xml_files",
            "warehouse.table_names", "warehouse.attribute_columns_per_table",
            "catalog.clean_scratch_dirs", "catalog.list_table_dirs")}
        self.record("bookkeeping.files_to_process_s", sp["bookkeeping.files_to_process"])
        self.record("bookkeeping.log_s", sp["bookkeeping.log_processed_files"])
        self.record("catalog.list_s", sp["catalog.clean_scratch_dirs"]
                    + sp["catalog.list_table_dirs"])
        self.record("warehouse.attribute_pass_s",
                    sp["warehouse.attribute_columns_per_table"])
        ingest_self = sp["bookkeeping.ingest_xml_files"] - sum(
            v for k, v in sp.items() if k != "bookkeeping.ingest_xml_files")

        # the same batch's flatten, materialised alone
        t = time.perf_counter()
        noop(flatten.flatten_xml_files(self.spark, self.processed_paths))
        busy = time.perf_counter() - t
        self.record("flatten.busy_s", busy)
        self.record("warehouse.write_s", ingest_self - busy)

        # in-process flatten of the same documents
        n_out, failed = 0, 0
        t = time.perf_counter()
        for p in self.processed_paths:
            with open(p, "rb") as fh:
                rows = flatten.flatten_xml_document(fh.read(), file_name=p)
            n_out += len(rows)
            failed += not rows
        self.record("flatten.doc_elements_per_s", n_out / (time.perf_counter() - t))
        self.record("flatten.elements_out", n_out)
        self.record("flatten.parse_failed_files", failed)

        after = table_files(self.lake)
        written = {t for t, (_, mtime) in after.items() if mtime >= self.t_wall}
        rewritten = written & set(self.before)
        rows = Counter()
        for (t, _), n in lake_rows(self.lake).items():
            rows[t] += n
        incoming = Counter()
        for f in self.processed:
            incoming.update(f.rows())
        ingested = sum(f.elements for f in self.processed)
        xml_bytes = sum(len(f.text.encode()) for f in self.processed)
        self.record("warehouse.tables_written", len(written))
        self.record("warehouse.bytes_per_element",
                    sum(after[t][0] for t in written) / max(1, sum(rows[t] for t in written)))
        self.record("overwrite.tables_rewritten", len(rewritten))
        self.record("overwrite.rows_rewritten_per_row_ingested",
                    sum(rows[t] - incoming[t] for t in rewritten) / ingested)
        self.record("overwrite.bytes_rewritten_per_byte_ingested",
                    sum(after[t][0] for t in rewritten) / xml_bytes)

    # -- query pass -----------------------------------------------------

    def _frame(self, name: str):
        if name in QUERIES:
            return QUERIES[name].spark(self.spark, self.sf_dir)
        child = self.spark.read.parquet(os.path.join(self.lake, CHILD))
        parent = self.spark.read.parquet(os.path.join(self.lake, PARENT))
        if name == "nemsis_value_select":
            return child.select("pcr_uuid_context", f"{CHILD}_value")
        if name == "nemsis_parent_child_join":
            return child.join(parent, child["parent_element_id"] == parent["element_id"])
        return warehouse.orphan_check(child, parent)

    def traced_finish(self) -> int:
        """Registered plans over seeded tables and the NEMSIS query shapes
        over the lake the last op left: each checked once (plans against
        their DuckDB oracle, shapes against the generator's counts), then
        timed query_reps times, materialised through the noop sink.  The
        pass counts as one checked operation."""
        self.sf_dir = os.path.join(self.work, "tables")
        self.report["table_rows"] = tables_gen.generate(self.sf_dir, self.seed,
                                                        self.size["sf"])
        want = tables_gen.oracle_digests(
            self.sf_dir, {q: QUERIES[q].oracle for q in PLAN_MIX})
        bad = [q for q in PLAN_MIX
               if tables_gen.result_digest(self._frame(q).toPandas()) != want[q]]
        expect(not bad, f"plans differ from their oracle: {bad}")
        child_rows = sum(n for (t, _), n in self.expected.items() if t == CHILD)
        expect(self._frame("nemsis_orphan_check").count() == 0, "orphan rows")
        expect(self._frame("nemsis_parent_child_join").count() == child_rows,
               "parent/child join rows differ from the generated child count")
        expect(self._frame("nemsis_value_select").count() == child_rows,
               "value select rows differ")

        builds, execs = [], []
        for name in PLAN_MIX + NEMSIS_SHAPES:
            totals = []
            for _ in range(self.size["query_reps"]):
                t0 = time.perf_counter()
                with self.tracer.span("plans.build"):
                    df = self._frame(name)
                t1 = time.perf_counter()
                with self.tracer.span("plans.exec"):
                    noop(df)
                builds.append(t1 - t0)
                execs.append(time.perf_counter() - t1)
                totals.append(time.perf_counter() - t0)
            metric = ("warehouse.orphan_check_s" if name == "nemsis_orphan_check"
                      else f"plans.{name}_s")
            self.record(metric, statistics.median(totals))
        self.record("plans.build_s", statistics.median(builds))
        self.record("plans.exec_s", statistics.median(execs))
        return 1


# --------------------------------------------------------------------------
# JDBC staging
# --------------------------------------------------------------------------


class StageJdbc(Workload):
    """One flattened, cached batch staged into a DuckDB target that already
    holds an earlier version of the batch's PCRs; the target file is
    restored before every op."""

    name = "stage_jdbc"
    unit = "rows"

    def setup(self) -> None:
        s = self.size
        with self.phase("generate"):
            files = Corpus(self.seed).new_files(s["stage_files"], s["stage_pcrs"])
            paths = write_files(files, os.path.join(self.work, "batch"))
        self.keys = sorted(p.uuid for f in files for p in f.pcrs)
        self.batch = dict(sum((f.rows() for f in files), Counter()))
        expect(sum(self.batch.values()) >= s["stage_min_rows"], "batch below size")
        self.markers = {p.uuid: p.marker for f in files for p in f.pcrs}
        self.stage_dir = os.path.join(self.work, "stage")
        os.makedirs(self.stage_dir)
        self.target = os.path.join(self.work, "target.db")
        self.snapshot = os.path.join(self.work, "target_snapshot.db")

        with self.phase("flatten_batch"):
            els = flatten.flatten_xml_files(self.spark, paths).cache()
            els.count()
        attr_map = warehouse.attribute_columns_per_table(els)
        tables = warehouse.table_names(els)
        self.registry = {t: list(COMMON_COLUMNS) + [value_column_name(t)]
                         + attr_map.get(t, []) for t in tables}
        self.frames = {t: warehouse.table_frame(els, t, attr_map.get(t, [])) for t in tables}
        self.comments = warehouse.table_comments(els)

        # The earlier version of the batch's PCRs: the same rows under other
        # element ids (the target's primary key) and other eRecord.01
        # markers, written straight into the target with the sink's DDL.
        with self.phase("initial_fill"):
            conn = duck_target.DuckConn(self.target)
            for t, cols in self.registry.items():
                for stmt in jdbc_sink.create_table_sql(
                        t, cols[len(COMMON_COLUMNS) + 1:], "public", self.comments.get(t)):
                    conn.execute_raw(stmt)
                f = self.frames[t].withColumn(
                    "element_id", F.concat(F.lit("v0-"), "element_id"))
                if t == "erecord_01":
                    f = f.withColumn("erecord_01_value",
                                     F.concat(F.lit("v0-"), "erecord_01_value"))
                conn.insert_arrow(t, f.select(*cols).toArrow())
            conn.close()
        expect(duck_target.table_counts(self.target) == self.batch,
               "initial fill rows differ")
        expect(duck_target.markers(self.target)
               == {u: "v0-" + m for u, m in self.markers.items()},
               "initial fill markers differ")
        shutil.copyfile(self.target, self.snapshot)

        header = sum((f.header_rows for f in files), Counter())
        # PCR rows are replaced; rows outside any PCR are appended
        self.want = {t: n + header[t] for t, n in self.batch.items()}
        self.report.update(batch_rows=sum(self.batch.values()), tables=len(self.registry))

    def prepare(self) -> None:
        shutil.copyfile(self.snapshot, self.target)
        for f in os.listdir(self.stage_dir):
            os.remove(os.path.join(self.stage_dir, f))
        self.conn = duck_target.DuckConn(self.target)
        self.conn.statements = 0
        self.counters = duck_target.StagingCounters()
        self.phases: dict = {}

    def _stage(self, frames) -> dict[str, int]:
        return jdbc_sink.stage_to_jdbc_distributed(
            self.conn, registry=self.registry, frames=frames,
            pcr_keys=self.keys, comments=self.comments,
            phase_timings=self.phases,
            **duck_target.staging_hooks(self.stage_dir, self.counters))

    def op(self) -> int:
        self.jobs.mark()
        with self.tracer.span("jdbc_sink.stage_to_jdbc_distributed"):
            self.inserted = self._stage(self.frames)
        self.op_jobs = self.jobs.since_mark()
        return sum(self.inserted.values())

    def check(self) -> None:
        self.conn.close()
        expect(self.inserted == self.batch, "rows staged per table differ")
        expect(duck_target.table_counts(self.target) == self.want, "target rows differ")
        expect(duck_target.markers(self.target) == self.markers,
               "a PCR keeps rows of its previous version")

    def traced_extra(self) -> None:
        self.record("spark.jobs_per_batch", self.op_jobs[0])
        self.record("spark.tasks_per_batch", self.op_jobs[1])
        self.record("jdbc_sink.stage_s", self.phases["stage_sec"])
        self.record("jdbc_sink.promote_s", self.phases["promote_sec"])
        self.record("jdbc_sink.partitions_staged", self.counters.partitions_staged)
        self.record("jdbc_sink.stage_connections",
                    duck_target.connections_logged(self.stage_dir))
        self.record("jdbc_sink.driver_statements", self.conn.statements)


WORKLOADS = {w.name: w for w in (IngestOverwrite, StageJdbc)}
