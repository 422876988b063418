"""NEMSIS ingest / warehouse benchmark.

    python3 perfbench/run.py --workload ingest_overwrite --seed 1 --seconds 4 --trace 0

Run from the repository root.  One process drives the program through its
public functions on ``local[N]``, N = the cores this process may use.  Each
workload is a closed loop with one client: an operation starts only after
the previous one completed and was checked.  Inputs come from ``--seed``;
all scratch data (XML, lakes, DuckDB files, Spark local dirs, metastore,
temp files) lives in a temporary directory under ``.perfbench/`` and is
removed at exit; a report per run is kept in ``.perfbench/results/``.

The last stdout line is the result: ``{"correct", "attempted", "failed",
"metrics"}``.  With ``--trace 0`` the metrics are the end-to-end metrics,
with ``--trace 1`` the per-layer metrics of a traced run, where every other
operation records spans (``tracing.py``) and the untraced ones give the
tracing overhead; the traced ``ingest_overwrite`` run ends with a pass of
registered plans and NEMSIS query shapes.  The line before it is a JSON
report with the environment, sample counts and warm-up times.  A failed
operation or check ends the loop; the run still prints its result, with
``correct`` false.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".perfbench")
# Untimed ops after set-up.  The first op is 25-40% slower than the next
# ones, which differ by about 5%; ingest_overwrite's set-up already ran one
# ingest batch (the lake build).
WARM_OPS = 1

END_TO_END = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "op_p50_s": "s",
}
# per-layer metrics every workload emits (0 where the layer does no work)
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "process.peak_rss_mb": "MB",
    "flatten.busy_s": "s",
    "flatten.doc_elements_per_s": "1/s",
    "flatten.elements_out": "count",
    "flatten.parse_failed_files": "count",
    "warehouse.tables_written": "count",
    "warehouse.attribute_pass_s": "s",
    "warehouse.write_s": "s",
    "warehouse.bytes_per_element": "B",
    "overwrite.tables_rewritten": "count",
    "overwrite.rows_rewritten_per_row_ingested": "ratio",
    "overwrite.bytes_rewritten_per_byte_ingested": "ratio",
    "bookkeeping.files_to_process_s": "s",
    "bookkeeping.log_s": "s",
    "bookkeeping.md5_reads_per_file": "ratio",
    "catalog.list_s": "s",
    "spark.jobs_per_batch": "count",
    "spark.tasks_per_batch": "count",
    "jdbc_sink.stage_s": "s",
    "jdbc_sink.promote_s": "s",
    "jdbc_sink.partitions_staged": "count",
    "jdbc_sink.stage_connections": "count",
    "jdbc_sink.driver_statements": "count",
    **{f"plans.{q}_s": "s" for q in (
        "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
        "q10_returned_items", "q21_last_shipper_multi_supplier", "text_bm25_score",
        "nemsis_value_select", "nemsis_parent_child_join")},
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "warehouse.orphan_check_s": "s",
    "self.bookkeeping_s": "s",
    "self.flatten_s": "s",
    "self.warehouse_s": "s",
    "self.catalog_s": "s",
    "self.jdbc_sink_s": "s",
    "trace.overhead_ratio": "ratio",
    "trace.spans_per_op": "count",
}


def vm_hwm_mb(pid: int | str) -> float:
    """Peak resident set of a process, from /proc."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat (user nice system idle iowait
    irq softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def cores() -> int:
    avail = len(os.sched_getaffinity(0))
    asked = int(os.environ.get("SPARK_GRAFT_CPUS") or avail)
    return max(1, min(asked, avail))


def start_spark(work: str, n_cores: int):
    os.environ["SPARK_GRAFT_CPUS"] = str(n_cores)
    for d in ("tmp", "local", "metastore", "spark-warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # Python workers unpickle the staging hooks defined in this directory
    pp = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = HERE + (os.pathsep + pp if pp else "")
    from nemsis_xml_parser_spark.session import get_spark

    java_opts = (f"-Djava.io.tmpdir={work}/tmp -Dderby.system.home={work}/metastore "
                 "-XX:-UsePerfData")
    # the launcher JVM spark-submit starts first would write to /tmp too
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData"
    return get_spark("perfbench", extra_conf={
        "spark.local.dir": os.path.join(work, "local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.driver.extraJavaOptions": java_opts,
    })


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM this process launched."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Loop:
    """Runs operations; an op and its check count as one attempt."""

    def __init__(self, w, tracer):
        self.w, self.tracer = w, tracer
        self.attempted = self.failed = 0
        self.samples: list[float] = []  # op seconds, successful ops
        self.traced: list[float] = []   # op seconds of traced ops
        self.untraced: list[float] = []
        self.work = 0

    def one(self, traced: bool) -> float:
        w, tr = self.w, self.tracer
        self.attempted += 1
        w.prepare()
        tr.op_id = self.attempted
        tr.enabled = traced
        t0 = time.perf_counter()
        try:
            done = w.op()
            dt = time.perf_counter() - t0
        finally:
            tr.enabled = False
        w.check()
        if traced:
            w.traced_extra()
        self.work += done
        return dt

    def attempt(self, traced: bool = False) -> float | None:
        """One op; its seconds, or None if it or its check failed."""
        try:
            dt = self.one(traced)
        except Exception:
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return None
        self.samples.append(dt)
        (self.traced if traced else self.untraced).append(dt)
        return dt

    def restart(self) -> None:
        """Forget the samples so far (warm-up); attempts and failures stay."""
        self.samples, self.traced, self.untraced, self.work = [], [], [], 0


def warm_up(loop: Loop, n_ops: int) -> list[float]:
    """n_ops untimed ops before the measured ones (fewer at a failure)."""
    times: list[float] = []
    while len(times) < n_ops:
        t = loop.attempt()
        if t is None:
            break
        times.append(t)
    return times


def main(argv=None) -> int:
    t_setup0 = time.perf_counter()
    cpu0 = cpu_times()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    size = workloads.SIZES[args.size]
    n_cores = cores()
    os.makedirs(OUT, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=OUT)
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work, n_cores)
        start_s = time.perf_counter() - t
        tracer = Tracer(enabled=False)
        w = workloads.WORKLOADS[args.workload](spark, work, args.seed, size, tracer)
        w.setup()
        loop = Loop(w, tracer)
        t = time.perf_counter()
        warm_times = warm_up(loop, WARM_OPS)
        warmup_s = time.perf_counter() - t
        setup_s = time.perf_counter() - t_setup0

        if args.trace:
            w.install_wrappers()
        # Traced runs alternate untraced and traced ops, three at least, so a
        # traced op sits between two untraced ones and the tracing overhead
        # is not confounded with the drift of op times over a run.
        loop.restart()
        while not loop.failed and (sum(loop.samples) < args.seconds
                                   or len(loop.samples) < 3 * args.trace):
            loop.attempt(traced=bool(args.trace) and len(loop.samples) % 2 == 1)
        tracer.unwrap_all()
        if args.trace and not loop.failed:
            try:
                tracer.op_id, tracer.enabled = None, True  # spans outside any op
                loop.attempted += w.traced_finish()
            except Exception:
                loop.attempted += 1
                loop.failed += 1
                traceback.print_exc(file=sys.stderr)
            finally:
                tracer.enabled = False

        import duckdb
        import pyspark
        from pyspark import SparkContext

        peak_rss = vm_hwm_mb("self") + vm_hwm_mb(SparkContext._gateway.proc.pid)
        busy = sum(loop.samples)
        cpu = [b - a for a, b in zip(cpu0, cpu_times())]
        if args.trace:
            units = PER_LAYER_UNITS
            metrics = layer_metrics(units, w, tracer, loop, start_s, warmup_s)
            metrics["process.peak_rss_mb"] = peak_rss
        else:
            metrics = {
                "setup_s": setup_s,
                "throughput_per_s": loop.work / busy if busy else 0.0,
                "op_p50_s": statistics.median(loop.samples) if loop.samples else 0.0,
            }
            units = END_TO_END
        report = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "size": args.size, "seconds": args.seconds,
            "nproc": os.cpu_count(), "cores_used": n_cores,
            "versions": {"python": platform.python_version(),
                         "pyspark": pyspark.__version__, "duckdb": duckdb.__version__},
            "unit_of_work": w.unit, "work": loop.work, "ops": len(loop.samples),
            "op_s": loop.samples, "warmup_op_s": warm_times,
            "session_start_s": start_s, "setup_s": setup_s, "warmup_s": warmup_s,
            "peak_rss_mb": peak_rss,
            # share of CPU time the hypervisor gave to other guests
            "cpu_steal_share": cpu[7] / max(1, sum(cpu)),
            "error_rate": loop.failed / max(1, loop.attempted),
            **w.report,
        }
        result = {
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }
        name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
        with open(os.path.join(OUT, "results", name + ".json"), "w") as f:
            json.dump({"report": report, "result": result}, f, indent=1)
        if args.trace:
            tracer.dump(os.path.join(OUT, "results", name + ".spans.json"))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"report": report}))
    print(json.dumps(result))
    return 0


def layer_metrics(units, w, tracer, loop, start_s: float, warmup_s: float) -> dict:
    out = {k: 0.0 for k in units}
    for k, vals in w.layer.items():
        out[k] = statistics.median(vals)
    out["session.start_s"] = start_s
    out["session.warmup_s"] = warmup_s
    n_traced = max(1, len(loop.traced))
    for layer, secs in tracer.self_times().items():
        if f"self.{layer}_s" in out:
            out[f"self.{layer}_s"] = secs / n_traced
    out["trace.spans_per_op"] = sum(s[4] is not None for s in tracer.spans) / n_traced
    if loop.traced and loop.untraced:
        out["trace.overhead_ratio"] = (statistics.median(loop.traced)
                                       / statistics.median(loop.untraced))
    return out


if __name__ == "__main__":
    sys.exit(main())
