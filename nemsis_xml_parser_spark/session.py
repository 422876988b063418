"""SparkSession factory tuned for both local testing and large clusters.

The reference opens one psycopg2 connection per run
(/root/reference/database_setup.py:18-41); our equivalent "connection" is a
SparkSession with scale-appropriate defaults.  Settings chosen for the
100 TB target:

* AQE on (runtime re-plan, skew-join splitting, partition coalescing)
* broadcast threshold high enough that every TPC-H-style dimension
  (region/nation/supplier/part at warehouse scale) broadcasts
* Arrow enabled so the pandas-UDF extension operators batch-transfer
* session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

# Repo root (the directory holding nemsis_xml_parser_spark/) — put on
# PYTHONPATH for the worker daemon so spark.python.daemon.module can
# import the preloading daemon (pydaemon.py) in the forked worker tree.
_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(
    app_name: str = "nemsis_xml_parser_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's defaults.

    On a real cluster ``master`` comes from spark-submit; locally we default
    to ``local[N]`` with N from ``$SPARK_GRAFT_CPUS`` (default 32).
    """
    if master is None:
        master = f"local[{os.environ.get('SPARK_GRAFT_CPUS', '*')}]"
    sp = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS

    # Python workers are forked from a daemon process and idle-culled
    # after a hard-coded 60 s; a stock daemon makes every fresh worker
    # re-import numpy/pandas/pyarrow (~1-3 s × every concurrent worker,
    # re-paid after each cull — a multi-second storm ahead of every
    # Arrow-kernel stage that follows a gap).  pydaemon preloads the
    # stack once in the daemon so forked workers inherit it via
    # copy-on-write.  It also stops every task from re-reading the
    # directories of pyspark.zip, the py4j zip and the spark-core jar
    # (~0.2-0.3 s per task on CPython 3.11/3.12) unless one changed on
    # disk (see pydaemon.py).  Must be on PYTHONPATH *before*
    # the JVM launches, because the daemon inherits the JVM's env.
    pp = os.environ.get("PYTHONPATH", "")
    if _REPO_ROOT not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            _REPO_ROOT + (os.pathsep + pp if pp else "")
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config(
            "spark.python.daemon.module",
            "nemsis_xml_parser_spark.pydaemon",
        )
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def load_tables(spark: SparkSession, sf_dir: str, names: list[str] | None = None):
    """Load the driver's parquet tables from ``sf_dir`` as a dict of DataFrames.

    Plain ``spark.read.parquet`` so Catalyst sees a pushdown-capable scan —
    filters and column pruning reach the parquet reader.
    """
    names = names or [
        "region",
        "nation",
        "customer",
        "supplier",
        "part",
        "orders",
        "lineitem",
        "events",
        "documents",
        "embeddings",
    ]
    return {n: spark.read.parquet(f"{sf_dir}/{n}.parquet") for n in names}
