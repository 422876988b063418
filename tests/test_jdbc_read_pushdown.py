"""Live JDBC *read* pushdown (the warehouse-reader direction).

The sink direction is covered by test_jdbc_live.py; this proves the read
path a PostgreSQL user hits first: filters and projections on a
``read_jdbc_table`` DataFrame must reach the database engine as pushed
predicates / narrowed select lists, not be evaluated Spark-side over a
full-table ship.  Runs against Apache Derby embedded — a real SQL engine
whose JDBC driver ships inside pyspark's own jars directory, so the scan,
the pushdown, and the returned rows are all live.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from nemsis_xml_parser_spark.operators.jdbc_sink import read_jdbc_table

pytestmark = pytest.mark.etl

DRIVER = "org.apache.derby.jdbc.EmbeddedDriver"


def _plan(df) -> str:
    return df.sparkSession._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@pytest.fixture(scope="module")
def derby(spark, tmp_path_factory):
    url = f"jdbc:derby:{tmp_path_factory.mktemp('derby')}/wh;create=true"
    src = spark.range(1000).select(
        F.col("id").alias("k"),
        (F.col("id") % 10).alias("bucket"),
        F.concat(F.lit("payload"), F.col("id")).alias("val"),
    )
    (
        src.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "events_wh")
        .option("driver", DRIVER)
        .mode("overwrite")
        .save()
    )
    return url


def test_filter_pushdown_reaches_database(spark, derby):
    df = (
        read_jdbc_table(spark, derby, "events_wh", driver=DRIVER)
        .where((F.col("bucket") == 3) & (F.col("k") >= 100))
        .select("k", "bucket")
    )
    plan = _plan(df)
    assert "PushedFilters" in plan
    pushed = next(
        line for line in plan.splitlines() if "PushedFilters" in line
    )
    # both predicates handed to the engine, not just IsNotNull noise
    assert "EqualTo(BUCKET,3)" in pushed.replace(" ", "") or "EqualTo(bucket,3)" in pushed.replace(" ", "")
    assert "GreaterThanOrEqual" in pushed
    rows = df.collect()
    assert len(rows) == 90  # k in [100, 1000) with k % 10 == 3
    assert all(r["bucket"] == 3 and r["k"] >= 100 for r in rows)


def test_column_pruning_narrows_readschema(spark, derby):
    df = read_jdbc_table(spark, derby, "events_wh", driver=DRIVER).select("k")
    plan = _plan(df)
    schema_line = next(
        line for line in plan.splitlines() if "ReadSchema" in line
    )
    assert "val" not in schema_line.lower()
    assert df.count() == 1000


def test_partitioned_read_splits_ranges(spark, derby):
    df = read_jdbc_table(
        spark, derby, "events_wh", driver=DRIVER,
        partition_column="k", num_partitions=4,
        lower_bound=0, upper_bound=1000,
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    with pytest.raises(ValueError, match="partitioned JDBC read"):
        read_jdbc_table(
            spark, derby, "events_wh", driver=DRIVER, partition_column="k"
        )


@pytest.fixture(scope="module")
def derby_catalog(spark, tmp_path_factory):
    """A staged warehouse CATALOG table: _files_processed with a serial
    file_id PK (the reference's XMLFilesProcessed.FileID SERIAL,
    /root/reference/database_setup.py:80-95)."""
    url = f"jdbc:derby:{tmp_path_factory.mktemp('derbycat')}/cat;create=true"
    rows = spark.range(1, 501).select(
        F.col("id").alias("file_id"),
        F.concat(F.lit("f"), F.col("id"), F.lit(".xml")).alias("file_name"),
        F.md5(F.col("id").cast("string")).alias("md5"),
        F.lit("Staged_Dynamic_PG_V4").alias("status"),
    )
    (
        rows.write.format("jdbc")
        .option("url", url)
        .option("dbtable", "files_processed")
        .option("driver", DRIVER)
        .mode("overwrite")
        .save()
    )
    return url


def test_catalog_partitioned_read_auto_bounds(spark, derby_catalog):
    from nemsis_xml_parser_spark.operators.jdbc_sink import (
        read_jdbc_table_partitioned,
    )

    df = read_jdbc_table_partitioned(
        spark, derby_catalog, "files_processed",
        partition_column="file_id", num_partitions=4, driver=DRIVER,
    )
    # N parallel JDBC partitions...
    assert df.rdd.getNumPartitions() == 4
    # ...with non-overlapping range predicates: every partition holds a
    # disjoint contiguous key stride and their union is exactly the table
    per_part = (
        df.select("file_id")
        .withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(
            F.count("*").alias("n"),
            F.min("file_id").alias("lo"),
            F.max("file_id").alias("hi"),
        )
        .orderBy("pid")
        .collect()
    )
    assert len(per_part) == 4 and all(r["n"] > 0 for r in per_part)
    assert sum(r["n"] for r in per_part) == 500  # no dupes, no gaps
    for a, b in zip(per_part, per_part[1:]):
        assert a["hi"] < b["lo"]  # strictly disjoint, ordered strides
    # the generated per-partition predicates are visible on the relation
    rel = df._jdf.queryExecution().analyzed().collectLeaves().apply(0).relation()
    parts = rel.parts()
    clauses = [parts[i].whereClause() for i in range(len(parts))]
    assert len(clauses) == 4
    assert any("file_id" in (c or "") for c in clauses)


def test_catalog_partitioned_read_empty_table_falls_back(spark, derby_catalog):
    from nemsis_xml_parser_spark.operators.jdbc_sink import (
        read_jdbc_table_partitioned,
    )

    spark.range(0).select(
        F.col("id").alias("file_id"), F.lit("x").alias("file_name")
    ).write.format("jdbc").option("url", derby_catalog).option(
        "dbtable", "files_empty"
    ).option("driver", DRIVER).mode("overwrite").save()
    df = read_jdbc_table_partitioned(
        spark, derby_catalog, "files_empty",
        partition_column="file_id", num_partitions=4, driver=DRIVER,
    )
    assert df.count() == 0
