"""Per-tag warehouse fan-out (SURVEY E1/B1-B3) and attribute pivot.

The reference creates one PostgreSQL table per distinct XML tag with 5
common columns + one TEXT column per observed attribute
(/root/reference/main_ingest.py:169-273), widening with ``ALTER TABLE`` as
new attributes appear (:252-271) and inserting row-at-a-time (:466-495).

Spark-first redesign:

* the canonical elements DataFrame keeps attributes in a MAP column;
* ``attribute_columns_per_table`` derives the full column set per tag in ONE
  distributed pass (replaces per-element catalog probes — the reference's
  main scalability anti-pattern, SURVEY §4);
* ``table_frame`` produces the exact reference table shape (FIXTURES.md F3):
  ``element_id, parent_element_id, pcr_uuid_context, original_tag_name,
  {table}_value`` + attribute columns, names lowercased, attr names that
  collide with the common columns silently dropped — parity with the
  column-intersection filter (/root/reference/main_ingest.py:479-483);
* the flat layout (``flat_slots``, ``flat_source``, ``to_flat``,
  ``split_by_table``) carries every table of a batch in one frame — table
  tag, the 4 common columns, the value, one slot per attribute column — so
  both sinks move a batch in ONE Spark job: ``overwrite.overwrite_pcrs``
  (the per-tag lake, one parquet directory per table, that batch and
  streaming ingest write; only the batch's new rows go through the flat
  layout, the write tasks copy the lake's kept rows file by file) and
  ``jdbc_sink.stage_to_jdbc_distributed`` (the JDBC target's stage
  tables);
* ``write_warehouse`` is the partitioned alternative: ONE shuffle-free
  write of the canonical schema ``partitionBy("table_name")``; ``read_table``
  projects any table back into the reference's exact pivoted shape via a
  partition-pruned scan.

Neither layout runs a job per tag: ingest cost is one write job per batch
regardless of tag count (NEMSIS has hundreds of tags — per-tag jobs would
mean hundreds of scheduler round-trips per batch), and every consumer read
is pruned to its table's directory.
"""

from __future__ import annotations

from collections import Counter

import pyarrow as pa
import pyarrow.compute as pc
import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..naming import COMMON_COLUMNS, table_name_for_tag, value_column_name

COMMON_5_PREFIX = list(COMMON_COLUMNS)  # + the per-table value column

# flat-layout columns besides the 4 common ones: table tag, value, and
# attribute slots "_a0".."_aN" (named by position, so no attribute name can
# collide with them)
TABLE, VALUE = "_t", "_v"


def table_names(elements: DataFrame) -> list[str]:
    """Distinct destination tables (lowercased), derived distributively."""
    rows = elements.select(
        F.lower(F.col("table_name")).alias("t")
    ).distinct().collect()
    return sorted(r["t"] for r in rows)


def attribute_columns_per_table(elements: DataFrame) -> dict[str, list[str]]:
    """One distributed pass: per tag, the set of sanitized+lowercased
    attribute names ever observed (schema-evolution-by-widening collapsed
    into a single aggregation; replaces main_ingest.py:252-271).
    Collision rule parity: attribute names equal to a common column are
    dropped (main_ingest.py:479-483).
    """
    rows = (
        elements.select(
            F.lower(F.col("table_name")).alias("t"),
            F.explode_outer(F.map_keys("attributes")).alias("attr"),
        )
        .where(F.col("attr").isNotNull())
        .select("t", F.lower(F.col("attr")).alias("attr"))
        .distinct()
        .collect()
    )
    out: dict[str, list[str]] = {}
    for r in rows:
        out.setdefault(r["t"], []).append(r["attr"])
    for t, attrs in out.items():
        reserved = set(COMMON_5_PREFIX) | {value_column_name(t)}
        out[t] = sorted(a for a in attrs if a not in reserved)
    return out


def lowered_attributes() -> Column:
    """The ``attributes`` map with lowercased keys.  Keys were sanitized
    during flatten; lookups must be case-insensitive because column names
    are lowercased at sink time."""
    return F.expr(
        "map_from_entries(transform(map_entries(attributes), e -> struct(lower(e.key), e.value)))"
    )


def table_frame(
    elements: DataFrame, table: str, attr_cols: list[str] | None = None
) -> DataFrame:
    """The per-tag table in the reference's exact shape (FIXTURES.md F3).

    ``table`` is the lowercased sanitized tag.  ``attr_cols`` (lowercased)
    defaults to a derivation pass over ``elements``.
    """
    table = table_name_for_tag(table)
    subset = elements.where(F.lower(F.col("table_name")) == table)
    if attr_cols is None:
        attr_cols = attribute_columns_per_table(subset).get(table, [])

    lower_map = lowered_attributes()
    cols = [
        F.col("element_id"),
        F.col("parent_element_id"),
        F.col("pcr_uuid").alias("pcr_uuid_context"),
        F.col("element_tag").alias("original_tag_name"),
        F.col("value").alias(value_column_name(table)),
    ]
    cols += [lower_map.getItem(a).alias(a) for a in attr_cols]
    return subset.select(*cols)


def flat_slots(columns: dict[str, list[str]]) -> dict[str, str]:
    """Attribute slot of every attribute column in ``columns`` ({table:
    its column names}), shared by all the tables."""
    names = sorted(
        {c for t, cols in columns.items() for c in cols
         if c not in COMMON_COLUMNS and c != value_column_name(t)}
    )
    return {c: f"_a{i}" for i, c in enumerate(names)}


def flat_source(table: str, column: str, slots: dict[str, str]) -> str:
    """Flat column holding ``table``'s ``column``: a common column as it
    is, the table's value column -> VALUE, any other column -> its slot."""
    if column in COMMON_COLUMNS:
        return column
    return VALUE if column == value_column_name(table) else slots[column]


def to_flat(
    frame: DataFrame, table: str, columns: list[str], slots: dict[str, str]
) -> DataFrame:
    """``frame``'s ``columns`` (those of ``table``) in the flat layout,
    tagged ``table``; the slots of columns the table lacks are NULL."""
    have = {flat_source(table, c, slots): c for c in columns}
    null = F.lit(None).cast("string")
    return frame.select(
        F.lit(table).alias(TABLE),
        *[
            (F.col(have[s]) if s in have else null).alias(s)
            for s in [*COMMON_COLUMNS, VALUE, *slots.values()]
        ],
    )


def split_by_table(
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
        tags = batch.column(TABLE)
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


def table_comments(elements: DataFrame) -> dict[str, str]:
    """Per-table XML path (the reference stores it as the PG table comment,
    main_ingest.py:235-239).  First-seen path per tag, made deterministic by
    taking the min path."""
    rows = (
        elements.groupBy(F.lower(F.col("table_name")).alias("t"))
        .agg(F.min("path").alias("path"))
        .collect()
    )
    return {r["t"]: r["path"] for r in rows}


def write_warehouse(elements: DataFrame, lake_dir: str) -> dict[str, list[str]]:
    """Materialize the partitioned warehouse under ``lake_dir``: ONE write
    job of the canonical element schema ``partitionBy("table_name")`` — no
    per-tag job fan-out, no shuffle (partitioning is directory layout, not
    an Exchange), and every per-table read is partition-pruned.  The
    reference's exact per-table shape (value column renamed, attributes
    pivoted) is a lazy projection applied at read time by ``read_table``.
    Atomicity of the whole fan-out is the single job commit — closer to the
    reference's one-transaction-per-file guarantee (main_ingest.py:500-642)
    than N independent per-tag jobs.

    Returns {table: [columns...]} — the warehouse schema registry, in the
    reference's pivoted shape.
    """
    elements = elements.cache()
    try:
        attr_map = attribute_columns_per_table(elements)
        registry: dict[str, list[str]] = {
            t: COMMON_5_PREFIX
            + [value_column_name(t)]
            + attr_map.get(t, [])
            for t in table_names(elements)
        }
        (
            elements.select(
                F.lower(F.col("table_name")).alias("table_name"),
                F.col("element_id"),
                F.col("parent_element_id"),
                F.col("pcr_uuid").alias("pcr_uuid_context"),
                F.col("element_tag").alias("original_tag_name"),
                F.col("value"),
                F.col("attributes"),
            )
            .write.mode("overwrite")
            .partitionBy("table_name")
            .parquet(lake_dir)
        )
        return registry
    finally:
        elements.unpersist()


def read_table(
    spark, lake_dir: str, table: str, attr_cols: list[str] | None = None
) -> DataFrame:
    """Read one table from a ``write_warehouse`` lake in the reference's
    exact pivoted shape (FIXTURES.md F3).

    The ``table_name`` filter is partition pruning (a directory pick, zero
    data read outside the table); the value-column rename and attribute
    pivot are narrow projections — the whole thing stays a single
    partition-pruned scan at any corpus size.
    """
    table = table_name_for_tag(table).lower()
    part = spark.read.parquet(lake_dir).where(F.col("table_name") == table)
    if attr_cols is None:
        rows = (
            part.select(F.explode_outer(F.map_keys("attributes")).alias("attr"))
            .where(F.col("attr").isNotNull())
            .select(F.lower(F.col("attr")).alias("attr"))
            .distinct()
            .collect()
        )
        reserved = set(COMMON_5_PREFIX) | {value_column_name(table)}
        attr_cols = sorted(r["attr"] for r in rows if r["attr"] not in reserved)
    lower_map = lowered_attributes()
    return part.select(
        F.col("element_id"),
        F.col("parent_element_id"),
        F.col("pcr_uuid_context"),
        F.col("original_tag_name"),
        F.col("value").alias(value_column_name(table)),
        *[lower_map.getItem(a).alias(a) for a in attr_cols],
    )


def orphan_check(child: DataFrame, parent: DataFrame) -> DataFrame:
    """Lake-side replacement for FK enforcement (SURVEY B4): children whose
    ``parent_element_id`` has no matching parent row.  Empty result ⇔ the
    reference's ``ADD CONSTRAINT ... FOREIGN KEY`` would have succeeded
    (main_ingest.py:605-618)."""
    return child.join(
        parent,
        child["parent_element_id"] == parent["element_id"],
        "left_anti",
    )
