"""Per-tag warehouse fan-out (SURVEY E1/B1-B3) and attribute pivot.

The reference creates one PostgreSQL table per distinct XML tag with 5
common columns + one TEXT column per observed attribute
(/root/reference/main_ingest.py:169-273), widening with ``ALTER TABLE`` as
new attributes appear (:252-271) and inserting row-at-a-time (:466-495).

Spark-first redesign:

* the canonical elements DataFrame keeps attributes in a MAP column;
* ``attribute_columns`` turns a batch's (table, attribute) pairs into each
  tag's attribute columns (replaces per-element catalog probes — the
  reference's main scalability anti-pattern, SURVEY §4).  Ingest gets the
  pairs from the flatten tasks (``flatten.BatchSummary``);
  ``attribute_columns_per_table`` derives them in a distributed pass of
  its own, for callers that hold only a frame of elements;
* ``table_frame`` produces the exact reference table shape (FIXTURES.md F3):
  ``element_id, parent_element_id, pcr_uuid_context, original_tag_name,
  {table}_value`` + attribute columns, names lowercased, attr names that
  collide with the common columns silently dropped — parity with the
  column-intersection filter (/root/reference/main_ingest.py:479-483);
  an attribute column holds the later of two keys that lower to it, as
  the reference's row dict does (main_ingest.py:466-476).

This module keeps the table shape and nothing else.  Neither sink runs a
job per tag (NEMSIS has hundreds of tags, so that would mean hundreds of
scheduler round-trips per batch): the lake's write tasks build each
table's columns from the batch's spooled Arrow rows with pyarrow, by the
same rules (``overwrite.pivot``), and ``jdbc_sink.stage_to_jdbc_distributed``
stages ``table_frame``s in one job.
"""

from __future__ import annotations

from collections.abc import Iterable

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame

from ..naming import COMMON_COLUMNS, table_name_for_tag, value_column_name


def table_names(elements: DataFrame) -> list[str]:
    """Distinct destination tables (lowercased), derived distributively."""
    rows = elements.select(
        F.lower(F.col("table_name")).alias("t")
    ).distinct().collect()
    return sorted(r["t"] for r in rows)


def attribute_columns(pairs: Iterable[tuple[str, str]]) -> dict[str, list[str]]:
    """{table: sorted attribute columns} from lowercased (table, attribute)
    pairs.  Collision rule parity: attribute names equal to a common column
    or to the table's value column are dropped (main_ingest.py:479-483)."""
    out: dict[str, set[str]] = {}
    for t, a in pairs:
        out.setdefault(t, set()).add(a)
    return {
        t: sorted(a for a in attrs if a not in COMMON_COLUMNS and a != value_column_name(t))
        for t, attrs in out.items()
    }


def attribute_columns_per_table(elements: DataFrame) -> dict[str, list[str]]:
    """One distributed pass: per tag, the set of sanitized+lowercased
    attribute names ever observed (schema-evolution-by-widening collapsed
    into a single aggregation; replaces main_ingest.py:252-271), filtered
    by ``attribute_columns``."""
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
    return attribute_columns((r["t"], r["attr"]) for r in rows)


def _attribute(column: str) -> Column:
    """The value of the attribute whose lowercased key is ``column``; when
    several keys of an element lower to it, the later key wins, as in the
    reference's row dict (main_ingest.py:466-476).  Keys were sanitized
    during flatten; lookups are case-insensitive because column names are
    lowercased at sink time."""
    return F.aggregate(
        F.map_entries("attributes"),
        F.lit(None).cast("string"),
        lambda found, e: F.when(F.lower(e["key"]) == column, e["value"]).otherwise(found),
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

    cols = [
        F.col("element_id"),
        F.col("parent_element_id"),
        F.col("pcr_uuid").alias("pcr_uuid_context"),
        F.col("element_tag").alias("original_tag_name"),
        F.col("value").alias(value_column_name(table)),
    ]
    cols += [_attribute(a).alias(a) for a in attr_cols]
    return subset.select(*cols)


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
