"""Tests for personalized PageRank (operators/pagerank.py) and the
segmented-regression breakpoint query (plans/mining3.py)."""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from nemsis_xml_parser_spark.operators.pagerank import (  # noqa: E402
    personalized_pagerank,
)
from nemsis_xml_parser_spark.plans import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.001"


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "src long, dst long")


def _seeds(spark, ids):
    return spark.createDataFrame([(i,) for i in ids], "node long")


def _py_ppr(pairs, seeds, iters=3, d=0.85):
    nodes = sorted({n for e in pairs for n in e})
    out = {n: [] for n in nodes}
    for s, t in pairs:
        out[s].append(t)
    ns = len(seeds)
    pr = {n: round((1.0 / ns if n in seeds else 0.0), 12) for n in nodes}
    for _ in range(iters):
        contrib = {n: 0.0 for n in nodes}
        dangling = 0.0
        for n in nodes:
            if out[n]:
                share = round(pr[n] / len(out[n]), 12)
                for t in out[n]:
                    contrib[t] += share
            else:
                dangling += pr[n]
        pr = {
            n: round(
                (1 - d) * ((n in seeds) / ns)
                + d * (contrib[n] + dangling * ((n in seeds) / ns)),
                12,
            )
            for n in nodes
        }
    return pr


def test_matches_python_reference_with_dangling(spark):
    # 4 points at 1 -> 2 -> 3 (3 is a sink: dangling mass to seeds)
    pairs = [(1, 2), (2, 3), (4, 2), (1, 4)]
    seeds = {1}
    got = {
        r.node: r.pr
        for r in personalized_pagerank(
            _edges(spark, pairs), _seeds(spark, seeds), iters=3
        ).collect()
    }
    want = _py_ppr(pairs, seeds)
    assert got.keys() == want.keys()
    for n in want:
        assert abs(got[n] - want[n]) < 1e-9, (n, got[n], want[n])


def test_seed_proximity_ordering(spark):
    # chain 1-2-3-4-5 (undirected), seed at 1: rank decays with distance
    pairs = [(1, 2), (2, 3), (3, 4), (4, 5)]
    und = pairs + [(b, a) for a, b in pairs]
    got = {
        r.node: r.pr
        for r in personalized_pagerank(
            _edges(spark, und), _seeds(spark, {1}), iters=6
        ).collect()
    }
    # seed holds the max; far end of the chain ranks below the seed's
    # neighborhood (strict monotone decay is NOT guaranteed at finite
    # iteration counts — parity oscillation on chains)
    assert got[1] == max(got.values())
    assert got[5] < got[2]
    assert got[4] < got[1]


def test_no_seed_in_graph_raises(spark):
    import pytest

    with pytest.raises(ValueError):
        personalized_pagerank(
            _edges(spark, [(1, 2)]), _seeds(spark, {99}), iters=1
        )


def test_local_path_keeps_ids_above_2_53(spark):
    """Node ids near 2^62 come out of the single-task local path exactly
    as the distributed path gives them (a float64 hop would merge ids
    that differ below 1024)."""
    base = 1 << 62
    pairs = [(base + 12345, base + 1), (base + 1, base + 2),
             (base + 2, base + 12345), (base + 3, base + 1)]
    edges, seeds = _edges(spark, pairs), _seeds(spark, {base + 12345})
    local = {tuple(r) for r in personalized_pagerank(edges, seeds).collect()}
    dist = {
        tuple(r)
        for r in personalized_pagerank(edges, seeds, local_finish_max=0).collect()
    }
    assert local == dist
    assert {r[0] for r in local} == {n for e in pairs for n in e}


def test_null_seed_id_is_ignored_on_both_paths(spark):
    """A NULL in the seeds frame is no seed: the single-task local path
    and the distributed path rank a 3-node cycle seeded {1, NULL} alike,
    and as seeded {1} alone."""
    pairs = [(1, 2), (2, 3), (3, 1)]
    edges, seeds = _edges(spark, pairs), _seeds(spark, [1, None])
    local = {tuple(r) for r in personalized_pagerank(edges, seeds).collect()}
    dist = {
        tuple(r)
        for r in personalized_pagerank(edges, seeds, local_finish_max=0).collect()
    }
    assert local == dist
    assert local == {
        tuple(r)
        for r in personalized_pagerank(edges, _seeds(spark, [1])).collect()
    }


def test_trend_break_explains_structure(spark):
    row = QUERIES["events_trend_break"].spark(spark, SF_DIR).collect()[0]
    assert row.n_left >= 5 and row.n_right >= 5
    # the two-piece fit can never be worse than the single line
    assert row.sse_gain >= 0
    assert row.sse_total <= row.sse_single
    assert row.break_date.startswith("2024-")
