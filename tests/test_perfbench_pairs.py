"""The claim rule of ``tools/perfbench_pairs.summarize``: a speed claim
needs at least ten pairs and wins in nine tenths of all pairs run, where a
tie is no win and a pair with a failed run is a loss.  Runs no Spark."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

from perfbench_pairs import summarize  # noqa: E402

METRIC = "throughput_per_s"
METRICS = [{"name": METRIC, "better": "higher", "bound": 0.25}]


def _pairs(*changes):
    """One pair per change value against parents of 100..; None is a pair
    whose change run failed."""
    return [
        {"parent": {METRIC: 100 + i},
         "change": None if c is None else {METRIC: c}}
        for i, c in enumerate(changes)
    ]


def test_nine_of_ten_holds():
    s = summarize(_pairs(*[200] * 9, 50), METRICS)[METRIC]
    assert (s["wins"], s["pairs"], s["claim_holds"]) == (9, 10, True)


def test_nine_of_sixteen_fails():
    s = summarize(_pairs(*[200] * 9, *[50] * 7), METRICS)[METRIC]
    assert (s["wins"], s["pairs"], s["claim_holds"]) == (9, 16, False)
    assert s["change_median"] - s["parent_median"] > s["parent_iqr"]


def test_a_tie_is_not_a_win():
    # the tie is pair 8, whose parent reads 108
    s = summarize(_pairs(*[200] * 8, 108, 50), METRICS)[METRIC]
    assert (s["wins"], s["pairs"], s["claim_holds"]) == (8, 10, False)


def test_a_failed_pair_is_a_loss():
    s = summarize(_pairs(*[200] * 8, None, None), METRICS)[METRIC]
    assert (s["wins"], s["pairs"], s["claim_holds"]) == (8, 10, False)
