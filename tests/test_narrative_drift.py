"""Narrative-drift guard (VERDICT r13 #5): the measured numbers quoted in
NOTES.md / SCALING.md must match the newest JSON artifacts of record.

Round 13 shipped NOTES/SCALING blocks carrying mid-round numbers
(3,535.6 rows/s, recall 0.43/0.54, 167.4 s) that disagreed with the final
committed JSONs (3,658 / 0.50/0.57 / 146.3 s).  This guard finds the
NEWEST BENCH_REPS_r*/STREAM_REPS_r*/ANN_RECALL_r* files and asserts the
headline values they record appear verbatim in the narrative docs, so a
refreshed JSON without a narrative sync fails CI the way a stale README
count does."""

from __future__ import annotations

import glob
import json
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]


def _newest(pattern: str) -> dict | None:
    paths = sorted(
        glob.glob(pattern),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    if not paths:
        return None
    with open(paths[-1]) as fh:
        return json.load(fh)


def _narrative() -> str:
    out = []
    for p in (ROOT / "NOTES.md", ROOT / "SCALING.md"):
        with open(p) as fh:
            out.append(fh.read())
    return "\n".join(out)


def _fmt_thousands(x: float) -> str:
    # "3,658" / "4,016" — the docs quote stream medians comma-grouped,
    # rounded to the nearest integer.
    return f"{round(x):,}"


def test_stream_medians_quoted_in_narrative():
    reps = _newest(str(ROOT / "STREAM_REPS_r*.json"))
    assert reps is not None
    import statistics

    docs = _narrative()
    for key in ("dedup_history_index", "winnow_history_index",
                "cdc_history_index"):
        vals = [r[key] for r in reps["reps"] if key in r]
        med = statistics.median(vals)
        want = _fmt_thousands(med)
        assert want in docs, (
            f"{key} median {want} (from the newest STREAM_REPS) is not "
            f"quoted in NOTES.md/SCALING.md — sync the narrative"
        )


def test_interleaved_headline_quoted_in_narrative():
    reps = _newest(str(ROOT / "BENCH_REPS_r*.json"))
    assert reps is not None
    shared = next(
        (
            v
            for k, v in reps.items()
            if re.fullmatch(r"per_query_median_total_on_\d+_shared", k)
        ),
        {},
    )
    docs = _narrative()
    for v in shared.values():
        assert f"{v:.1f}" in docs, (
            f"interleaved per-query-median total {v:.1f}s (newest "
            f"BENCH_REPS) missing from NOTES.md/SCALING.md"
        )


def test_stream_nsw_recall_quoted_in_narrative():
    rec = _newest(str(ROOT / "ANN_RECALL_r*.json"))
    assert rec is not None
    methods = rec["methods"]
    docs = _narrative()
    for m in ("nsw_stream_beam8x3", "nsw_stream_beam8x3_entries3"):
        if m not in methods:
            continue
        v = methods[m]["recall_at_k"]
        # accept either banker's rounding (f-format) or half-up (the
        # convention the docs use when quoting e.g. 0.565 as 0.57)
        from decimal import Decimal, ROUND_HALF_UP

        want = {
            f"{v:.2f}",
            str(Decimal(str(v)).quantize(Decimal("0.01"), ROUND_HALF_UP)),
        }
        assert any(w in docs for w in want), (
            f"stream-NSW recall {sorted(want)} ({m}, newest ANN_RECALL) "
            f"missing from NOTES.md/SCALING.md"
        )
