"""Alternating parent/change pairs of the benchmark, for one workload.

    python tools/perfbench_pairs.py --parent HEAD~1 --workload stage_jdbc \
        --seed 3101 --pairs 10 [--seconds 4] [--out pairs.json]

Pair ``i`` runs ``perfbench/run.py --workload W --seed (seed + i)
--seconds S --trace 0`` once in the parent tree and once in this checkout,
the parent first in even pairs and the change first in odd ones, so drift
of the machine falls on both sides alike.  ``--parent`` is a commit, which
is checked out into a temporary ``git worktree`` removed at exit, or an
existing directory holding the parent's files.

For every end-to-end metric of ``BENCHMARK.json`` it prints the pairs the
change won, both medians, the parent's interquartile range and the median
change relative to the metric's bound.  A pair in which either run failed
or was incorrect counts as a loss, and a tie is no win.  A speed claim
holds when at least 10 pairs ran, the change won at least nine tenths of
all of them, and the medians differ by more than the parent's
interquartile range.  The last stdout line is the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict | None:
    """Metrics of one untraced run in ``tree``, or None if it failed or was
    incorrect."""
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
    )
    try:
        result = json.loads(proc.stdout.strip().splitlines()[-1])
    except (IndexError, ValueError):
        return None
    if proc.returncode or not result.get("correct") or result.get("failed"):
        return None
    return {k: v["value"] for k, v in result["metrics"].items()}


def iqr(xs: list[float]) -> float:
    if len(xs) < 2:
        return 0.0
    q1, _, q3 = statistics.quantiles(xs, n=4)
    return q3 - q1


def summarize(pairs: list[dict], metrics: list[dict]) -> dict:
    out = {}
    ok = [p for p in pairs if p["parent"] and p["change"]]
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        par = [p["parent"][name] for p in ok]
        chg = [p["change"][name] for p in ok]
        wins = sum((c < p) if lower else (c > p) for p, c in zip(par, chg))
        if not ok:
            out[name] = {"wins": 0, "pairs": len(pairs)}
            continue
        mp, mc = statistics.median(par), statistics.median(chg)
        # relative move in the metric's worse direction (negative = better)
        worse = ((mc - mp) if lower else (mp - mc)) / mp if mp else 0.0
        out[name] = {
            "wins": wins,
            "pairs": len(pairs),
            "parent_median": mp,
            "change_median": mc,
            "parent_iqr": iqr(par),
            "worse_by": round(worse, 4),
            "within_bound": worse <= m["bound"],
            "claim_holds": len(pairs) >= 10 and 10 * wins >= 9 * len(pairs)
            and abs(mc - mp) > iqr(par),
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="commit or directory")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--out", help="also write every run's metrics here")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        metrics = json.load(f)["end_to_end"]

    worktree = None
    parent = args.parent
    if not os.path.isdir(parent):
        worktree = os.path.join(tempfile.mkdtemp(prefix="perfbench_parent_"), "tree")
        subprocess.run(["git", "worktree", "add", "--detach", worktree, args.parent],
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
        parent = worktree
    try:
        pairs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = [("parent", parent), ("change", ROOT)]
            if i % 2:
                order.reverse()
            pair = {"seed": seed, "first": order[0][0]}
            for side, tree in order:
                pair[side] = run_once(tree, args.workload, seed, args.seconds)
            pairs.append(pair)
            print(json.dumps(pair), file=sys.stderr, flush=True)
    finally:
        if worktree:
            subprocess.run(["git", "worktree", "remove", "--force", worktree],
                           cwd=ROOT, stdout=subprocess.DEVNULL)
    summary = summarize(pairs, metrics)
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "parent": args.parent,
                       "pairs": pairs, "summary": summary}, f, indent=1)
    failed = sum(not (p["parent"] and p["change"]) for p in pairs)
    print(f"{args.workload}: {len(pairs)} pairs, {failed} with a failed run")
    for name, s in summary.items():
        if "parent_median" not in s:
            print(f"  {name}: no complete pair")
            continue
        print(f"  {name}: change won {s['wins']}/{s['pairs']}, median "
              f"{s['parent_median']:.4g} -> {s['change_median']:.4g} "
              f"(parent IQR {s['parent_iqr']:.3g}, worse by {s['worse_by']:+.1%}, "
              f"claim {'holds' if s['claim_holds'] else 'does not hold'})")
    print(json.dumps({"workload": args.workload, "failed_pairs": failed,
                      "summary": summary}))


if __name__ == "__main__":
    main()
