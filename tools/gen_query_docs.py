"""Generate QUERIES.md — the full registry catalog (name, family, check
kind, description) — from the single source of truth in plans, and
rewrite the query/test counts embedded in README.md from the same
source so the docs cannot drift.

Usage: python tools/gen_query_docs.py  (rewrites QUERIES.md + README.md)
"""

from __future__ import annotations

import glob
import re
import sys
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from nemsis_xml_parser_spark.plans import QUERIES  # noqa: E402

HEADER = """# QUERIES — registry catalog (generated by tools/gen_query_docs.py)

Every entry is exposed through `__spark_entry__.queries()`; `oracle` means
the driver hash-compares it against DuckDB at sf0.01, `rows-only` means the
weaker row-count check (engine-specific sketches / iterative algorithms —
each covered by a determinism/error-bound pytest instead).
"""


def count_test_functions(tests_dir: str = str(ROOT / "tests")) -> int:
    """Number of ``def test_`` functions across the pytest suite."""
    total = 0
    for path in glob.glob(f"{tests_dir}/**/*.py", recursive=True):
        with open(path) as fh:
            total += len(re.findall(r"^\s*def test_", fh.read(), re.M))
    return total


def readme_with_counts(readme_text: str) -> str:
    """README text with every embedded registry/test count rewritten
    from the live registry — the single-sourcing that keeps README in
    step with QUERIES.md."""
    n = len(QUERIES)
    t = count_test_functions()
    out = re.sub(r"\d+ registered queries", f"{n} registered queries", readme_text)
    out = re.sub(r"the \d+-query registry", f"the {n}-query registry", out)
    out = re.sub(r"\d+\+? pytest tests", f"{t} pytest tests", out)
    return out


def main() -> None:
    fams = Counter(q.family for q in QUERIES.values())
    lines = [HEADER]
    n_oracle = sum(1 for q in QUERIES.values() if q.oracle is not None)
    lines.append(
        f"**{len(QUERIES)} queries** — {n_oracle} oracle-checked, "
        f"{len(QUERIES) - n_oracle} rows-only.  Families: "
        + ", ".join(f"{f} ({n})" for f, n in sorted(fams.items()))
        + ".\n"
    )
    lines.append("| query | family | check | description |")
    lines.append("|---|---|---|---|")
    for name in sorted(QUERIES):
        q = QUERIES[name]
        kind = "oracle" if q.oracle is not None else "rows-only"
        doc = " ".join(q.doc.split())
        lines.append(f"| `{name}` | {q.family} | {kind} | {doc} |")
    with open(ROOT / "QUERIES.md", "w") as fh:
        fh.write("\n".join(lines) + "\n")
    print(f"wrote QUERIES.md: {len(QUERIES)} queries, {n_oracle} oracle-checked")
    with open(ROOT / "README.md") as fh:
        readme = fh.read()
    synced = readme_with_counts(readme)
    if synced != readme:
        with open(ROOT / "README.md", "w") as fh:
            fh.write(synced)
        print("rewrote README.md counts")


if __name__ == "__main__":
    main()
