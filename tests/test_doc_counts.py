"""Doc-count drift guard: README's embedded registry/test counts must
match the live registry (they are generated by tools/gen_query_docs.py;
a mismatch means someone edited counts by hand or forgot to regenerate)."""

from __future__ import annotations

import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT / "tools"))

from gen_query_docs import readme_with_counts  # noqa: E402


def test_readme_counts_in_sync():
    with open(ROOT / "README.md") as fh:
        readme = fh.read()
    assert readme_with_counts(readme) == readme, (
        "README counts drifted from the registry — run "
        "python tools/gen_query_docs.py"
    )
