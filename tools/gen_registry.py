#!/usr/bin/env python
"""Regenerate REGISTRY.md: a generated index of every registered query
(name, verification class, tags, one-line doc) so a reviewer can
navigate the registry without walking the plans/ modules.

Usage: python tools/gen_registry.py   # rewrites REGISTRY.md

No Spark session is needed — this reads only registration metadata.
Run after adding queries (alongside tools/gen_plans.py) and after a new
CORRECTNESS_r*.json record lands: both change the gate-window order.
tests/test_plans.py::test_registry_md_is_current compares the file with
render().
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_engagement_pipeline_spark.plans import REGISTRY  # noqa: E402

OUT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "REGISTRY.md"
)

HEADER = """# REGISTRY — generated query index

Generated by `python tools/gen_registry.py`. One row per registered
query, in REGISTRY order (the first 50 form the driver's correctness
gate window, computed by `plans/window.py`). Verification:
`oracle` = exact DuckDB hash-match under the driver gate;
`rows-only` = no SQL-expressible oracle (rationale in the doc;
each has an exact oracled twin or a pytest oracle). The `bench`
column marks the frozen 16-query headline set.
"""


def first_sentence(doc: str) -> str:
    text = " ".join((doc or "").split())
    for i, ch in enumerate(text):
        if ch in ".;" and i > 40:
            return text[: i + 1]
    return text[:160] + ("…" if len(text) > 160 else "")


def render() -> str:
    """REGISTRY.md's text for the registry as imported."""
    lines = [HEADER]
    lines.append("| # | query | verification | bench | tags | doc |")
    lines.append("|---|---|---|---|---|---|")
    for i, (name, spec) in enumerate(REGISTRY.items(), 1):
        ver = "oracle" if spec.oracle else "rows-only"
        bench = "✓" if getattr(spec, "bench", False) else ""
        tags = ", ".join(getattr(spec, "tags", ()) or ())
        doc = first_sentence(getattr(spec, "doc", "") or "").replace("|", "\\|")
        lines.append(f"| {i} | `{name}` | {ver} | {bench} | {tags} | {doc} |")
    return "\n".join(lines) + "\n"


def main() -> None:
    with open(OUT, "w") as f:
        f.write(render())
    print(f"wrote {OUT}: {len(REGISTRY)} queries")


if __name__ == "__main__":
    main()
