#!/usr/bin/env python
"""Regenerate PLANS.md: the operator skeleton of each snapshotted
query's physical plan at sf0.01. The snapshot set is PLANS.md's own
sections plus every bench=True registry query.

Usage:
    python tools/gen_plans.py                    # regenerate PLANS.md
    python tools/gen_plans.py <name> ...         # regenerate, adding
                                                 # these queries
    python tools/gen_plans.py --diff             # report queries whose
                                                 # skeleton differs from
                                                 # PLANS.md; exit 1 if any
    python tools/gen_plans.py --show <name> ...  # print full formatted
                                                 # plans to stdout

--show reads ``$SPARK_GRAFT_SF_DIR`` (default sf0.01). Run --diff
before regenerating: a skeleton change is either intended (regenerate
and say why in the commit) or a regression (fix the plan).
tests/test_plans.py::test_plan_snapshots_no_drift runs the same check.
"""

from __future__ import annotations

import os
import re
import sys

# `python tools/gen_plans.py` puts tools/ (not the repo root) on
# sys.path; add the parent so the package resolves without PYTHONPATH.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from flink_engagement_pipeline_spark import plans  # noqa: E402
from flink_engagement_pipeline_spark.session import get_spark  # noqa: E402

PLANS_MD = os.path.join(ROOT, "PLANS.md")
SF_DIR = "/root/testdata/sf0.01"

HEADER = """# PLANS — plan skeletons of the snapshotted queries

Generated by `python tools/gen_plans.py` (sf0.01, `local[8]`, shuffle
partitions 8). Each section is one query's physical-plan operator tree
with node, codegen and plan ids stripped: it changes only when an
operator appears, disappears or moves, and
`tests/test_plans.py::test_plan_snapshots_no_drift` fails until it is
regenerated. The set is every section below plus every `bench=True`
query; `python tools/gen_plans.py <name> ...` adds one. What to look
for, per the 100 TB design rules: `BroadcastHashJoin` on dimension
joins, one `Exchange` for the HOP window, `TakeOrderedAndProject` for
top-k, no `CartesianProduct`. Iterative trainers show only their final
lazy plan; `stream_*` replays are not snapshotted, as their returned
frame only reads the committed sink. Scan-level detail
(`PushedFilters`, `ReadSchema`) and expressions are printed by
`python tools/gen_plans.py --show <name>`.
"""


def snapshot_names(committed, extra=()) -> list[str]:
    """The snapshot set in PLANS.md order: the committed sections, then
    bench=True queries and ``extra`` names not yet committed."""
    names = list(committed)
    bench = [n for n, spec in plans.REGISTRY.items() if spec.bench]
    for name in bench + list(extra):
        if name not in names:
            names.append(name)
    return names


def explain(spark, name: str, sf_dir: str = SF_DIR) -> str:
    """The formatted physical plan of a registered query."""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    df = plans.REGISTRY[name].spark(spark, sf_dir)
    return df._jdf.queryExecution().explainString(mode).strip()


def generate_skeletons(spark, names) -> dict[str, list[str]]:
    """name -> skeleton of its current plan, for every registered name
    (a committed section whose query is gone is left out)."""
    return {
        n: skeleton(explain(spark, n)) for n in names if n in plans.REGISTRY
    }


def skeleton(plan: str) -> list[str]:
    """The operator SKELETON of a formatted plan: the physical-plan
    tree lines with node ids stripped — stable across expression-id
    churn, temp paths, statistics, and partition-count changes, but
    different whenever an operator appears/disappears/moves. A text
    without a `== Physical Plan ==` line is read as a tree already,
    so a skeleton is its own skeleton."""
    lines = plan.splitlines()
    if "== Physical Plan ==" in lines:
        lines = lines[lines.index("== Physical Plan ==") + 1:]
    out = []
    for line in lines:
        if not line.strip():
            break
        # "(4) Exchange" -> "Exchange"; also normalize codegen stage
        # ids and plan ids
        norm = re.sub(r"\(\d+\)", "", line)
        norm = re.sub(r"\[codegen id : \d+\]", "", norm)
        norm = re.sub(r"plan_id=\d+", "plan_id=_", norm)
        out.append(norm.rstrip())
    return out


def parse_plans_md(path: str = PLANS_MD) -> dict[str, list[str]]:
    """name -> committed skeleton lines, in file order."""
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        text = f.read()
    return {
        m.group(1): m.group(2).splitlines()
        for m in re.finditer(r"^## (\S+)\n\n```\n(.*?)\n```", text, re.S | re.M)
    }


def write_plans_md(skeletons: dict[str, list[str]]) -> None:
    sections = [HEADER] + [
        f"## {name}\n\n```\n" + "\n".join(lines) + "\n```\n"
        for name, lines in skeletons.items()
    ]
    with open(PLANS_MD, "w") as f:
        f.write("\n".join(sections))
    print(f"wrote {PLANS_MD} ({len(skeletons)} queries)")


def diff_report(old: dict[str, list[str]], new: dict[str, list[str]]) -> bool:
    """Print skeleton drift between committed and current skeletons.
    Returns True if anything drifted."""
    import difflib

    drifted = False
    for name in new:
        if name not in old:
            print(f"NEW     {name} (no committed snapshot)")
            drifted = True
            continue
        if old[name] != new[name]:
            drifted = True
            print(f"CHANGED {name}:")
            for d in difflib.unified_diff(
                old[name], new[name], "committed", "current", lineterm=""
            ):
                print(f"  {d}")
    for name in old:
        if name not in new:
            print(f"REMOVED {name} (snapshot exists, query is not registered)")
            drifted = True
    if not drifted:
        print(f"no skeleton drift across {len(new)} plans")
    return drifted


def main() -> None:
    args = sys.argv[1:]
    flags = {a for a in args if a.startswith("--")}
    names = [a for a in args if not a.startswith("--")]
    bad = sorted(flags - {"--diff", "--show"}) + [
        n for n in names if n not in plans.REGISTRY
    ]
    if bad:
        sys.exit(f"not an option or a registered query: {' '.join(bad)}")
    spark = get_spark("gen-plans", cores=8, shuffle_partitions=8)
    if "--show" in flags:
        sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", SF_DIR)
        for name in names:
            print(f"## {name}\n\n{explain(spark, name, sf_dir)}\n")
        return
    committed = parse_plans_md()
    current = generate_skeletons(spark, snapshot_names(committed, names))
    if "--diff" in flags:
        sys.exit(1 if diff_report(committed, current) else 0)
    write_plans_md(current)


if __name__ == "__main__":
    main()
