#!/usr/bin/env python
"""Dump .explain('formatted') for registered queries to plans/<round>/
(default r15; env DUMP_ROUND/DUMP_OUT) — an optimization's before/after
plan evidence. Usage:
    python tools/dump_plan.py <suffix> <query> [<query> ...]
suffix is 'before' or 'after'."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from flink_engagement_pipeline_spark import plans  # noqa: E402
from flink_engagement_pipeline_spark.session import get_spark  # noqa: E402

OUT = os.environ.get("DUMP_OUT") or os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans", os.environ.get("DUMP_ROUND", "r15"))


def main():
    suffix = sys.argv[1]
    names = sys.argv[2:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(OUT, exist_ok=True)
    spark = get_spark("fep-plan-dump")
    for name in names:
        spec = plans.REGISTRY[name]
        df = spec.spark(spark, sf_dir)
        txt = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(OUT, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(txt)
        print(f"wrote {path} ({len(txt)} chars)")


if __name__ == "__main__":
    main()
