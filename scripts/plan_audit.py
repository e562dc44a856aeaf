#!/usr/bin/env python
"""Registry-wide physical-plan anti-pattern audit (optimization guide §1/§7.2).

Dumps the executed-plan string for EVERY registered op at a small SF and
flags the optimization guide's smells:

- ``BatchEvalPython``      row-at-a-time Python UDF (guide §4.1)
- ``CartesianProduct``     accidental cross product (guide §3)
- ``SortMergeJoin``        join that did not broadcast (worth eyeballing
                           when one side is a constant-size dim)
- ``Exchange`` count       shuffles per op (guide §2.4)
- ``ArrowEvalPython`` / ``MapInPandas`` / ``FlatMapGroupsInPandas``
                           Python-boundary crossings (guide §4)
- duplicated Python eval   same UDF evaluated twice (guide §4.4)

Output: plans/audit/<op>.txt (full plan text) + one summary TSV on stdout
ordered by (exchanges, python nodes) so the worst shapes sort first.
The dump is regenerated on demand and not kept in the repo (plans/audit/
is git-ignored): a committed copy drifts from the current plans and no
test reads it.

Usage: python scripts/plan_audit.py [--sf DIR] [--ops a,b,c]
"""

from __future__ import annotations

import argparse
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from carpet_spark.registry import REGISTRY
from carpet_spark.session import get_spark

NODES = (
    "BatchEvalPython",
    "ArrowEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "MapInArrow",
    "CartesianProduct",
    "BroadcastNestedLoopJoin",
    "SortMergeJoin",
    "ShuffledHashJoin",
    "BroadcastHashJoin",
    "Exchange",
    "Sort ",
    "Window",
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--ops", default="")
    ap.add_argument("--outdir", default=None)
    args = ap.parse_args()
    ops = [o for o in args.ops.split(",") if o] or sorted(REGISTRY)

    outdir = args.outdir or os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "audit"
    )
    os.makedirs(outdir, exist_ok=True)

    spark = get_spark("plan_audit", cpus=8)
    rows = []
    for name in ops:
        try:
            spark.catalog.clearCache()
            df = REGISTRY[name].fn(spark, args.sf)
            df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "10000")
            s = df._jdf.queryExecution().executedPlan().toString()
        except Exception as e:
            rows.append((name, {"ERROR": 1}, f"ERROR:{type(e).__name__}"))
            continue
        with open(os.path.join(outdir, f"{name}.txt"), "w") as f:
            f.write(s)
        counts = {n: len(re.findall(re.escape(n), s)) for n in NODES}
        counts = {k: v for k, v in counts.items() if v}
        rows.append((name, counts, ""))

    def badness(c):
        return (
            c.get("CartesianProduct", 0) * 100
            + c.get("BatchEvalPython", 0) * 10
            + c.get("Exchange", 0)
            + c.get("ArrowEvalPython", 0)
            + c.get("MapInPandas", 0)
            + c.get("FlatMapGroupsInPandas", 0)
        )

    rows.sort(key=lambda r: -badness(r[1]))
    for name, counts, err in rows:
        tag = err or " ".join(f"{k}={v}" for k, v in sorted(counts.items()))
        print(f"{name}\t{tag}")
    spark.stop()


if __name__ == "__main__":
    main()
