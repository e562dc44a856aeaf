#!/usr/bin/env python
"""Registry-wide wall-clock sweep with the noop sink (optimization guide §1).

plan_audit.py ranks ops by plan-text smells (Exchange count etc.), but
runtime ReuseExchange dedups identical subtrees, so plan-text counts
overstate real cost (measured: the graph ops' shared edge list).  This
sweep measures what actually matters — seconds per op at a given SF —
and writes one JSON line per op (append-mode, partial-run safe) so the
optimization round can rank by measured time: ``sec`` (best of --runs)
and ``compiles`` (janino compiles during the timed runs).

Usage: python scripts/time_sweep.py [--sf-dir DIR] [--runs N] [--ops a,b]
       [--out FILE] [--warm]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from carpet_spark.registry import REGISTRY
from carpet_spark.session import get_spark


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--runs", type=int, default=1)
    ap.add_argument("--ops", default="")
    ap.add_argument("--out", default="/tmp/time_sweep.jsonl")
    ap.add_argument("--warm", action="store_true",
                    help="run each op once untimed before timing (codegen warm)")
    args = ap.parse_args()

    ops = [o for o in args.ops.split(",") if o] or sorted(REGISTRY)
    spark = get_spark("carpet_time_sweep")
    # janino compiles (cumulative, JVM-wide); per op, the count over its
    # timed runs: with --warm, 0 means they ran on cached generated code
    compiles = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    noop(REGISTRY["agg_groupby"].fn(spark, args.sf_dir).limit(1))  # session warmup

    done = set()
    if os.path.exists(args.out):
        with open(args.out) as fh:
            for ln in fh:
                try:
                    done.add(json.loads(ln)["op"])
                except Exception:
                    pass

    with open(args.out, "a") as out:
        for name in ops:
            if name in done:
                continue
            fn = REGISTRY[name].fn
            spark.sparkContext.setJobDescription(f"time_sweep: {name}")
            rec: dict = {"op": name}
            try:
                if args.warm:
                    noop(fn(spark, args.sf_dir))
                best = float("inf")
                c0 = compiles.getCount()
                for _ in range(args.runs):
                    t0 = time.perf_counter()
                    noop(fn(spark, args.sf_dir))
                    best = min(best, time.perf_counter() - t0)
                rec["sec"] = round(best, 3)
                rec["compiles"] = compiles.getCount() - c0
            except Exception as e:  # record and keep sweeping
                rec["err"] = f"{type(e).__name__}: {e}"[:300]
            out.write(json.dumps(rec) + "\n")
            out.flush()
            spark.sparkContext.setJobDescription(None)
    print(f"swept {len(ops) - len(done)} ops -> {args.out}")


if __name__ == "__main__":
    main()
