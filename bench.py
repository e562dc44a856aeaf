#!/usr/bin/env python
"""Bench harness — the driver's per-round feedback loop (SURVEY §6).

Runs the headline queries (the BASELINE.md list) at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Methodology mirrors BASELINE.md: one warm session (a throwaway action pays
the JIT/warmup cost), then best-of-3 per query, executed to completion.

Round-over-round comparability (r01 VERDICT item 6): this machine shows
±40% run-to-run drift, so each query also emits a *physical-plan
fingerprint* (sha256 of the executed plan, normalized to strip expression
ids / file paths / size statistics).  A changed fingerprint means "the plan
changed" — investigate the diff; an unchanged fingerprint with a moved
timing means "the machine drifted" — rerun on an idle box before calling
it a regression.  `load1` (1-min load average at start) is recorded for
the same reason.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from carpet_spark.registry import REGISTRY
from carpet_spark.session import get_spark

# maps BASELINE.md query names -> registry op ids
HEADLINE = {
    "q1_pricing_summary": "agg_groupby",
    "q3_top_orders": "q3_top_orders",
    "q5_region_revenue": "join_multiway",
    "window_rank": "win_rank",
    "topk_lineitem": "topk",
    "distinct_users": "distinct_users",
    "wordcount": "text_tokenize_wordcount",
    "tumbling_1h": "stream_tumbling",
    "dedup_docs": "dedup_exact",
}

RUNS = 3


def _execute(df) -> int:
    """Run the full query to completion distributed-side.

    ``_jdf.collectToPython``-free: a count over the materialized plan would
    let Catalyst prune the work, so instead collect() — but large results
    (window_rank = full table) dominate wall time through Py4J, which is
    harness overhead, not engine cost.  Use toPandas() (Arrow batches) to
    keep result transfer realistic and fast, as a cluster client would.
    """
    return len(df.toPandas())


def _normalized_plan(df) -> str:
    """Executed-plan text with the run-varying bits (expression ids, plan
    ids, temp/file paths, row-count statistics) normalized away, so it
    only changes when the plan SHAPE changes.  _plan_fingerprint_v2
    adds its own rules on top.

    Scan-metadata strings (DataFilters etc.) truncate at
    spark.sql.maxMetadataStringLength BEFORE our expr-id normalization, so
    the cut point shifts with expr-id digit width and the fingerprint would
    vary across sessions/SFs; raise the limit so nothing truncates, and
    collapse any residual "...tail" as belt-and-suspenders (r02→r03 fix —
    this moved no fingerprint whose plan shape was stable)."""
    df.sparkSession.conf.set("spark.sql.maxMetadataStringLength", "10000")
    s = df._jdf.queryExecution().executedPlan().toString()
    s = re.sub(r"#\d+[A-Z]*", "#", s)
    s = re.sub(r"plan_id=\d+", "plan_id=", s)
    s = re.sub(r"(file|hdfs|s3a?):[^,\]\s\)]+", r"\1:", s)
    s = re.sub(r"Statistics\([^)]*\)", "Statistics()", s)
    s = re.sub(r"\b\d+(\.\d+)?\s*(B|KiB|MiB|GiB)\b", "", s)
    s = re.sub(r"\S*\.\.\.", "...", s)
    # bucketed-table names embed a source-content tag (join_bucketed keys
    # its cache on path|mtime|size) — normalize so a testdata regen moves
    # no fingerprint whose plan shape is unchanged
    s = re.sub(r"\b(b_\w+?_)[0-9a-f]{12}\b", r"\1", s)
    # lambda variables print as <name>_<global counter>#<exprid> (x_1, x_2,
    # …) — the counter depends on how many lambdas the session planned
    # earlier, so collapse it (no op alias ends in _<digits>, verified)
    return re.sub(r"(\w+?)_\d+#", r"\1#", s)


def _sort_bracket_segments(s: str) -> str:
    """Canonicalize attribute ORDER inside every bracketed list.

    Spark's RewriteDistinctAggregates (and any rule that iterates an
    AttributeSet/ExpressionSet) emits grouping/Expand/partitioning
    attribute lists in exprId-hash order, which varies with how many
    expressions the JVM session allocated earlier — the plan SHAPE is
    identical but `key=[a#, b#]` vs `key=[b#, a#]` flips a hash of the
    normalized plan (observed: profile_table's 4-column distinct rewrite).
    Sorting the top-level comma segments of every [..] / (..) region
    makes the fingerprint order-insensitive while still moving on any
    real change (extra exchange, different operator, changed key SET,
    lost pushdown).

    Order-SENSITIVE plan lines are exempt (r03 ADVICE): Sort /
    TakeOrderedAndProject / Window carry ORDER BY key lists whose order
    is semantic, and join operators carry pairwise-corresponding
    left/right key lists — sorting those would hide a real reordering
    regression.  The exprId-hash instability this function exists for
    (RewriteDistinctAggregates attribute sets) only affects grouping /
    Expand / partitioning lines, which still sort."""

    def canon(text: str, i: int, closer: str) -> tuple[str, int]:
        # segments strip their surrounding whitespace before sorting —
        # ", a" and "a" must canonicalize identically or the sort order
        # depends on the original comma spacing
        segs, cur = [], []
        while i < len(text):
            c = text[i]
            if c in "([":
                inner, i = canon(text, i + 1, ")" if c == "(" else "]")
                cur.append(c + inner + (")" if c == "(" else "]"))
            elif c == closer:
                segs.append("".join(cur).strip())
                return ",".join(sorted(segs)), i + 1
            elif c in ")]":  # unbalanced stray closer: treat literally
                cur.append(c)
                i += 1
            elif c == ",":
                segs.append("".join(cur).strip())
                cur = []
                i += 1
            else:
                cur.append(c)
                i += 1
        segs.append("".join(cur).strip())
        return ",".join(sorted(segs)) if closer else "".join(segs), i

    order_sensitive = (
        "Sort [", "TakeOrderedAndProject", "Window [", "WindowGroupLimit",
        "SortMergeJoin", "BroadcastHashJoin", "ShuffledHashJoin",
    )
    out_lines = []
    for line in s.splitlines():
        if any(tok in line for tok in order_sensitive):
            out_lines.append(line)
            continue
        done, i = [], 0
        while i < len(line):
            c = line[i]
            if c in "([":
                inner, i = canon(line, i + 1, ")" if c == "(" else "]")
                done.append(c + inner + (")" if c == "(" else "]"))
            else:
                done.append(c)
                i += 1
        out_lines.append("".join(done))
    return "\n".join(out_lines)


def _plan_fingerprint_v2(df) -> str:
    """Order-insensitive plan fingerprint: _normalized_plan plus
    bracket-segment sorting (see _sort_bracket_segments).  PLANS.json pins
    it for every registry op, tests/test_fingerprints.py checks the
    headline and costliest ops against it, and bench.py emits it per
    query."""
    s = _normalized_plan(df)
    # RewriteDistinctAggregates numbers its distinct groups (gid) in
    # exprId-hash order too: which count() gets FILTER (gid = 1) vs
    # (gid = 2) swaps across sessions, and the Expand projections carry
    # the same arbitrary literals.  Collapse the gid literals and any
    # bare integers on Expand lines (group-id tags) before sorting.
    s = re.sub(r"\(gid# = \d+\)", "(gid# = N)", s)
    # Range(start, end, splits=N, step): splits = session default
    # parallelism — an environment knob (SPARK_GRAFT_CPUS), not a plan
    # shape.  Without this, any op built on spark.range() fingerprints
    # differently at local[8] vs local[32] (r7 find: the sharded suite
    # runs workers at cpus//n_shards and ts_partial_autocorrelation's
    # pin flipped).
    s = re.sub(r"splits=\d+", "splits=", s)
    # repartition(defaultParallelism[, cols]) prints that count as the last
    # argument of hashpartitioning(…, N) / RoundRobinPartitioning(N) — the
    # same knob, so replace N only when it equals this session's
    # defaultParallelism; any other count (a hard-coded repartition(16))
    # still moves the fingerprint.
    n = df.sparkSession.sparkContext.defaultParallelism
    s = re.sub(rf"(?<=[(, ]){n}\), REPARTITION_BY_NUM", "P), REPARTITION_BY_NUM", s)
    s = "\n".join(
        re.sub(r"\b\d+\b", "N", ln) if "Expand [" in ln else ln
        for ln in s.splitlines()
    )
    s = _sort_bracket_segments(s)
    return hashlib.sha256(s.encode()).hexdigest()[:12]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 4)
    load1 = round(os.getloadavg()[0], 2) if hasattr(os, "getloadavg") else None
    spark = get_spark("carpet_spark_bench", cpus=cpus)

    # warmup: pay JIT + codegen once on a throwaway action
    _execute(REGISTRY["agg_groupby"].fn(spark, sf_dir).limit(1))

    timings: dict[str, float] = {}
    plans_v2: dict[str, str] = {}
    for name, op_id in HEADLINE.items():
        fn = REGISTRY[op_id].fn
        # BASELINE.md methodology: warm measurements only — the first full
        # run of a query pays its codegen/JIT and is discarded, then
        # best-of-RUNS.  (Whole-stage codegen compiles per plan shape, so a
        # limit(1) session warmup alone leaves the first query cold.)
        _execute(fn(spark, sf_dir))
        best = float("inf")
        for _ in range(RUNS):
            t0 = time.perf_counter()
            _execute(fn(spark, sf_dir))
            best = min(best, time.perf_counter() - t0)
        timings[name] = round(best, 4)
        plans_v2[name] = _plan_fingerprint_v2(fn(spark, sf_dir))

    total = round(sum(timings.values()), 4)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_total_best_of_3",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "plans_v2": plans_v2,
                "load1": load1,
                "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
            }
        )
    )


if __name__ == "__main__":
    main()
