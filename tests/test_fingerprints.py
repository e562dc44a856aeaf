"""Pinned physical-plan fingerprints (r02 VERDICT item 5) for the 9
headline bench queries and the 20 most expensive registry ops.

An unchanged fingerprint with a moved timing is machine drift; a changed
fingerprint is a plan change that must be explained.  This test makes
that check CI-local: a plan regression in these ops fails here
immediately instead of waiting for the next registry-wide regeneration.

PLANS.json (scripts/gen_plan_fingerprints.py, bench._plan_fingerprint_v2)
is the one source of the pinned values; fingerprints are SF- and
core-count-independent, so the test runs at the suite's sf_dir.  When a
deliberate plan change moves one, regenerate PLANS.json in the same
commit and give the reason in the commit message.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

import pytest

from bench import HEADLINE, _plan_fingerprint_v2
from carpet_spark.registry import REGISTRY

PLANS = json.loads((ROOT / "PLANS.json").read_text())

# Top-20 most EXPENSIVE registry ops (r06 VERDICT item 5): the bench set
# covers the headline queries, but a plan regression in the heaviest
# non-bench ops (iterative graph kernels, Python data sources, streaming
# joins, pandas cogroups) would otherwise surface only as a slow driver
# round.  Ranked by measured Spark-side wall time over a full-registry
# run at sf0.01 (r7: 459 s total).
EXPENSIVE = [
    "graph_k_core_peel",                 # 7.40s
    "decontaminate_substring",           # 7.26s
    "graph_pagerank",                    # 5.26s
    "stream_foreachbatch_upsert",        # 4.65s
    "scan_python_datasource_pushdown",   # 4.64s
    "dedup_near_embedding_ann",          # 4.62s -> 3.1s -> 2.4s
    "sim_mmr_rerank",                    # 4.57s
    "sink_python_datasource_roundtrip",  # 4.45s
    "quality_train_score",               # 4.12s
    "udf_cogrouped_pandas",              # 3.97s
    "dq_primary_key_check",              # 3.79s
    "agg_abc_xyz_class",                 # 3.75s
    # the one range-built op (Range splits=N is normalized out of v2)
    "ts_partial_autocorrelation",        # 3.67s -> 0.5s warm
    "stream_interval_join",              # 3.63s
    "graph_bfs_hops",                    # 3.54s
    "eval_rec_catalog_coverage",         # 3.15s
    "stream_multi_source_union",         # 3.13s
    "emb_kmeans_pp_init",                # 3.08s
    "dedup_clusters",                    # 2.98s
    "sink_manifest_publish",             # 2.98s
]


def _assert_plan_pinned(spark, sf_dir, op: str) -> None:
    got = _plan_fingerprint_v2(REGISTRY[op].fn(spark, sf_dir))
    assert got == PLANS[op], (
        f"{op}: physical plan changed (v2 fingerprint {got} != PLANS.json "
        f"{PLANS[op]}). If intentional, regenerate PLANS.json "
        "(scripts/gen_plan_fingerprints.py) in the same commit; if not, "
        "diff .explain('formatted') vs the last good commit."
    )


def test_pin_set_matches_headline():
    ops = list(HEADLINE.values()) + EXPENSIVE
    assert len(set(ops)) == 29
    assert all(not PLANS[op].startswith("ERROR") for op in ops)


@pytest.mark.parametrize("name", sorted(HEADLINE))
def test_headline_plan_fingerprint_pinned(spark, sf_dir, name):
    _assert_plan_pinned(spark, sf_dir, HEADLINE[name])


@pytest.mark.parametrize("name", EXPENSIVE)
def test_expensive_plan_fingerprint_pinned(spark, sf_dir, name):
    _assert_plan_pinned(spark, sf_dir, name)


@pytest.mark.parametrize("cols", [(), ("id",)], ids=["round_robin", "hash"])
def test_repartition_count_moves_v2_unless_default_parallelism(spark, cols):
    """v2 replaces a repartition count only when it equals the session's
    defaultParallelism (an environment knob); any other count is plan
    shape and must still move the fingerprint."""
    n = spark.sparkContext.defaultParallelism
    df = spark.range(1000)
    assert _plan_fingerprint_v2(df.repartition(n + 1, *cols)) != _plan_fingerprint_v2(
        df.repartition(n, *cols)
    )
