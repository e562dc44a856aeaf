"""Pinned physical-plan fingerprints for the 9 headline bench queries
(r02 VERDICT item 5).

BENCH_r02.json introduced per-query plan fingerprints as the drift-vs-
regression discriminator: an unchanged fingerprint with a moved timing is
machine drift; a changed fingerprint is a plan change that must be
explained.  This test makes that check CI-local — a plan regression fails
here immediately instead of waiting for the next round's bench diff.

Fingerprints are SF-independent (verified identical at sf0.01 and sf0.1
after the r03 normalization fix in bench._plan_fingerprint), so the test
pins one value per query and runs at the suite's sf_dir.

Provenance of the pinned values vs BENCH_r02.json's:

- window_rank, topk_lineitem, distinct_users, wordcount, tumbling_1h,
  dedup_docs: byte-identical to BENCH_r02 — unchanged plans.
- q1_pricing_summary, q3_top_orders, q5_region_revenue: changed in r03 by
  the intentional lsum/lavg rewrite (F.round -> sign-aware truncation,
  commit b486862, ~1.6x on the Q1 shape) plus the fingerprint
  normalization fix (maxMetadataStringLength raise) that made q3/q5
  SF-stable at all.

When a deliberate plan improvement moves a fingerprint, re-pin it HERE in
the same commit with the reason in the commit message.
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import pytest

from bench import HEADLINE, _plan_fingerprint
from carpet_spark.registry import REGISTRY

PINNED = {
    # q1/q3/q5 re-pinned r11 optimization: the single-CASE
    # fixed-point conversion (exprs._fp_scaled_long_at) halves every
    # money sum's expression tree — value-identical per row, plan
    # fingerprint moves.  tumbling_1h carries the r10 post-close
    # events.value ingest sanitization (b776a36 re-baseline).
    "q1_pricing_summary": "083172d0086b",
    "q3_top_orders": "0106f33da939",
    "q5_region_revenue": "6fd8e1e4c38f",
    "window_rank": "63b0dd84f925",
    "topk_lineitem": "94072738dbbb",
    "distinct_users": "c043d40e06e3",
    "wordcount": "1c44349af4ab",
    "tumbling_1h": "9bcce0da3842",
    "dedup_docs": "0dca9d0652c2",
}


def test_pin_set_matches_headline():
    assert set(PINNED) == set(HEADLINE)


@pytest.mark.parametrize("name", sorted(PINNED))
def test_headline_plan_fingerprint_pinned(spark, sf_dir, name):
    df = REGISTRY[HEADLINE[name]].fn(spark, sf_dir)
    got = _plan_fingerprint(df)
    assert got == PINNED[name], (
        f"{name}: physical plan changed (fingerprint {got} != pinned "
        f"{PINNED[name]}). If intentional, re-pin with the reason in the "
        "commit message; if not, diff .explain('formatted') vs the last "
        "good commit."
    )


# ---------------------------------------------------------------------------
# Top-20 most EXPENSIVE registry ops (r06 VERDICT item 5): the bench set
# pins the headline queries, but a plan regression in the heaviest
# non-bench ops (iterative graph kernels, Python data sources, streaming
# joins, pandas cogroups) would otherwise surface only as a slow driver
# round.  Ranked by measured Spark-side wall time over a full-registry
# run at sf0.01 (r7: 459 s total); fingerprints are the order-insensitive
# v2 form, pinned from PLANS.json at the same commit.  Re-pin HERE and
# regenerate PLANS.json in the same commit when a plan change is
# intentional.
# ---------------------------------------------------------------------------

from bench import _plan_fingerprint_v2  # noqa: E402

# r11 re-pins: 4 ops for the b776a36 re-baseline completion (ingest
# contract), then agg_abc_xyz_class / sink_manifest_publish again for
# the single-CASE fixed-point rewrite; values == the committed
# PLANS.json.
EXPENSIVE_PINNED = [
    ("graph_k_core_peel", "9eebd4710506"),            # 7.40s
    ("decontaminate_substring", "a70a993d9516"),      # 7.26s
    ("graph_pagerank", "904c43197a93"),               # 5.26s
    ("stream_foreachbatch_upsert", "924e6d1d904e"),   # 4.65s
    ("scan_python_datasource_pushdown", "612948376226"),  # 4.64s
    # re-pinned r12 (ADVICE r11): float vectors feed banded_signatures
    # (half the Arrow payload; bit-identical signatures), dbl_vec applies
    # only on the scoring frame
    ("dedup_near_embedding_ann", "91266d6f1adb"),     # 4.62s -> 3.1s -> 2.4s
    ("sim_mmr_rerank", "a607781b9efb"),               # 4.57s
    ("sink_python_datasource_roundtrip", "cda8daa486c8"),  # 4.45s
    # re-pinned r9: explicit NULL-feature/label drop before fit+score
    # (NULL-regime finding — VectorAssembler aborts on incomplete rows)
    # re-pinned r11 optimization: token split materialized in its own
    # projection (the five feature exprs each re-split the text)
    ("quality_train_score", "2a9f52604af3"),          # 4.12s
    # re-pinned r11 optimization: both cogroup sides pre-partitioned by
    # key at defaultParallelism (ClusteredDistribution satisfied, the ~15k
    # per-key Python calls fan out over every core); re-pinned once more
    # when v2 began normalizing a defaultParallelism repartition count,
    # so the pin holds at any core count
    ("udf_cogrouped_pandas", "323acd69f17e"),         # 3.97s
    ("dq_primary_key_check", "d3e3fbab875d"),         # 3.79s
    # re-pinned r9: intentional hi/lo-split escalation of the op's
    # inline fixed-point sums (sweep commit 36a6b65)
    ("agg_abc_xyz_class", "6c8b5f26ba24"),            # 3.75s
    # splits=N normalized out of the v2 form in r7 (Range parallelism is
    # an env knob, not plan shape) — this is the only range-built pin
    # re-pinned r12: `daily` localCheckpointed (events scanned once, not
    # 3x — the returned plan now tops out at the checkpoint RDD scan)
    ("ts_partial_autocorrelation", "eb9171f4b177"),   # 3.67s -> 0.5s warm
    ("stream_interval_join", "ff48a261270e"),         # 3.63s
    ("graph_bfs_hops", "f11fa21b5f6d"),               # 3.54s
    # re-pinned r11 optimization: spread + per-vector norm hoist on the
    # all-pairs probe scoring; re-pinned with the defaultParallelism
    # repartition-count normalization (see udf_cogrouped_pandas)
    ("eval_rec_catalog_coverage", "f1354589133d"),    # 3.15s
    ("stream_multi_source_union", "617b4e992d85"),    # 3.13s
    # re-pinned r11: iterative-lineage truncation (1-row argmax
    # localCheckpoints — 94 Exchanges / 27 distance passes -> linear)
    ("emb_kmeans_pp_init", "4782cd0e9398"),           # 3.08s
    ("dedup_clusters", "d879a457a638"),               # 2.98s
    ("sink_manifest_publish", "5ff57102748e"),        # 2.98s (re-pinned r9: split-sum escalation)
]


@pytest.mark.parametrize(
    "name,pinned", EXPENSIVE_PINNED, ids=[n for n, _ in EXPENSIVE_PINNED]
)
def test_expensive_plan_fingerprint_pinned(spark, sf_dir, name, pinned):
    df = REGISTRY[name].fn(spark, sf_dir)
    got = _plan_fingerprint_v2(df)
    assert got == pinned, (
        f"{name}: physical plan changed (v2 fingerprint {got} != pinned "
        f"{pinned}). If intentional, re-pin here AND regenerate PLANS.json "
        "in the same commit; if not, diff .explain('formatted') vs the "
        "last good commit."
    )


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
