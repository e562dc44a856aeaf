#!/usr/bin/env python
"""Regenerate COVERAGE.md: registry ids vs the SURVEY.md §2 contract."""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from carpet_spark.registry import REGISTRY

CATEGORY = {
    'scans': 'A', 'filters': 'B', 'pii': 'C', 'joins': 'D', 'aggs': 'E',
    'aggs_advanced': 'E', 'windows': 'F', 'sorts': 'G', 'functions': 'H',
    'llm': 'I', 'multimodal': 'I', 'ann': 'I', 'timeseries': 'I+',
    'streaming': 'J', 'udfs': 'K', 'headline': 'bench',
    'trainprep': 'I+', 'tpch': 'bench+', 'mutations': 'L', 'reshape': 'L',
    'graph': 'L', 'analytics': 'L',
}
SURVEY_IDS = set("""scan_parquet scan_projected scan_events_ns sink_parquet_roundtrip sink_csv_roundtrip
project_compute filter_compound filter_like_regex filter_null_safe
pii_drop pii_nullify pii_hash pii_mask_regex pii_bucket
join_inner join_left join_right join_full join_semi join_anti join_cross join_theta_range join_asof join_multiway
agg_global agg_groupby agg_having agg_distinct agg_conditional agg_stats agg_percentile agg_collect agg_rollup agg_cube agg_grouping_sets agg_approx_distinct
win_rank win_lag_lead win_running win_sliding_frame win_range_frame win_ntile_pct win_first_last
sort_multi topk limit_offset set_union_all set_union_distinct set_intersect set_except
fn_string fn_date fn_math fn_cond fn_cast fn_array fn_map fn_json
dedup_exact dedup_near_minhash text_tokenize_wordcount text_ngrams text_lang_stats sim_cosine_topk sim_knn_brute multimodal_enrich
stream_tumbling stream_sliding stream_session stream_dedup_watermark stream_late_data
udf_scalar udf_pandas udaf_grouped_pandas udtf_split""".split())


# (name, why no DuckDB hash oracle is possible, compensating test) — the
# generator fails if this list drifts from the registry's rows-only set.
ROWS_ONLY_RATIONALE = [
    ("agg_approx_distinct",
     "HLL sketch: Spark's HyperLogLog++ and DuckDB's approx_count_distinct "
     "use different sketch params/bias tables — estimates legitimately "
     "differ within their error bounds",
     "±5% vs exact COUNT(DISTINCT), tests/test_property.py"),
    ("agg_approx_percentile",
     "KLL/GK sketch: engine-specific quantile summaries give different "
     "(both valid) answers at the same accuracy parameter.  Mixed-mode "
     "promotion analyzed and rejected in r9 (r8 VERDICT item 7): the "
     "driver's canonicalizer hashes EVERY output column, so adding an "
     "exact-percentile twin column would still hash-fail on the sketch "
     "column beside it — there is no per-column verdict channel; and "
     "dropping/bucketing the sketch column to force agreement would stop "
     "testing approx_percentile at all (the semantics-change trap "
     "COVERAGE.md's sim_ann_lsh note names).  The property test already "
     "pins the sketch to the exact percentile within its rank-error bound, "
     "which is precisely the guarantee the sketch makes",
     "rank-error bound vs exact percentile, tests/test_property.py"),
    ("agg_hll_merge",
     "merges Spark-native hll_sketch_agg binary sketches; DuckDB cannot "
     "parse the datasketches binary format",
     "merged estimate vs exact distinct, tests/test_property.py"),
    ("dedup_near_embedding_ann",
     "SRP-LSH candidate recall is probabilistic (seeded hyperplanes drawn "
     "in Python); precision is exact but the PAIR SET depends on bucket "
     "collisions",
     "precision=1 + recall floor vs exact cosine, tests/test_property.py"),
    ("dedup_near_minhash",
     "LSH recall for 0.7<=j<1 is probabilistic by design — the banded "
     "collision set is not a deterministic function expressible in SQL",
     "precision=1 + measured recall vs dedup_near_jaccard, "
     "tests/test_property.py"),
    # dedup_near_simhash: promoted to a hash oracle in r8 — the bit
    # source moved from xxhash64 (no SQL twin) to the first 48 bits of
    # md5, making every stage (per-bit sums, signature, 4x12 banding,
    # hamming filter) reproducible in DuckDB.  No longer rows-only.
    ("emb_pca_project",
     "eigendecomposition of the covariance (numpy LAPACK) — eigenvector "
     "sign/order and near-degenerate eigenvalue splits are solver-specific",
     "projection preserves pairwise distances + explained-variance "
     "monotone, tests/test_property.py"),
    # mm_phash_dedup: promoted to a hash oracle in r8 — the block-mean
    # phash over the deterministic payload bytes is exact arithmetic end
    # to end, so the oracle recomputes the 64-bit hash from hex-extracted
    # bytes (np.array_split block boundaries, float64 means, median
    # threshold) plus the 4x16 banding and hamming verify.  No longer
    # rows-only.
    ("quality_train_score",
     "MLlib LogisticRegression fit — iterative L-BFGS weights are "
     "solver/partitioning-specific beyond fixed-point tolerance",
     "AUC floor + monotone score/label agreement, tests/test_property.py"),
    # sample_seeded: promoted to a hash oracle in r8 (seeded Bernoulli
    # reformulated as a deterministic md5-threshold filter; r7 VERDICT
    # item 4) — no longer rows-only.
    ("sim_ann_ivf",
     "k-means training (distributed Lloyd from a seeded init) converges "
     "to centroids whose exact values depend on float reduction order; "
     "cell assignment flips on ties",
     "recall vs brute-force top-k, tests/test_property.py"),
    ("sim_ann_lsh",
     "SRP hyperplanes drawn from a seeded numpy RNG inside the UDF — not "
     "reproducible in SQL; bucket recall probabilistic.  Promotion "
     "attempted in r8 (r7 VERDICT item 4): the FINAL scoring stage is "
     "exact cosine, but its input candidate set is the SRP buckets, so "
     "any hash oracle would have to re-derive the buckets — i.e. "
     "re-implement seeded numpy Gaussian sampling + a 16×dim matrix "
     "product in DuckDB SQL, which it cannot express over array "
     "columns; swapping the planes for SQL-computable ±1 hash planes "
     "would change the op's recall characteristics (different LSH "
     "family), so the property test remains the right check",
     "recall floor vs brute force, tests/test_property.py"),
    ("sim_knn_join_topk",
     "banded-signature candidate generation (seeded SRP) — approximate "
     "by design, pair set not SQL-reproducible",
     "per-query recall floor vs exact k-NN, tests/test_property.py"),
    # sim_mmr_rerank: promoted to a hash oracle in r8 — greedy MMR pinned
    # to a 6dp float grid (every pairwise cosine and score rounds before
    # the argmax) is reproducible in a DuckDB recursive CTE (one row per
    # greedy step, selected set carried as list columns, LATERAL argmax
    # with the identical tie-break).  No longer rows-only.
]


def main() -> None:
    lines = [
        "# COVERAGE — operator registry vs SURVEY.md §2 "
        "(auto-generated by scripts/gen_coverage.py)",
        "",
        f"{len(REGISTRY)} registered operators; "
        f"{sum(1 for o in REGISTRY.values() if o.oracle)} hash-checked vs DuckDB, "
        f"{sum(1 for o in REGISTRY.values() if not o.oracle)} rows-only "
        "(approximate/streaming-only, property-tested in tests/).",
        "",
        "| id | SURVEY §2 | check | module |",
        "|---|---|---|---|",
    ]
    bymod = {}
    for name, op in REGISTRY.items():
        mod = op.fn.__module__.rsplit('.', 1)[-1]
        bymod.setdefault(mod, []).append((name, op))
    # CATEGORY order first, then any module added later (never drop a module
    # from the table silently — every registered op must appear)
    for mod in list(CATEGORY) + sorted(set(bymod) - set(CATEGORY)):
        for name, op in sorted(bymod.get(mod, [])):
            declared = '§2' if name in SURVEY_IDS else 'extension'
            check = 'hash' if op.oracle else 'rows+property'
            lines.append(
                f"| `{name}` | {declared} | {check} | `carpet_spark/ops/{mod}.py` |"
            )
    missing = SURVEY_IDS - set(REGISTRY)
    lines.append("")
    lines.append(
        f"SURVEY §2 ids not implemented: "
        f"{sorted(missing) if missing else 'NONE — full coverage.'}"
    )
    # Rows-only rationale (r06 VERDICT item 6): every op without a hash
    # oracle carries an explicit promotion-or-impossibility note, and the
    # generator REFUSES to regenerate if an undocumented rows-only op
    # appears — a new rows-only op must state its reason here.
    lines.append("")
    lines.append("## Rows-only ops: why no hash oracle (r7 sweep)")
    lines.append("")
    lines.append(
        "Two former rows-only ops were PROMOTED to hash in r7 "
        "(`stream_dedup_watermark`, `stream_late_data`: one availableNow "
        "batch + epoch-zero initial watermark makes the emitted result "
        "provably equal to the batch twin — the stream_sliding/"
        "stream_interval_join precedent).  Each remaining op:"
    )
    lines.append("")
    lines.append("| op | why rows-only | compensating test |")
    lines.append("|---|---|---|")
    for name, why, test in ROWS_ONLY_RATIONALE:
        lines.append(f"| `{name}` | {why} | {test} |")
    documented = {n for n, _, _ in ROWS_ONLY_RATIONALE}
    rows_only = {n for n, o in REGISTRY.items() if o.oracle is None}
    undocumented = rows_only - documented
    stale = documented - rows_only
    if undocumented or stale:
        raise SystemExit(
            f"rows-only rationale out of date: undocumented={sorted(undocumented)} "
            f"stale={sorted(stale)} — update ROWS_ONLY_RATIONALE"
        )
    lines.append("")
    lines.append("## Format-support ceilings (environment-bounded, r9)")
    lines.append("")
    lines.append(
        "Recorded decisions, not omissions — each is the honest ceiling of "
        "an OFFLINE container (no pip/apt), and the code fails LOUDLY at "
        "the boundary with a NotImplementedError that references this "
        "section:"
    )
    lines.append("")
    lines.append(
        "- **Avro `snappy` codec** (carpet_spark/ops/avro.py): the vendored "
        "OCF codec ships `null` and `deflate` (zlib is stdlib).  Snappy — "
        "Kafka's common default — requires python-snappy, which is not "
        "installed and not installable offline; there is no stdlib snappy "
        "decoder, and vendoring a from-scratch one would be a compression "
        "library, not an analytics operator.  A file written with "
        "`avro.codec: snappy` raises at header parse with the codec named.  "
        "On a real cluster: `pip install python-snappy` and add one "
        "decompress branch next to the deflate one (the block framing is "
        "already codec-agnostic)."
    )
    lines.append(
        "- **Avro nested types** (record/array/map/enum/fixed, multi-branch "
        "unions): the vendored codec covers the primitive tabular subset "
        "+ `[null, T]` unions + timestamp-micros — the shape a DataFrame "
        "column can hold without a struct flattening convention.  Nested "
        "Avro is well-specified but its faithful mapping to Spark types "
        "(and to the DuckDB oracle's column model) is a design decision "
        "beyond the r8 exception's scope; files carrying them raise at "
        "schema parse with the offending type named.  The production path "
        "for nested Avro remains the official `spark-avro` package, which "
        "this source intentionally mirrors at the API level (path + "
        "reader-schema options) to keep the swap mechanical."
    )
    lines.append(
        "- **JPEG/PNG decode** (carpet_spark/ops/multimodal.py:127-159): no "
        "PIL in the container; mm_* ops use real vendored PPM/PGM/BMP "
        "decoders plus a clearly-labeled deterministic fake-pixel path for "
        "other formats (documented since r7; listed here so every "
        "environment ceiling lives in one section)."
    )
    lines.append("")
    lines.append(
        "## Input-contract boundary: NULL elements inside embedding arrays "
        "(r9, probed)"
    )
    lines.append("")
    lines.append(
        "The NULL regime salts whole-column NULLs (a NULL `embedding` row is\n"
        "covered and green across all 25 embedding/similarity ops).  A NULL\n"
        "*element* inside a vector (`[0.5, NULL, 0.5, …]` — a corrupt row, not a\n"
        "missing one) was probed separately on a throwaway fixture: 8 of 25 ops\n"
        "diverge between engines and one (sim_mmr_rerank) aborts, because Spark\n"
        "higher-order functions and DuckDB list aggregates propagate element\n"
        "NULLs differently — and there is no single right answer (drop the\n"
        "vector? null the score? zero-fill?) without a policy decision.\n"
        "Recorded DECISION: dense vectors are an ingestion contract — rows with\n"
        "NULL elements must be screened upstream (the dq_* family is the place a\n"
        "user would add that screen), and the ops assume the contract rather\n"
        "than each inventing a different repair.  The probe script pattern lives\n"
        "in the r9 session log; revisit only if a future round adds an explicit\n"
        "`dq_embedding_screen` op (registry growth permitting)."
    )
    lines.append("")
    lines.append("## Vacuity policy: no empty==empty external banks (r10)")
    lines.append("")
    lines.append(
        "A hash-oracled op that returns ZERO rows at the driver's sf0.01\n"
        "passes the oracle compare as empty == empty — a vacuous bank that\n"
        "proves nothing about the op's math.  This bug class shipped twice\n"
        "(agg_survival_km's 7-day censoring in r8, dedup_containment_pairs'\n"
        "%9 bounding slice in r9) and was closed in r10.  'The threshold is\n"
        "never hit at this SF' is the bug, not a justification; the fix is\n"
        "re-parameterization that preserves the op's semantics, as\n"
        "dedup_containment_pairs %9→%3 and emb_pairwise_cosine_hist stride\n"
        "997→199 demonstrate.  tests/test_positive_path.py pins every\n"
        "de-vacuated op non-vacuous AND hash-matching at sf0.01 so the fixes\n"
        "cannot silently regress.  (The r10 zero-row check on the driver's\n"
        "50-op sample window went with the window; last present at `e7aebc4`.)"
    )
    with open(os.path.join(os.path.dirname(__file__), "..", "COVERAGE.md"), "w") as f:
        f.write("\n".join(lines) + "\n")
    print(f"COVERAGE.md: {len(REGISTRY)} ops, missing={sorted(missing) or 'none'}")


if __name__ == "__main__":
    main()
