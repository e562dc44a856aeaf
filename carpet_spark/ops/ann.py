"""Approximate nearest neighbor — the 100 TB similarity-search path.

Brute-force cosine (ops/llm.py sim_cosine_topk) is exact but scans every
vector.  This module adds signed-random-projection (SRP) LSH: h fixed
hyperplanes → h sign bits → bucket id; a query probes only its bucket
(plus optional multiprobe neighbors).  Buckets are an equi key, so at scale
candidate lookup is a partition-pruned hash join, not a scan.

Hyperplanes are derived from a fixed seed (np.random.default_rng(42)) so
bucket assignment is deterministic across runs/executors.  The hash family
is not portable to SQL → rows-only for the driver; recall vs brute force is
asserted in tests/test_property.py.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..exprs import dbl_vec, fp_scaled_long, vec_dot
from ..registry import register
from ..tables import load, spread

_DIM = 64
_N_PLANES = 8  # 256 buckets
_SEED = 42


def _planes() -> np.ndarray:
    return np.random.default_rng(_SEED).standard_normal((_N_PLANES, _DIM))


@register("sim_ann_lsh")  # rows-only: seeded hyperplane family not in SQL
def sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 by cosine to the vec_id=0 query, restricted to the query's
    SRP bucket (single-probe).  Bucket assignment runs as an Arrow-batched
    mapInPandas (one matmul per batch); scoring reuses the exact cosine but
    only over the bucket's candidates."""
    # NULL vectors have no bucket (and would make the batch matrix ragged)
    e = load(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        planes = _planes()
        for pdf in batches:
            if not len(pdf):
                continue
            vecs = np.array(list(pdf["embedding"]), dtype=np.float64)
            bits = (vecs @ planes.T) > 0
            bucket = (bits * (1 << np.arange(_N_PLANES))).sum(axis=1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "embedding": pdf["embedding"],
                    "bucket": bucket.astype("int64"),
                }
            )

    bucketed = e.mapInPandas(
        bucketize,
        schema="vec_id long, label int, embedding array<float>, bucket long",
    )
    q = bucketed.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    cand = bucketed.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))

    def dot(a, b):
        prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    scored = cand.select(
        "vec_id",
        "label",
        F.round(
            dot(F.col("embedding"), F.col("qe"))
            / F.nullif(  # zero-norm vector: cosine undefined -> NULL, not ANSI x/0
                F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                * F.sqrt(dot(F.col("qe"), F.col("qe"))),
                F.lit(0.0),
            ),
            6,
        ).alias("cos_sim"),
    )
    return (
        scored.filter(F.col("cos_sim").isNotNull())
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


# Banded SRP for PAIR generation (semantic dedup).  Band survival for a
# pair at cosine c is p = 1 - arccos(c)/pi per plane; P(collide) =
# 1-(1-p^bits)^bands.  2-bit bands × 8 give ~0.98 recall at the op's 0.4
# threshold (p≈0.64).  NOTE the tradeoff: 0.4 is a LOW similarity bar, so
# candidate precision is weak at this setting; a production semantic-dedup
# threshold (≥0.85, p≥0.92) would use 8+ bits per band, where random pairs
# almost never collide and the bucket join prunes hard.  Bits/bands are
# module constants precisely so the 100 TB deployment tunes them to its
# threshold.
_PAIR_PLANES = 16
_PAIR_BANDS = 8
_PAIR_BITS = _PAIR_PLANES // _PAIR_BANDS


def _pair_planes() -> np.ndarray:
    return np.random.default_rng(_SEED + 1).standard_normal((_PAIR_PLANES, _DIM))


def banded_signatures(
    df: DataFrame,
    planes: np.ndarray,
    n_bands: int,
    n_bits: int,
    id_cols: tuple[str, ...] = ("doc_id",),
) -> DataFrame:
    """Explode each vector row to `n_bands` (id..., sig) rows: sign bits
    against `planes`, chunked into bands, band index carried in the sig's
    high bits so signatures from different bands can never equi-match.
    One Arrow mapInPandas matmul per batch; shared by the registered pair
    ops (module constants; deployment-tunable, see the note above)."""

    def bucketize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            # a NULL vector has no signature (and would make the batch
            # matrix ragged) — drop it before vectorizing
            pdf = pdf[pdf["embedding"].notna()]
            if not len(pdf):
                continue
            vecs = np.array(list(pdf["embedding"]), dtype=np.float64)
            bits = (vecs @ planes.T) > 0
            sigs = []
            for b in range(n_bands):
                chunk = bits[:, b * n_bits : (b + 1) * n_bits]
                sig = (chunk * (1 << np.arange(n_bits))).sum(axis=1)
                # disambiguate bands: high bits carry the band index
                sigs.append(sig.astype("int64") | (b << n_bits))
            data = {c: pdf[c].to_numpy().repeat(n_bands) for c in id_cols}
            data["sig"] = np.column_stack(sigs).ravel()  # row-major per doc
            yield pd.DataFrame(data)

    types = {"label": "int"}
    schema = ", ".join(f"{c} {types.get(c, 'long')}" for c in id_cols) + ", sig long"
    return df.mapInPandas(bucketize, schema=schema)


def _dot(x, y):
    prods = F.zip_with(x, y, lambda p, q: p.cast("double") * q.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, v: acc + v)


def semantic_pair_dedup(
    j: DataFrame,
    planes: np.ndarray,
    n_bands: int,
    n_bits: int,
    threshold: float,
) -> DataFrame:
    """Banded-SRP near-dup pairs over (doc_id, embedding) rows: equi
    self-join on the band signature for candidates, exact double cosine
    verify at `threshold`.  Parameterized so the probe can run the
    production-banding regime on the same code path.

    r11 optimization (measured A/B at sf0.1, OPTIMIZATION_r11.md):
    the vector is widened to array<double> once per row (exprs.dbl_vec —
    bit-identical products, the interpreted fold drops the 2 casts per
    element), and the raw candidate pairs are spread BEFORE the distinct:
    the band self-join inherits the single-split scan's 1 partition, so
    pair enumeration's partial-dedup hash aggregate ran on one core; the
    hash repartition on (doc_a, doc_b) satisfies the distinct's
    clustering, so the aggregate itself adds no further exchange.

    r12 (ADVICE r11): the widening moved OFF the banding input — float
    vectors feed the bucketize mapInPandas (half the Arrow payload and
    half the band-stage shuffle width; numpy widens to float64 exactly
    either way, so the signatures are bit-identical) and dbl_vec applies
    only on the scoring frame ``jn``, whose per-pair fold needs the
    pre-widened elements."""
    j = j.select("doc_id", "embedding")
    bands = banded_signatures(j, planes, n_bands, n_bits)
    a, b = bands.alias("a"), bands.alias("b")
    raw = a.join(
        b,
        (F.col("a.sig") == F.col("b.sig"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    cand = spread(raw, "doc_a", "doc_b").distinct()
    # per-vector norms hoisted out of the pair scoring (r11, guide §1.2) —
    # one dot per pair instead of three, value-identical
    jn = j.select("doc_id", dbl_vec(F.col("embedding")).alias("embedding"))
    jn = jn.withColumn("nrm", F.sqrt(vec_dot(F.col("embedding"), F.col("embedding"))))
    ea = jn.select(
        F.col("doc_id").alias("doc_a"),
        F.col("embedding").alias("ea"),
        F.col("nrm").alias("na"),
    )
    eb = jn.select(
        F.col("doc_id").alias("doc_b"),
        F.col("embedding").alias("eb"),
        F.col("nrm").alias("nb"),
    )
    cos = F.round(
        vec_dot(F.col("ea"), F.col("eb"))
        # zero-norm side: cosine undefined -> NULL (the >= threshold filter
        # then drops the pair); unguarded this is an ANSI DIVIDE_BY_ZERO
        # job-killer on the first all-zero embedding in a 100 TB corpus
        / F.nullif(F.col("na") * F.col("nb"), F.lit(0.0)),
        6,
    )
    return (
        cand.join(ea, "doc_a")
        .join(eb, "doc_b")
        .withColumn("cos_sim", cos)
        .filter(F.col("cos_sim") >= threshold)
        .select("doc_a", "doc_b", "cos_sim")
    )


@register("dedup_near_embedding_ann")  # rows-only: seeded hyperplane family
def dedup_near_embedding_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup pairs at cosine ≥ 0.4 with LSH-generated candidates
    — the 100 TB composition the r01 VERDICT asked for: dedup_near_embedding
    (exact all-pairs, the ground truth this op is property-tested against)
    swaps its O(n²) cross join for banded signed-random-projection buckets.

    Pipeline: one Arrow mapInPandas matmul computes 16 sign bits per vector
    → 8 × 2-bit band signatures (posexplode) → equi self-join on
    (band, sig) for candidates → exact double-precision cosine verify.
    Every emitted pair is exactly scored (precision 1.0 by construction);
    recall vs the exact op is pinned in tests/test_property.py.  The
    candidate join is an equi shuffle join on the band signature — no
    BroadcastNestedLoopJoin anywhere in the plan (plan-asserted).
    Scaling of the production-banding regime on this same
    semantic_pair_dedup path is recorded in SCALE.md."""
    d = load(spark, sf_dir, "documents").select("doc_id")
    e = load(spark, sf_dir, "embeddings")
    j = d.join(e, d.doc_id == e.vec_id).select("doc_id", "embedding")
    return semantic_pair_dedup(j, _pair_planes(), _PAIR_BANDS, _PAIR_BITS, 0.4)


_KNN_K = 3


def knn_join_topk(
    e: DataFrame,
    planes: np.ndarray,
    n_bands: int,
    n_bits: int,
    k: int,
) -> DataFrame:
    """Batch k-NN join over (vec_id, label, embedding) rows: label=1 rows
    are the query side; banded-SRP equi join generates candidates, exact
    double cosine re-scores, a per-query window keeps top-k.  Parameterized
    by the banding so the production-banding regime runs on this same code
    path (SCALE.md)."""
    bands = banded_signatures(e, planes, n_bands, n_bits, id_cols=("vec_id", "label"))
    qb = bands.filter(F.col("label") == 1).select(
        F.col("vec_id").alias("q_id"), "sig"
    )
    raw = (
        qb.join(bands.select("vec_id", "sig"), "sig")
        .filter(F.col("vec_id") != F.col("q_id"))
        .select("q_id", "vec_id")
    )
    # r11 optimization (measured A/B at sf0.1, OPTIMIZATION_r11.md): the
    # sig join inherits the single-split scan's 1 partition, so candidate
    # enumeration and the distinct's partial aggregate ran on one core —
    # spread the raw pairs BEFORE the distinct (hash repartition on the
    # group key satisfies the aggregate's clustering; measured 3.4 s ->
    # 1.4 s for the full op).  At any production layout spread() is a
    # no-op (tables.spread).
    cand = spread(raw, "q_id", "vec_id").distinct()
    # Per-vector norms hoisted out of the pair scoring (r11, guide §1.2):
    # sqrt(x·x) depends only on the row, so computing it once per vector
    # instead of once per candidate pair cuts the interpreted zip_with/
    # aggregate dot products per pair from 3 to 1 — the same double either
    # way (identical expression over identical data).  r12: the vector is
    # widened to array<double> ONCE per row (exprs.dbl_vec) so the per-pair
    # fold multiplies pre-widened elements — bit-identical products (the
    # r11-pinned equivalence), ~2 interpreted casts/element saved per pair;
    # the float vectors keep feeding banded_signatures above (half the
    # Arrow payload; numpy widens exactly either way).
    en = e.select(
        "vec_id", "label", dbl_vec(F.col("embedding")).alias("embedding")
    )
    en = en.withColumn("nrm", F.sqrt(vec_dot(F.col("embedding"), F.col("embedding"))))
    qe = en.select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        F.col("nrm").alias("qn"),
    )
    ie = en.select(
        "vec_id", F.col("embedding").alias("iv"), "label", F.col("nrm").alias("inm")
    )
    scored = (
        cand.join(qe, "q_id")
        .join(ie, "vec_id")
        .select(
            "q_id",
            "vec_id",
            "label",
            F.round(
                vec_dot(F.col("qv"), F.col("iv"))
                # zero-norm query or item: undefined -> NULL, filtered below
                / F.nullif(F.col("qn") * F.col("inm"), F.lit(0.0)),
                6,
            ).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
    return (
        scored.filter(F.col("cos_sim").isNotNull())
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("q_id", F.col("vec_id").alias("neighbor_id"), "label", "cos_sim", "rank")
    )


@register("sim_knn_join_topk")  # rows-only: seeded hyperplane family
def sim_knn_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch k-NN JOIN: top-3 neighbors for EVERY query vector (label=1
    subset) at once — the retrieval-pipeline shape (embed a batch, fetch
    neighbors for all of them), not the single-query probe of sim_ann_lsh.

    Candidates come from the same banded SRP signatures as
    dedup_near_embedding_ann (8 bands × 2 bits): query and index sides
    each explode to |rows|×8 (band,sig) rows, and the candidate set is an
    EQUI join on the signature — at 100 TB both sides hash-partition on
    sig, so each executor joins only its signature range; no cross join,
    no per-query scan.  Exact double cosine re-scores candidates and a
    per-query window (partitioned by q_id — one shuffle) keeps the top-3.
    Recall vs per-query brute force is pinned in tests/test_property.py.
    Scaling of the production-banding regime on this same knn_join_topk
    path is recorded in SCALE.md."""
    e = load(spark, sf_dir, "embeddings")
    return knn_join_topk(e, _pair_planes(), _PAIR_BANDS, _PAIR_BITS, _KNN_K)


_NLIST = 16  # IVF coarse clusters
_NPROBE = 4  # clusters searched per query
_ITERS = 3  # fixed Lloyd iterations (deterministic run count)


@register("sim_ann_ivf")  # rows-only: iterative k-means not SQL-expressible
def sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    vectors into _NLIST cells; a query scores exact cosine only inside its
    _NPROBE nearest cells.  The scale path vs LSH: cell sizes adapt to the
    data distribution, and the per-cell candidate fetch is an equi join on
    cluster id (partition-prunable / bucketable at 100 TB).

    Training is distributed Lloyd with map-side combine: each Arrow batch
    emits per-cluster partial (sum, count); only _NLIST tiny partials
    shuffle per iteration, and the k×64-float centroid table broadcasts
    back — no driver-side scan of the vectors.  Seeding is deterministic
    (centroids ← vec_id 0.._NLIST-1), so cell assignment is reproducible
    across runs and executors.  Top-10 by cosine for the vec_id=0 query;
    recall vs the exact scan is asserted in tests/test_property.py."""
    # NULL vectors can be neither seeds, training points, nor candidates
    # (they would make every numpy batch matrix ragged)
    e = load(spark, sf_dir, "embeddings").where(F.col("embedding").isNotNull())

    seed_rows = (
        e.filter(F.col("vec_id") < _NLIST).orderBy("vec_id").select("embedding").collect()
    )
    out_schema = "vec_id long, label int, cos_sim double"
    if not seed_rows:  # no seedable vectors: empty result, stable schema
        return spark.createDataFrame([], out_schema)
    centroids = np.array([r[0] for r in seed_rows], dtype=np.float64)

    for _ in range(_ITERS):
        cent = centroids  # capture for closure

        def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                vecs = np.array(list(pdf["embedding"]), dtype=np.float64)
                # nearest centroid by squared L2
                d2 = ((vecs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
                assign = d2.argmin(axis=1)
                out = {"cluster": [], "vsum": [], "cnt": []}
                for cid in np.unique(assign):
                    mask = assign == cid
                    out["cluster"].append(int(cid))
                    out["vsum"].append(vecs[mask].sum(axis=0).tolist())
                    out["cnt"].append(int(mask.sum()))
                yield pd.DataFrame(out)

        agg = (
            e.mapInPandas(partials, schema="cluster int, vsum array<double>, cnt long")
            .groupBy("cluster")
            .agg(
                F.aggregate(
                    F.collect_list("vsum"),
                    F.array_repeat(F.lit(0.0), _DIM),
                    lambda acc, v: F.zip_with(acc, v, lambda a, b: a + b),
                ).alias("vsum"),
                F.sum("cnt").alias("cnt"),
            )
            .collect()
        )
        new = centroids.copy()
        for row in agg:
            new[row["cluster"]] = np.array(row["vsum"]) / row["cnt"]
        centroids = new

    cent = centroids

    def assign_cells(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            vecs = np.array(list(pdf["embedding"]), dtype=np.float64)
            d2 = ((vecs[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "label": pdf["label"],
                    "embedding": pdf["embedding"],
                    "cluster": d2.argmin(axis=1).astype("int32"),
                }
            )

    indexed = e.mapInPandas(
        assign_cells,
        schema="vec_id long, label int, embedding array<float>, cluster int",
    )

    qrow = e.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None or qrow[0] is None:  # query vector absent: empty result
        return spark.createDataFrame([], out_schema)
    qvec = np.array(qrow[0], dtype=np.float64)
    probe = np.argsort(((centroids - qvec) ** 2).sum(axis=1))[:_NPROBE].tolist()

    def dot(a, b):
        prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
        return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)

    qcol = F.array(*[F.lit(float(x)) for x in qvec.tolist()])
    scored = indexed.filter(F.col("cluster").isin(probe)).select(
        "vec_id",
        "label",
        F.round(
            dot(F.col("embedding"), qcol)
            / F.nullif(  # zero-norm query or item: undefined -> NULL, filtered below
                F.sqrt(dot(F.col("embedding"), F.col("embedding")))
                * F.lit(float(np.sqrt((qvec * qvec).sum()))),
                F.lit(0.0),
            ),
            6,
        ).alias("cos_sim"),
    )
    return (
        scored.filter(F.col("cos_sim").isNotNull())
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id").asc())
        .limit(10)
    )


@register("emb_pca_project")  # rows-only: eigendecomposition not SQL-expressible
def emb_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-principal-component projection of the embedding corpus — the
    reduce step of distributed PCA, the standard embedding-drift /
    visualization primitive.

    Phase 1 (distributed): each partition emits ONE summary row
    (count, sum[64], flattened sum-of-outer-products[64x64]) via an
    Arrow-batched mapInPandas matmul — the classic mergeable second-moment
    sketch.  The driver collects |partitions| x ~33 KB (bounded state like
    ops/ann.py IVF k-means, never data rows), assembles the covariance,
    and eigendecomposes the 64x64 matrix locally in numpy.
    Phase 2 (distributed): projection onto the (sign-normalized) top
    eigenvector runs as a pure JVM zip_with/aggregate expression over the
    literal component — no Python on the scoring path.

    Verification: rows-only for the driver (no SQL eigensolver); the
    property test asserts the PC1 score variance dominates the variance of
    every raw coordinate (optimality witness) and that scores are stable
    under repartitioning."""

    def partials(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        n, s, ss = 0, np.zeros(_DIM), np.zeros((_DIM, _DIM))
        for pdf in batches:
            # NULL vectors contribute no moments (vstack would be ragged)
            pdf = pdf[pdf["embedding"].notna()]
            if not len(pdf):
                continue
            m = np.vstack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += m.shape[0]
            s += m.sum(axis=0)
            ss += m.T @ m
        if n:
            yield pd.DataFrame(
                {"n": [n], "s": [s.tolist()], "ss": [ss.ravel().tolist()]}
            )

    e = load(spark, sf_dir, "embeddings")
    rows = e.select("embedding").mapInPandas(
        partials, "n long, s array<double>, ss array<double>"
    ).collect()  # bounded: one ~33 KB summary row per partition
    n = sum(r["n"] for r in rows)
    if n < 2:  # covariance undefined on <2 vectors: NULL scores, stable schema
        return e.select(
            "vec_id", "label", F.lit(None).cast("double").alias("pc1_score")
        )
    s = np.sum([np.array(r["s"]) for r in rows], axis=0)
    ss = np.sum([np.array(r["ss"]).reshape(_DIM, _DIM) for r in rows], axis=0)
    mean = s / n
    cov = (ss - n * np.outer(mean, mean)) / (n - 1)
    vals, vecs = np.linalg.eigh(cov)
    pc1 = vecs[:, -1]
    nz = np.flatnonzero(np.abs(pc1) > 1e-12)[0]
    if pc1[nz] < 0:  # deterministic sign convention
        pc1 = -pc1
    # r12 (ADVICE r11): the eigensolve's last ulps track the partial-sum
    # fold (partition count / arrival), so the raw literals differed
    # between sessions and the op's PLANS.json fingerprint flapped on
    # every regeneration — and a near-midpoint 6dp score was in principle
    # session-dependent.  Quantizing the plan literals to a fixed 1e-9
    # grain (|pc1_i| <= 1, mean is data-bounded; solver noise is ~1e-13,
    # four orders below the grain) pins both.  Residual risk — a
    # component sitting within solver noise of a 0.5e-9 midpoint — is
    # documented rather than hidden.
    pc1 = np.round(pc1, 9)
    mean = np.round(mean, 9)
    pc_lit = F.array(*[F.lit(float(x)) for x in pc1])
    mean_lit = F.array(*[F.lit(float(x)) for x in mean])
    centered_dot = F.aggregate(
        F.zip_with(
            F.zip_with(
                F.col("embedding").cast("array<double>"), mean_lit, lambda x, m: x - m
            ),
            pc_lit,
            lambda c, v: c * v,
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return e.select(
        "vec_id", "label", F.round(centered_dot, 6).alias("pc1_score")
    )


_MMR_ORACLE = """
WITH RECURSIVE q AS (
  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
  FROM embeddings WHERE vec_id = 0
),
base AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
  FROM embeddings
),
scored AS (
  SELECT vec_id, e,
         round(list_dot_product(e, qe)
               / nullif(sqrt(list_dot_product(e, e))
                        * sqrt(list_dot_product(qe, qe)), 0.0), 6) AS q_sim
  FROM base, q
),
cands AS (
  SELECT vec_id, q_sim,
         list_transform(e, x -> x / sqrt(list_dot_product(e, e))) AS ne
  FROM scored WHERE q_sim IS NOT NULL
  ORDER BY q_sim DESC, vec_id ASC LIMIT 30
),
rec AS (
  SELECT CAST(1 AS INT) AS sel_rank, b.vec_id, b.q_sim, b.score AS mmr_score,
         [b.vec_id] AS sel_ids, [b.ne] AS sel_embs
  FROM (SELECT vec_id, q_sim, ne, round(0.7 * q_sim - CAST(0.3 AS DOUBLE) * 0.0, 6) AS score
        FROM cands ORDER BY score DESC, vec_id ASC LIMIT 1) b
  UNION ALL
  SELECT CAST(r.sel_rank + 1 AS INT), b.vec_id, b.q_sim, b.score,
         list_append(r.sel_ids, b.vec_id), list_append(r.sel_embs, b.ne)
  FROM rec r, LATERAL (
    SELECT c.vec_id, c.q_sim, c.ne,
           round(0.7 * c.q_sim - CAST(0.3 AS DOUBLE) * greatest(0.0, list_max(
             list_transform(r.sel_embs,
                            s -> round(list_dot_product(c.ne, s), 6)))), 6)
             AS score
    FROM cands c
    WHERE NOT list_contains(r.sel_ids, c.vec_id)
    ORDER BY score DESC, c.vec_id ASC LIMIT 1
  ) b
  WHERE r.sel_rank < 10
)
SELECT sel_rank, vec_id, q_sim, mmr_score FROM rec
"""


@register(
    "sim_mmr_rerank",
    # promoted rows-only -> hash (r8, the third promotion this round):
    # the greedy loop's float semantics are pinned at 6 decimal places
    # (every pairwise cosine rounds before entering max_sim, matching
    # the already-6dp q_sim), which makes every argmax input a number
    # BOTH engines derive identically from identical 6dp operands with
    # the identical IEEE expression 0.7*q_sim - (1-0.7)*max_sim — so
    # DuckDB's recursive CTE (one row per greedy step, selected set
    # carried as list columns, LATERAL argmax with the same
    # score-desc/vec_id tie-break) reproduces the pick sequence and the
    # scores bit-for-bit.
    oracle=_MMR_ORACLE,
)
def sim_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking: take the top-30 cosine
    candidates for the vec_id=0 query, then greedily select 10 maximizing
    λ·sim(q,d) − (1−λ)·max_sim(d, already-selected) (λ=0.7) — the
    standard diversity re-rank between retrieval and the LLM context
    window (near-duplicate passages waste context; MMR spends the k
    slots on coverage).  Deterministic: candidate cut and every greedy
    tie break on (score, vec_id).

    Scale (100 TB): the DISTRIBUTED stage is the candidate retrieval
    (sim_cosine_topk's TakeOrderedAndProject shape, here top-30); the
    greedy loop is inherently sequential in k but runs over only k×30
    dot products on 64-dim vectors — so it executes in ONE mapInPandas
    task over the coalesced candidate set (~8 KB), never on the driver
    and never over the corpus.  Property contract
    (tests/test_property.py): first pick equals the cosine argmax, and
    the selected set's max pairwise similarity is ≤ the plain top-10's
    (diversity never worsens)."""
    import numpy as np
    import pandas as pd

    e = load(spark, sf_dir, "embeddings")
    # r12 examined and left alone (VERDICT item 5 named this op from its
    # 4.6 s sweep-tail figure; isolated fresh cost is ~0.55 s of mostly
    # fixed overhead).  Three variants were measured interleaved and ALL
    # rejected as slower or neutral-at-best at this volume (numbers in
    # OPTIMIZATION_r12.md): spread() on the scan (the 10k-vector shuffle
    # costs more than the fan-out saves — the r11 q1-scan lesson), the
    # dbl_vec row-side precast (the extra 64-element interpreted
    # transform plus the doubled row width through the cross join cost
    # more than the two saved casts per fold element), and even the bare
    # query-norm hoist (a 1-row broadcast column) — the op is
    # fixed-cost-dominated, not scoring-dominated.
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    scored = e.crossJoin(F.broadcast(q)).select(
        "vec_id",
        "embedding",
        F.round(
            _dot(F.col("embedding"), F.col("qe"))
            / F.nullif(  # zero-norm vector: undefined -> NULL, excluded from candidates
                F.sqrt(_dot(F.col("embedding"), F.col("embedding")))
                * F.sqrt(_dot(F.col("qe"), F.col("qe"))),
                F.lit(0.0),
            ),
            6,
        ).alias("q_sim"),
    )
    cands = (
        scored.filter(F.col("q_sim").isNotNull())
        .orderBy(F.col("q_sim").desc(), F.col("vec_id").asc())
        .limit(30)
        .coalesce(1)
    )

    def mmr(batches):
        lam, one_minus_lam, k = 0.7, 0.3, 10

        def _round6_half_away(x):
            # round-half-AWAY-from-zero on the correctly-rounded scaled
            # double a = fl(|x|*1e6) — the same quantity DuckDB's ROUND
            # rounds, so the two agree on every reachable input (verified
            # on exact 6dp midpoints such as 0.0078125, binade-boundary
            # neighborhoods, and a random battery).  np.round is
            # half-to-even and disagrees on exact midpoints; the naive
            # floor(a + 0.5) form additionally double-rounds UP when a is
            # the predecessor of 0.5 (the one double where ulp(a) <
            # ulp(a+0.5) puts a representable point inside the hazard
            # window) — the frac comparison below is exact for a < 2^52
            # and has neither failure mode.
            a = np.abs(x) * 1e6
            fl = np.floor(a)
            return np.copysign(fl + (a - fl >= 0.5), x) / 1e6
        for pdf in batches:
            if pdf.empty:
                continue
            pdf = pdf.sort_values(["q_sim", "vec_id"], ascending=[False, True])
            ids = pdf["vec_id"].to_numpy()
            qs = pdf["q_sim"].to_numpy()
            mat = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            mat /= np.linalg.norm(mat, axis=1, keepdims=True)
            n = len(ids)
            selected: list[int] = []
            # max 6dp-rounded cosine to any selected row, FLOORED AT 0 by
            # the zeros init (all-negative neighborhoods contribute no
            # diversity penalty) — the oracle mirrors with greatest(0, ...)
            max_sim = np.zeros(n)
            picked = np.zeros(n, dtype=bool)
            for rank in range(min(k, n)):
                # the score itself lives on the 6dp grid too: DuckDB's
                # decimal literal folding gives (1 - 0.7) = exactly 0.3
                # while Python floats give 0.30000000000000004 — a last-ulp
                # mmr_score divergence unless both sides round
                # literal 0.3, NOT (1 - lam): Python's (1-0.7) is
                # 0.30000000000000004 while DuckDB constant-folds (1-0.7)
                # in exact DECIMAL to 0.3 -- a 1-ulp pre-round divergence
                # that a 7th-decimal midpoint score would round APART.
                # With the identical double(0.3) on both sides the
                # pre-round values are bit-identical — and _round6_half_away
                # below resolves exact 6dp midpoints (odd multiples of
                # 2^-7 ARE representable, e.g. 0.0078125) the same
                # half-away-from-zero direction as DuckDB's ROUND and
                # Spark's F.round, where np.round's half-to-even would
                # split a hash apart.
                mmr_score = _round6_half_away(
                    lam * qs
                    - one_minus_lam * (max_sim if selected else 0.0)
                )
                mmr_score = np.where(picked, -np.inf, mmr_score)
                # tie-break: highest score, then lowest vec_id (ids are
                # sorted ascending within equal q_sim after the stable sort)
                best = int(np.lexsort((ids, -mmr_score))[0])
                picked[best] = True
                selected.append(best)
                # round each pairwise cosine to 6dp BEFORE it enters the
                # running max: pins the greedy semantics at the same grid
                # as q_sim, so the oracle's fold-order dot products agree
                # exactly (summation-order noise is ~1e-15, far under the
                # 5e-7 rounding boundary)
                max_sim = np.maximum(
                    max_sim, _round6_half_away(mat @ mat[best])
                )
                yield pd.DataFrame(
                    {
                        "sel_rank": [rank + 1],
                        "vec_id": [int(ids[best])],
                        "q_sim": [float(qs[best])],
                        "mmr_score": [float(mmr_score[best])],
                    }
                )

    return cands.mapInPandas(
        mmr, schema="sel_rank int, vec_id long, q_sim double, mmr_score double"
    )


@register(
    "emb_product_quantize_lite",
    oracle="""
    WITH subs AS (
      SELECT vec_id, s.j AS subspace,
             list_sum(list_transform(
               embedding[s.j * 8 + 1 : s.j * 8 + 8],
               x -> CAST(x AS DOUBLE))) AS ssum
      FROM embeddings,
           (SELECT unnest(range(0, 8)) AS j) s
    ),
    bits AS (
      SELECT vec_id, subspace,
             CASE WHEN ssum > 0 THEN 1 ELSE 0 END AS bit
      FROM subs
    ),
    codes AS (
      SELECT vec_id,
             CAST(SUM(bit * (1 << subspace)) AS BIGINT) AS code
      FROM bits GROUP BY vec_id
    ),
    per_sub AS (
      SELECT subspace,
             CAST(SUM(CASE WHEN bit = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bit0,
             CAST(SUM(bit) AS BIGINT) AS n_bit1
      FROM bits GROUP BY subspace
    ),
    ncodes AS (
      SELECT COUNT(DISTINCT code) AS n_distinct_codes FROM codes
    )
    SELECT p.subspace, p.n_bit0, p.n_bit1,
           round(LEAST(p.n_bit0, p.n_bit1)
                 / CAST(GREATEST(p.n_bit0, p.n_bit1) AS DOUBLE), 6)
             AS balance,
           (SELECT n_distinct_codes FROM ncodes) AS n_distinct_codes
    FROM per_sub p
    """,
)
def emb_product_quantize_lite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization structure probe: the 64-dim embedding
    splits into 8 subspaces of 8 dims, each assigned a 1-bit code
    (sign of the subvector sum — the degenerate 2-centroid PQ
    codebook), giving an 8-bit code per vector; the report shows
    per-subspace code balance and the number of distinct codes in
    use — the capacity check run BEFORE spending on a real k-means
    codebook (sim_ann_ivf trains one): skewed bits or few distinct
    codes mean PQ at that split will not separate this space.
    Subvector sums reduce in array order on both engines, and every
    reported quantity is an integer count.

    Scale (100 TB): pure array arithmetic per vector (zip/slice
    inside the scan, no explode of the corpus), one 8-key and one
    distinct-count aggregate — the code assignment shape is exactly
    how a real PQ encoder runs at scale."""
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    bit_cols = []
    for j in range(8):
        ssum = F.aggregate(
            F.slice("emb", j * 8 + 1, 8), F.lit(0.0), lambda a, x: a + x
        )
        bit_cols.append(F.when(ssum > 0, 1).otherwise(0).alias(f"b{j}"))
    bits_wide = e.select("vec_id", *bit_cols)
    code = None
    for j in range(8):
        term = F.col(f"b{j}") * (1 << j)
        code = term if code is None else code + term
    coded = bits_wide.withColumn("code", code.cast("long"))
    ncodes = coded.agg(F.countDistinct("code").alias("n_distinct_codes"))
    bits_long = coded.select(
        F.posexplode(
            F.array(*[F.col(f"b{j}") for j in range(8)])
        ).alias("subspace", "bit")
    )
    per_sub = bits_long.groupBy("subspace").agg(
        F.sum(F.when(F.col("bit") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_bit0"),
        F.sum("bit").cast("long").alias("n_bit1"),
    )
    return per_sub.crossJoin(F.broadcast(ncodes)).select(
        "subspace",
        "n_bit0",
        "n_bit1",
        F.round(
            F.least("n_bit0", "n_bit1")
            / F.greatest("n_bit0", "n_bit1").cast("double"),
            6,
        ).alias("balance"),
        "n_distinct_codes",
    )


@register(
    "sample_hard_negatives",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, label AS qlabel, embedding AS qe
      FROM embeddings WHERE vec_id % 97 = 0
    ),
    cand AS (
      SELECT vec_id AS cid, label AS clabel, embedding AS ce
      FROM embeddings WHERE vec_id % 5 = 0
    ),
    scored AS (
      SELECT q.qid, q.qlabel, c.cid, c.clabel,
             round(
               list_sum(list_transform(range(1, 65),
                 i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE)))
               / (sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(q.qe[i] AS DOUBLE) * CAST(q.qe[i] AS DOUBLE))))
                  * sqrt(list_sum(list_transform(range(1, 65),
                    i -> CAST(c.ce[i] AS DOUBLE) * CAST(c.ce[i] AS DOUBLE))))),
               6) AS cos6
      FROM q JOIN cand c ON q.qlabel <> c.clabel
    ),
    ranked AS (
      SELECT qid, qlabel, cid AS neg_vec_id, clabel AS neg_label, cos6,
             ROW_NUMBER() OVER (PARTITION BY qid
               ORDER BY cos6 DESC, cid) AS rnk
      FROM scored
    )
    SELECT qid, rnk, neg_vec_id, cos6, qlabel, neg_label
    FROM ranked WHERE rnk <= 3
    """,
)
def sample_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each query
    vector, the top-3 most-similar vectors with a DIFFERENT label —
    the negatives that actually move an embedding model, versus the
    random ones sample_negative_pairs draws (which are trivially easy
    and teach nothing after epoch one).  Cosines round at the proven
    6-dp grain before ranking; ties break on candidate id.

    Scale (100 TB): the demo scores queries against a bounded
    candidate stride; the production path swaps the candidate pool
    for sim_ann_lsh's banded buckets (mine hard negatives among ANN
    neighbors only — O(n·k), not O(n²)) with the exact same ranking
    tail.  Query side broadcasts; per-query top-3 is a window over
    the candidate fanout."""
    e = load(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") % 97 == 0).select(
        F.col("vec_id").alias("qid"),
        F.col("label").alias("qlabel"),
        F.col("embedding").alias("qe"),
    )
    cand = e.filter(F.col("vec_id") % 5 == 0).select(
        F.col("vec_id").alias("cid"),
        F.col("label").alias("clabel"),
        F.col("embedding").alias("ce"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(cand)
        .filter(F.col("qlabel") != F.col("clabel"))
        .select(
            "qid",
            "qlabel",
            "cid",
            "clabel",
            F.round(
                _dot(F.col("qe"), F.col("ce"))
                / (
                    F.sqrt(_dot(F.col("qe"), F.col("qe")))
                    * F.sqrt(_dot(F.col("ce"), F.col("ce")))
                ),
                6,
            ).alias("cos6"),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cos6").desc(), F.col("cid"))
    return (
        scored.select(
            "qid",
            "qlabel",
            F.col("cid").alias("neg_vec_id"),
            F.col("clabel").alias("neg_label"),
            "cos6",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
        .select("qid", "rnk", "neg_vec_id", "cos6", "qlabel", "neg_label")
    )


@register(
    "emb_kmeans_pp_init",
    oracle="""
    WITH e AS (
      SELECT vec_id, r.i AS i,
             CAST(ROUND(CAST(embedding[CAST(r.i AS BIGINT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS iv
      FROM embeddings CROSS JOIN range(64) r(i)
      -- a NULL vector has no dimension rows: excluded, exactly as the
      -- Spark side's posexplode(NULL) emits nothing for it
      WHERE embedding IS NOT NULL
    ),
    s1 AS (SELECT MIN(vec_id) AS vid FROM e),
    d1 AS (
      SELECT a.vec_id,
             SUM(CAST(a.iv - b.iv AS HUGEINT) * (a.iv - b.iv)) AS mind
      FROM e a JOIN e b ON b.i = a.i AND b.vec_id = (SELECT vid FROM s1)
      GROUP BY a.vec_id
    ),
    s2 AS (
      SELECT vec_id AS vid, mind FROM d1
      WHERE vec_id <> (SELECT vid FROM s1)
      ORDER BY mind DESC, vec_id LIMIT 1
    ),
    d2 AS (
      SELECT a.vec_id,
             LEAST(d1.mind,
                   SUM(CAST(a.iv - b.iv AS HUGEINT) * (a.iv - b.iv)))
               AS mind
      FROM e a
      JOIN e b ON b.i = a.i AND b.vec_id = (SELECT vid FROM s2)
      JOIN d1 ON d1.vec_id = a.vec_id
      GROUP BY a.vec_id, d1.mind
    ),
    s3 AS (
      SELECT vec_id AS vid, mind FROM d2
      WHERE vec_id NOT IN ((SELECT vid FROM s1), (SELECT vid FROM s2))
      ORDER BY mind DESC, vec_id LIMIT 1
    ),
    d3 AS (
      SELECT a.vec_id,
             LEAST(d2.mind,
                   SUM(CAST(a.iv - b.iv AS HUGEINT) * (a.iv - b.iv)))
               AS mind
      FROM e a
      JOIN e b ON b.i = a.i AND b.vec_id = (SELECT vid FROM s3)
      JOIN d2 ON d2.vec_id = a.vec_id
      GROUP BY a.vec_id, d2.mind
    ),
    s4 AS (
      SELECT vec_id AS vid, mind FROM d3
      WHERE vec_id NOT IN ((SELECT vid FROM s1), (SELECT vid FROM s2),
                           (SELECT vid FROM s3))
      ORDER BY mind DESC, vec_id LIMIT 1
    )
    SELECT 1 AS sel_order, (SELECT vid FROM s1) AS vec_id,
           CAST(0 AS DOUBLE) AS dist_to_prior
    UNION ALL SELECT 2, vid, CAST(mind AS DOUBLE) FROM s2
    UNION ALL SELECT 3, vid, CAST(mind AS DOUBLE) FROM s3
    UNION ALL SELECT 4, vid, CAST(mind AS DOUBLE) FROM s4
    """,
)
def emb_kmeans_pp_init(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic k-means++-style seeding (farthest-first traversal,
    k=4): start from the lowest vec_id, then repeatedly pick the point
    with the LARGEST min-distance to the chosen set — the
    initialization that makes sim_ann_ivf's Lloyd iterations converge
    in a couple of rounds instead of tens (bad seeds are the dominant
    k-means failure mode).  Coordinates quantize to a 1e-6 integer
    grid first, so every distance is an exact BIGINT and the argmax
    (dist DESC, vec_id tie-break) is engine-stable — float distances
    would make near-ties an engine coin-flip.  Each round only
    computes distances to the NEWEST centroid and folds them in with
    LEAST, the standard incremental form.

    Scale (100 TB): k bounded rounds, each one equi-join on the dim
    axis + a |vectors| combine; nothing collects (the argmax is a
    plan-side limit 1).  At billions of vectors you run this on a
    uniform sample — farthest-first on a 1% sample is the textbook
    scalable k-means++ (k-means|| oversampling is the same idea)."""
    emb = load(spark, sf_dir, "embeddings")
    iv = fp_scaled_long(F.col("valf"), 1_000_000)
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "valf")
    ).select("vec_id", "i", iv.alias("iv"))
    e = e.localCheckpoint()

    # r11 optimization (guide §3.3/§5 — truncate iterative lineage): each
    # round's 1-row argmax (nxt) is consumed by THREE later subtrees (the
    # chosen union, the newest-centroid join, and the next round's
    # anti-join), so without materialization round r's plan embedded —
    # and re-executed — round r-1's whole subtree once per consumer:
    # ~3^rounds growth, 27 distance passes and 94 Exchanges in the
    # committed r10 plan (the worst shape in the r11 registry-wide
    # audit).  localCheckpoint-ing the 1-row nxt (and 1-row first) cuts
    # that to the k(k-1)/2 = 6 lazy distance passes of the linear mind
    # chain — sf0.1 noop 2.20 s -> 2.11 s locally, and the recompute
    # multiplier is gone at any scale.  (Checkpointing the |vectors|-row
    # mind frame per round was tried too — optimal k passes — but each
    # eager materialization is its own job and the extra per-job
    # overhead DOUBLED local wall-clock (4.29 s); at 100 TB, where a
    # distance pass dwarfs job overhead, that is the variant to flip
    # to.)
    first = (
        e.groupBy().agg(F.min("vec_id").alias("vid")).select("vid").localCheckpoint()
    )
    chosen = first.select(
        F.lit(1).alias("sel_order"),
        F.col("vid").alias("vec_id"),
        F.lit(0.0).alias("dist_to_prior"),
    )
    mind = None
    newest = first
    for r in range(2, 5):
        cent = e.join(
            F.broadcast(newest), e.vec_id == F.col("vid")
        ).select(F.col("i").alias("ci"), F.col("iv").alias("civ"))
        # int128-class distances (extreme regime): 1e-6-grid coordinates
        # of a ~1e6-magnitude component square past int64 — the distance
        # sum runs decimal(38,0) (HUGEINT on the oracle side); only the
        # REPORT column converts to double (the argmax compares exactly)
        d_new = (
            e.join(F.broadcast(cent), F.col("i") == F.col("ci"))
            .groupBy("vec_id")
            .agg(
                F.sum(
                    (F.col("iv") - F.col("civ")).cast("decimal(38,0)")
                    * (F.col("iv") - F.col("civ"))
                ).alias("dnew")
            )
        )
        mind = (
            d_new
            if mind is None
            else d_new.join(mind, "vec_id").select(
                "vec_id", F.least("dnew", "mind").alias("dnew")
            )
        ).withColumnRenamed("dnew", "mind")
        nxt = (
            mind.join(chosen.select("vec_id"), "vec_id", "left_anti")
            .orderBy(F.col("mind").desc(), "vec_id")
            .limit(1)
        ).localCheckpoint()
        chosen = chosen.unionAll(
            nxt.select(
                F.lit(r).alias("sel_order"),
                "vec_id",
                F.col("mind").cast("double").alias("dist_to_prior"),
            )
        )
        newest = nxt.select(F.col("vec_id").alias("vid"))
    return chosen


@register(
    "sim_threshold_sweep",
    oracle="""
    WITH e AS (
      SELECT vec_id, r.i AS i,
             CAST(ROUND(CAST(embedding[CAST(r.i AS BIGINT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS iv
      FROM embeddings CROSS JOIN range(64) r(i)
      WHERE vec_id % 5 = 0
    ),
    nsq AS (
      SELECT vec_id, SUM(CAST(iv AS HUGEINT) * iv) AS n2
      FROM e GROUP BY vec_id
    ),
    dots AS (
      SELECT a.vec_id AS a_id, b.vec_id AS b_id,
             CAST(SUM(a.iv * b.iv) AS BIGINT) AS dot
      FROM e a JOIN e b ON b.i = a.i AND a.vec_id < b.vec_id
      GROUP BY 1, 2
    ),
    pairs AS (
      SELECT d.dot, na.n2 AS na2, nb.n2 AS nb2
      FROM dots d
      JOIN nsq na ON na.vec_id = d.a_id
      JOIN nsq nb ON nb.vec_id = d.b_id
    ),
    th AS (SELECT t2 FROM (VALUES (400),(625),(900),(1225),(1600)) v(t2))
    SELECT th.t2 AS threshold_sq_e4,
           CAST(SUM(CASE WHEN p.dot > 0
                          AND 10000 * CAST(p.dot AS HUGEINT) * p.dot
                              > th.t2 * p.na2 * p.nb2
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_pairs_above,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           round(SUM(CASE WHEN p.dot > 0
                          AND 10000 * CAST(p.dot AS HUGEINT) * p.dot
                              > th.t2 * p.na2 * p.nb2
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS share
    FROM pairs p CROSS JOIN th
    GROUP BY th.t2
    """,
)
def sim_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold calibration sweep: how many vector pairs clear
    cosine 0.20/0.25/0.30/0.35/0.40 — the curve you read BEFORE
    choosing dedup_near_embedding's cutoff, because the right
    threshold is where the pair count stops falling (the noise
    plateau), not a number from a paper.  Every comparison is EXACT:
    coordinates quantize to the 1e-6 grid, and cos > t is tested as
    the integer cross-product 1e4·dot² > t²_e4·‖a‖²·‖b‖² (wide
    HUGEINT/decimal38 arithmetic) so no float cosine ever sits on the
    boundary — the same no-coin-flip discipline emb_kmeans_pp_init
    uses.  Bounded-subset all-pairs by declared role (the audit
    table); production candidate generation stays banded-LSH.

    Scale (100 TB): at the full corpus this sweep runs on LSH-bucket
    candidates instead of all pairs — the thresholds then calibrate
    band/row counts directly."""
    # r12 (guide §2.3/§2.4): the exact-integer dot used to POSEXPLODE both
    # sides and equi-join on the dimension index — a 64·C(n,2)-row shuffle
    # plus a pair groupBy just to sum 64 products.  Integer arithmetic is
    # order-exact, so the same sums come from an in-row array fold over a
    # broadcast pair join: quantize each vector ONCE, fold zip_with
    # products per pair — outputs verified identical, 1.9-2.1 s ->
    # 1.4-1.5 s at sf0.1, and the element-level shuffle is gone.  The
    # streamed pair side is spread (P1: single-split scan under a
    # broadcast join); each product and the 64-term sum stay far inside
    # long range at the 1e-6 grid.
    emb = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") % 5 == 0)
    ivec = F.transform(F.col("embedding"), lambda x: fp_scaled_long(x, 1_000_000))
    v = emb.select("vec_id", ivec.alias("iv"))
    nsq = v.select(
        "vec_id",
        F.aggregate(
            F.col("iv"),
            F.lit(0).cast("decimal(38,0)"),
            lambda acc, x: acc + x.cast("decimal(38,0)") * x,
        ).alias("n2"),
    )
    a = v.select(F.col("vec_id").alias("a_id"), F.col("iv").alias("iva"))
    b = v.select(F.col("vec_id").alias("b_id"), F.col("iv").alias("ivb"))
    dots = (
        a.repartition(spark.sparkContext.defaultParallelism, "a_id")
        .join(F.broadcast(b), F.col("a_id") < F.col("b_id"))
        .select(
            "a_id",
            "b_id",
            F.aggregate(
                F.zip_with(F.col("iva"), F.col("ivb"), lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, p: acc + p,
            ).alias("dot"),
        )
    )
    pairs = (
        dots.join(
            F.broadcast(nsq.select(F.col("vec_id").alias("a_id"), F.col("n2").alias("na2"))),
            "a_id",
        )
        .join(
            F.broadcast(nsq.select(F.col("vec_id").alias("b_id"), F.col("n2").alias("nb2"))),
            "b_id",
        )
    )
    th = spark.range(0).sql_ctx.sparkSession.createDataFrame(
        [(400,), (625,), (900,), (1225,), (1600,)], "t2 int"
    )
    above = (F.col("dot") > 0) & (
        F.lit(10000) * F.col("dot").cast("decimal(38,0)") * F.col("dot")
        > F.col("t2") * F.col("na2") * F.col("nb2")
    )
    return (
        pairs.crossJoin(F.broadcast(th))
        .groupBy(F.col("t2").alias("threshold_sq_e4"))
        .agg(
            F.sum(F.when(above, 1).otherwise(0)).cast("long").alias("n_pairs_above"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.round(
                F.sum(F.when(above, 1).otherwise(0)) * F.lit(1.0) / F.count(F.lit(1)),
                6,
            ).alias("share"),
        )
    )


@register(
    "sim_srp_bucket_histogram",
    oracle="""
    WITH e AS (
      SELECT vec_id, r.i AS i,
             CAST(ROUND(CAST(embedding[CAST(r.i AS BIGINT) + 1] AS DOUBLE)
                        * 1000000) AS BIGINT) AS iv
      FROM embeddings CROSS JOIN range(64) r(i)
      -- a NULL vector has no dimension rows: excluded, exactly as the
      -- Spark side's posexplode(NULL) emits nothing for it
      WHERE embedding IS NOT NULL
    ),
    planes AS (
      SELECT j.j, i.i,
             CAST(('0x' || substr(md5('p' || CAST(j.j AS VARCHAR) || ':'
                                       || CAST(i.i AS VARCHAR)), 1, 8))
                  AS BIGINT) % 2001 - 1000 AS w
      FROM range(8) j(j) CROSS JOIN range(64) i(i)
    ),
    bits AS (
      SELECT e.vec_id, p.j,
             CASE WHEN SUM(p.w * e.iv) > 0 THEN 1 ELSE 0 END AS bit
      FROM e JOIN planes p ON p.i = e.i
      GROUP BY e.vec_id, p.j
    ),
    buckets AS (
      SELECT vec_id,
             CAST(SUM(bit * power(2, j)) AS BIGINT) AS bucket
      FROM bits GROUP BY vec_id
    ),
    hist AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS load FROM buckets
      GROUP BY bucket
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST(MAX(load) AS BIGINT) AS max_load,
           round(AVG(load), 6) AS avg_load,
           round(SUM((load - v.nv / 256.0)
                     * (load - v.nv / 256.0)
                     / (v.nv / 256.0))
                 + (256 - COUNT(*)) * (v.nv / 256.0), 6)
             AS chi2_uniform
    FROM hist CROSS JOIN
         (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM buckets) v
    GROUP BY v.nv
    """,
)
def sim_srp_bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH bucket-balance audit with a fully SQL-portable SRP family:
    hyperplane weights are md5-derived integers in [-1000, 1000]
    (both engines mint identical planes — unlike sim_ann_lsh's
    numpy-seeded planes, which force rows-only verification), sign
    sums are exact BIGINTs, and the 8-bit bucket histogram rolls up
    to occupancy, max load, and a chi-square against the uniform
    256-bucket ideal (empty buckets contribute their expected count).
    Skewed buckets are the failure mode that silently turns an LSH
    join into a few giant tasks — this is the diagnostic to run
    before shipping a banding config.

    Scale (100 TB): one dim-axis equi-join against a 512-row
    broadcast plane table, two bounded combines, a 256-key
    histogram — linear, no pair work anywhere."""
    emb = load(spark, sf_dir, "embeddings")
    iv = fp_scaled_long(F.col("valf"), 1_000_000)
    e = emb.select(
        "vec_id", F.posexplode("embedding").alias("i", "valf")
    ).select("vec_id", "i", iv.alias("iv"))
    js = spark.range(8).select(F.col("id").cast("int").alias("j"))
    is_ = spark.range(64).select(F.col("id").cast("int").alias("pi"))
    planes = js.crossJoin(is_).select(
        "j",
        "pi",
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("p"),
                            F.col("j").cast("string"),
                            F.lit(":"),
                            F.col("pi").cast("string"),
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2001
            - 1000
        ).alias("w"),
    )
    bits = (
        e.join(F.broadcast(planes), F.col("i") == F.col("pi"))
        .groupBy("vec_id", "j")
        .agg(
            F.when(F.sum(F.col("w") * F.col("iv")) > 0, 1)
            .otherwise(0)
            .alias("bit")
        )
    )
    buckets = bits.groupBy("vec_id").agg(
        F.sum(F.col("bit") * F.pow(F.lit(2.0), F.col("j")))
        .cast("long")
        .alias("bucket")
    )
    hist = buckets.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("load")
    )
    nvec = buckets.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    exp = F.col("nv") / F.lit(256.0)
    return (
        hist.crossJoin(F.broadcast(nvec))
        .groupBy("nv")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets_used"),
            F.max("load").cast("long").alias("max_load"),
            F.round(F.avg("load"), 6).alias("avg_load"),
            F.round(
                F.sum((F.col("load") - exp) * (F.col("load") - exp) / exp)
                + (256 - F.count(F.lit(1))) * exp,
                6,
            ).alias("chi2_uniform"),
        )
        .select("n_buckets_used", "max_load", "avg_load", "chi2_uniform")
    )



@register(
    "emb_class_separability",
    oracle="""
    WITH elems AS (
      SELECT e.label, r.i AS dim_i,
             CAST(e.embedding[CAST(r.i AS BIGINT) + 1] AS DOUBLE) AS v
      FROM embeddings e CROSS JOIN range(64) r(i)
      -- scatter needs labeled, observed vectors: NULL embeddings have no
      -- dimension rows in Spark (posexplode) and an unlabeled vector
      -- belongs to no class
      WHERE e.embedding IS NOT NULL AND e.label IS NOT NULL
    ),
    per_ld AS (
      SELECT label, dim_i, CAST(COUNT(*) AS BIGINT) AS n_l,
             SUM(v) AS s, SUM(v * v) AS ss
      FROM elems GROUP BY label, dim_i
    ),
    per_d AS (
      SELECT dim_i, CAST(SUM(n_l) AS BIGINT) AS n, SUM(s) AS st,
             SUM(s * s / n_l) AS sq_over_n, SUM(ss) AS ssd,
             CAST(COUNT(*) AS BIGINT) AS n_labels
      FROM per_ld GROUP BY dim_i
    )
    SELECT CAST(MAX(n) AS BIGINT) AS n_vectors,
           CAST(MAX(n_labels) AS BIGINT) AS n_labels,
           round(SUM(sq_over_n - st * st / n), 6) AS between_ss,
           round(SUM(ssd - sq_over_n), 6) AS within_ss,
           round(SUM(sq_over_n - st * st / n)
                 / NULLIF(SUM(ssd - sq_over_n), 0), 6) AS separability_ratio
    FROM per_d
    """,
)
def emb_class_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class separability of the embedding space: between-class vs
    within-class scatter (summed over dimensions, Fisher/LDA style) —
    the one-number answer to 'do these embeddings actually know about
    the labels', worth checking before training a probe or trusting
    emb_nearest_centroid_assign (ratio near 0 = labels are noise to
    this encoder).  Everything reduces to per-(label, dim) first and
    second moments; the scatter decomposition
    SS_total = SS_within + SS_between falls out of Σs²/n terms, no
    pairwise distances anywhere.

    Scale (100 TB): posexplode → |labels|×64 moment rows (map-side
    combined) → 64-row dim rollup → 1-row total.  Nothing scales
    with vector count after the first combine."""
    emb = load(spark, sf_dir, "embeddings").where(
        F.col("embedding").isNotNull() & F.col("label").isNotNull()
    )
    elems = emb.select(
        "label", F.posexplode("embedding").alias("dim_i", "valf")
    ).select("label", "dim_i", F.col("valf").cast("double").alias("v"))
    per_ld = elems.groupBy("label", "dim_i").agg(
        F.count(F.lit(1)).cast("long").alias("n_l"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"),
    )
    per_d = per_ld.groupBy("dim_i").agg(
        F.sum("n_l").cast("long").alias("n"),
        F.sum("s").alias("st"),
        F.sum(F.col("s") * F.col("s") / F.col("n_l")).alias("sq_over_n"),
        F.sum("ss").alias("ssd"),
        F.count(F.lit(1)).cast("long").alias("n_labels"),
    )
    between = F.sum(
        F.col("sq_over_n") - F.col("st") * F.col("st") / F.col("n")
    )
    within = F.sum(F.col("ssd") - F.col("sq_over_n"))
    return per_d.agg(
        F.max("n").cast("long").alias("n_vectors"),
        F.max("n_labels").cast("long").alias("n_labels"),
        F.round(between, 6).alias("between_ss"),
        F.round(within, 6).alias("within_ss"),
        # NULLIF guard (degenerate sweep): one vector per (label, dim)
        # zeroes the within-class SS — ANSI Spark throws, DuckDB infs;
        # both sides now agree on a NULL ratio.
        F.round(
            between / F.nullif(within, F.lit(0.0)), 6
        ).alias("separability_ratio"),
    )
