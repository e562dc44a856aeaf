"""Operator registry — the single source of truth for the engine's surface.

Every operator from SURVEY.md §2 registers itself here as
``(name, query_fn, oracle_sql_or_None)``.  ``__spark_entry__.py`` exports
this registry verbatim to the driver:

- ``query_fn(spark, sf_dir) -> DataFrame`` — the Spark-first implementation.
- ``oracle_sql`` — equivalent ANSI SQL for the DuckDB oracle, or ``None``
  for ops whose results are approximate / side-effecting (driver then runs
  a weaker rows-only check; SURVEY.md §2 totals).

Design note (100 TB): the registry holds *builders*, not results — every
query is a lazy DataFrame plan, so the driver (or a cluster job) controls
execution, caching, and output handling.

Documented exception (r03 VERDICT item 7): three op classes necessarily
run Spark actions at CONSTRUCTION time, because the returned plan cannot
exist without them — measured 1-9 s each at sf0.001:

1. **Iterative fixed-point algorithms** (graph_pagerank, graph_bfs_hops,
   graph_connected_components, graph_k_core_peel, ts_markov_steady_state,
   sim_ann_ivf, dedup_clusters, dedup_apply, quality_train_score,
   emb_kmeans_pp_init): the driver-side loop (pagerank power iteration,
   BFS frontier, k-means/IVF training, MLlib fit) must converge before
   the final plan's literals/centroids are known.  The loops are bounded
   (fixed iteration counts or provably shrinking frontiers) and every
   per-iteration action touches reduced data (vertex lists, centroid
   tables), never the full fact table.
2. **Sink roundtrips** (sink_*/scan_dpp & co.): the op's *semantics* are
   write-then-read-back — the write is the thing being tested.
3. **Streaming ops** (stream_*): each runs an availableNow micro-batch to
   a memory/file sink so the returned DataFrame reads a completed result.

Everything else returns in <1 s without touching data.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class Op:
    name: str
    fn: QueryFn
    oracle: Optional[str]


REGISTRY: dict[str, Op] = {}


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Decorator: register ``fn`` as operator ``name`` with optional oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate operator id: {name}")
        REGISTRY[name] = Op(name, fn, oracle)
        return fn

    return deco


def queries() -> dict[str, QueryFn]:
    """Every registered op's builder, in registration order."""
    return {name: op.fn for name, op in REGISTRY.items()}


def oracle_sql() -> dict[str, str]:
    """Oracle SQL of every hash-checked op, in registration order."""
    return {name: op.oracle for name, op in REGISTRY.items() if op.oracle is not None}
