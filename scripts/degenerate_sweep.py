#!/usr/bin/env python
"""Degenerate-fixture parity sweep (r6): the latent-bug hunter for the
class the r5 advisor caught twice (ts_sharpe_sortino_daily with no
downside days, ts_ar1_forecast_backtest on a constant series).

Full-SF parity proves Spark == DuckDB only on branches the fixture
POPULATES.  This sweep re-runs every hash-oracled op on a purpose-built
degenerate dataset where the unpopulated branches fire:

- orders: one day, one constant price (zero variance, single-point axes,
  n-1 = 0 for anything daily);
- lineitem: one shipdate, constant quantity/price/discount, one flag;
- events: one user, one event_type (no purchases/signups -> empty
  subpopulations), constant value, one day;
- documents: two IDENTICAL tiny docs (full-duplicate corpus, one token
  type, zero diversity);
- embeddings: a ZERO vector + constant vectors (zero norms, zero
  variance);
- dimensions collapsed to single groups (one region, one brand...).

An op that crashes, or whose engines disagree, here has a latent
divergence a real corpus WILL eventually hit (empty segment, flat
series, all-dup shard).  Cross-engine rule under test: Spark non-ANSI
x/0 = NULL vs DuckDB IEEE inf/nan, log(0), empty-aggregate NULLs, etc.

Usage: python scripts/degenerate_sweep.py [--empty|--single|--nulls|
       --extreme|--boundary|--shuffled|--skew|--hostile|--nonfinite]
       [--only op1,op2]
Writes the chosen regime's fixture (default: the flat one) under /tmp
and prints PASS/DIVERGE/ERROR per op plus a summary; exits 0 always (it
is a survey, not a gate).
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import pyarrow as pa
import pyarrow.parquet as pq


def _write(fix_dir: str, table: str, cols: dict | pa.Table) -> None:
    """Publish `cols` (column name -> values: a dict or a pyarrow Table)
    as fix_dir/table.parquet with the table's production schema, read
    from its footer under _SRC_SF, so every regime matches the real
    tables."""
    schema = pq.read_schema(f"{_SRC_SF}/{table}.parquet").remove_metadata()
    os.makedirs(fix_dir, exist_ok=True)
    # Atomic publish: concurrent sessions (pytest + an interactive
    # sweep) share /tmp; a reader must never see a half-written file.
    tmp = f"{fix_dir}/.{table}.parquet.tmp.{os.getpid()}"
    pq.write_table(pa.Table.from_pydict(cols, schema=schema), tmp)
    os.replace(tmp, f"{fix_dir}/{table}.parquet")


FIX = "/tmp/carpet_degenerate_fixture"


def build_fixture() -> str:
    D = dt.datetime(1996, 6, 15)          # inside every TPC-H date cut
    E = dt.datetime(2024, 1, 5, 12, 0, 0)  # inside the events month

    _write(FIX, "region", {"r_regionkey": [0], "r_name": ["AMERICA"]})
    _write(FIX, "nation",
           {"n_nationkey": [0, 1], "n_name": ["BRAZIL", "CANADA"],
            "n_regionkey": [0, 0]})
    _write(FIX, "customer",
           {"c_custkey": [1, 2, 3], "c_name": ["Customer#1"] * 3,
            "c_nationkey": [0, 0, 0], "c_acctbal": [100.0] * 3,
            "c_mktsegment": ["BUILDING"] * 3})
    _write(FIX, "supplier",
           {"s_suppkey": [1, 2], "s_name": ["Supplier#1", "Supplier#2"],
            "s_nationkey": [0, 1], "s_acctbal": [50.0, 50.0]})
    _write(FIX, "part",
           {"p_partkey": [1, 2, 3], "p_name": ["green part"] * 3,
            "p_brand": ["Brand#11"] * 3, "p_type": ["ECONOMY BRASS"] * 3,
            "p_size": [10, 10, 10], "p_retailprice": [900.0] * 3})
    n_orders = 6
    _write(FIX, "orders",
           {"o_orderkey": list(range(1, n_orders + 1)),
            "o_custkey": [1, 1, 2, 2, 3, 3],
            "o_orderstatus": ["F"] * n_orders,
            "o_totalprice": [1000.0] * n_orders,       # CONSTANT series
            "o_orderdate": [D] * n_orders,             # ONE day
            "o_orderpriority": ["3-MEDIUM"] * n_orders})
    n_li = 6
    _write(FIX, "lineitem",
           {"l_orderkey": [1, 1, 2, 3, 4, 5],
            "l_partkey": [1, 2, 1, 2, 3, 3],
            "l_suppkey": [1, 2, 1, 2, 1, 2],
            "l_linenumber": [1, 2, 1, 1, 1, 1],
            "l_quantity": [5.0] * n_li,                 # constant
            "l_extendedprice": [500.0] * n_li,
            "l_discount": [0.0] * n_li,                 # zero discount
            "l_tax": [0.0] * n_li,
            "l_returnflag": ["N"] * n_li,               # one flag
            "l_linestatus": ["O"] * n_li,
            "l_shipdate": [D] * n_li})                 # ONE day
    n_ev = 3
    _write(FIX, "events",
           {"event_id": [1, 2, 3],
            "ts": [E, E + dt.timedelta(minutes=1), E + dt.timedelta(minutes=2)],
            "user_id": [7, 7, 7],                       # ONE user
            "event_type": ["click"] * n_ev,             # no purchase/signup/view
            "value": [10.0] * n_ev,                     # constant
            "props": ['{"k": 1}'] * n_ev})
    text = "alpha alpha alpha"
    _write(FIX, "documents",
           {"doc_id": [1, 2], "text": [text, text],     # identical docs
            "lang": ["en", "en"], "source": ["src0", "src0"],
            "n_chars": [len(text)] * 2})
    dim = 64
    _write(FIX, "embeddings",
           {"vec_id": [1, 2], "embedding": [[0.0] * dim, [0.5] * dim],  # zero norm
            "label": [0, 0]})
    return FIX


EMPTY_FIX = "/tmp/carpet_empty_fixture"
_SRC_SF = "/root/testdata/sf0.001"  # schema donor for the 0-row tables
_TABLES = ("region nation customer supplier part orders lineitem "
           "events documents embeddings").split()


def build_empty_fixture() -> str:
    """0-row copies of every table, exact production schemas (read from the
    sf0.001 parquet footers).  The regime beyond degenerate: at 100 TB an
    empty date-slice / partition / tenant is routine, and driver-side
    `first()[0]` / `collect()[0]` / numpy-on-empty patterns crash on it."""
    for t in _TABLES:
        _write(EMPTY_FIX, t, pq.read_schema(f"{_SRC_SF}/{t}.parquet").empty_table())
    return EMPTY_FIX


SINGLE_FIX = "/tmp/carpet_single_fixture"


def build_single_fixture() -> str:
    """ONE row per table, referentially consistent.  The regime between
    degenerate (flat-but-populated) and empty: n=1 zeroes every n-1
    sample-variance denominator, makes every LAG/LEAD NULL, collapses
    every window partition to a single row, and gives OLS/correlation
    exactly one point — branches the 6-row flat fixture never reaches."""
    D = dt.datetime(1996, 6, 15)
    E = dt.datetime(2024, 1, 5, 12, 0, 0)

    _write(SINGLE_FIX, "region", {"r_regionkey": [0], "r_name": ["AMERICA"]})
    _write(SINGLE_FIX, "nation",
           {"n_nationkey": [0], "n_name": ["BRAZIL"], "n_regionkey": [0]})
    _write(SINGLE_FIX, "customer",
           {"c_custkey": [1], "c_name": ["Customer#1"], "c_nationkey": [0],
            "c_acctbal": [100.0], "c_mktsegment": ["BUILDING"]})
    _write(SINGLE_FIX, "supplier",
           {"s_suppkey": [1], "s_name": ["Supplier#1"], "s_nationkey": [0],
            "s_acctbal": [50.0]})
    _write(SINGLE_FIX, "part",
           {"p_partkey": [1], "p_name": ["green part"],
            "p_brand": ["Brand#11"], "p_type": ["ECONOMY BRASS"],
            "p_size": [10], "p_retailprice": [900.0]})
    _write(SINGLE_FIX, "orders",
           {"o_orderkey": [1], "o_custkey": [1], "o_orderstatus": ["F"],
            "o_totalprice": [1000.0], "o_orderdate": [D],
            "o_orderpriority": ["3-MEDIUM"]})
    _write(SINGLE_FIX, "lineitem",
           {"l_orderkey": [1], "l_partkey": [1], "l_suppkey": [1],
            "l_linenumber": [1], "l_quantity": [5.0],
            "l_extendedprice": [500.0], "l_discount": [0.0], "l_tax": [0.0],
            "l_returnflag": ["N"], "l_linestatus": ["O"], "l_shipdate": [D]})
    _write(SINGLE_FIX, "events",
           {"event_id": [1], "ts": [E], "user_id": [7],
            "event_type": ["click"], "value": [10.0],
            "props": ['{"k": 1}']})
    text = "alpha beta gamma"
    _write(SINGLE_FIX, "documents",
           {"doc_id": [1], "text": [text], "lang": ["en"],
            "source": ["src0"], "n_chars": [len(text)]})
    _write(SINGLE_FIX, "embeddings",
           {"vec_id": [1], "embedding": [[0.5] * 64], "label": [0]})
    return SINGLE_FIX


NULLS_FIX = "/tmp/carpet_nulls_fixture"


def build_nulls_fixture() -> str:
    """Populated tables with NULLs salted into every non-key metric/text
    column (keys, dates, and timestamps stay non-NULL so joins and time
    axes hold).  The production fixture has NO NULLs anywhere, so every
    op's NULL path is untested by full-SF parity — yet at 100 TB a NULL
    metric is routine.  Cross-engine rules under test: NULL-propagating
    arithmetic (agree), aggregate NULL-skipping (agree), Spark concat vs
    DuckDB concat (DuckDB skips NULLs, Spark propagates), greatest/least,
    and ASC NULL ordering (Spark NULLS FIRST vs DuckDB NULLS LAST) in
    window/topk ops."""
    D = dt.datetime(1996, 6, 15)
    E = dt.datetime(2024, 1, 5, 12, 0, 0)

    _write(NULLS_FIX, "region", {"r_regionkey": [0, 1], "r_name": ["AMERICA", "ASIA"]})
    _write(NULLS_FIX, "nation",
           {"n_nationkey": [0, 1], "n_name": ["BRAZIL", "CHINA"],
            "n_regionkey": [0, 1]})
    _write(NULLS_FIX, "customer",
           {"c_custkey": [1, 2, 3, 4],
            "c_name": ["Customer#1", None, "Customer#3", "Customer#4"],
            "c_nationkey": [0, 0, 1, 1],
            "c_acctbal": [100.0, None, 250.0, None],
            "c_mktsegment": ["BUILDING", "BUILDING", None, "MACHINERY"]})
    _write(NULLS_FIX, "supplier",
           {"s_suppkey": [1, 2], "s_name": ["Supplier#1", "Supplier#2"],
            "s_nationkey": [0, 1], "s_acctbal": [50.0, None]})
    _write(NULLS_FIX, "part",
           {"p_partkey": [1, 2, 3],
            "p_name": ["green part", None, "red part"],
            "p_brand": ["Brand#11", "Brand#12", "Brand#11"],
            "p_type": ["ECONOMY BRASS", "PROMO STEEL", None],
            "p_size": [10, None, 20],
            "p_retailprice": [900.0, 800.0, None]})
    n_o = 8
    _write(NULLS_FIX, "orders",
           {"o_orderkey": list(range(1, n_o + 1)),
            "o_custkey": [1, 1, 2, 2, 3, 3, 4, 4],
            "o_orderstatus": ["F", "O", "F", "O", "F", "O", "F", "O"],
            "o_totalprice": [1000.0, None, 1200.0, 800.0,
                             None, 1500.0, 900.0, 1100.0],
            "o_orderdate": [D + dt.timedelta(days=k) for k in range(n_o)],
            "o_orderpriority": ["3-MEDIUM", "1-URGENT", None, "3-MEDIUM",
                                "2-HIGH", None, "1-URGENT", "3-MEDIUM"]})
    n_li = 10
    _write(NULLS_FIX, "lineitem",
           {"l_orderkey": [1, 1, 2, 3, 4, 5, 6, 7, 8, 8],
            "l_partkey": [1, 2, 1, 2, 3, 3, 1, 2, 3, 1],
            "l_suppkey": [1, 2, 1, 2, 1, 2, 1, 2, 1, 2],
            "l_linenumber": [1, 2, 1, 1, 1, 1, 1, 1, 1, 2],
            "l_quantity": [5.0, None, 3.0, 7.0, None, 2.0, 4.0, 6.0, 1.0, 8.0],
            "l_extendedprice": [500.0, 300.0, None, 700.0, 200.0,
                                None, 400.0, 600.0, 100.0, 800.0],
            "l_discount": [0.05, 0.0, 0.1, None, 0.02, 0.0, 0.07, None, 0.0, 0.04],
            "l_tax": [0.02, None, 0.0, 0.03, 0.0, 0.01, None, 0.02, 0.0, 0.05],
            "l_returnflag": ["N", "N", "A", None, "R", "N", "A", "R", "N", None],
            "l_linestatus": ["O", "F", "O", "F", "O", "F", "O", "F", "O", "F"],
            "l_shipdate": [D + dt.timedelta(days=k) for k in range(n_li)]})
    # Multi-DAY event axis with NULL-closing days (r6 ADVICE): days 1 and
    # 2 END on a NULL value (the arg_max-skips-NULLs vs max_by-unmasked-key
    # divergence only fires when a day's LAST tick is NULL), day 3 closes
    # non-NULL, and day 4 is ALL-NULL (arg_max/max_by must both yield NULL).
    n_ev = 10
    EVT = [E, E + dt.timedelta(minutes=17), E + dt.timedelta(minutes=34),
           E + dt.timedelta(days=1), E + dt.timedelta(days=1, hours=1),
           E + dt.timedelta(days=1, hours=2),
           E + dt.timedelta(days=2), E + dt.timedelta(days=2, hours=1),
           E + dt.timedelta(days=3), E + dt.timedelta(days=3, hours=1)]
    _write(NULLS_FIX, "events",
           {"event_id": list(range(1, n_ev + 1)),
            "ts": EVT,
            "user_id": [7, 7, 8, 8, 9, 9, 7, 8, 9, 7],
            # index 5 is a PURCHASE with a NULL value: day 2 then holds a
            # purchase whose values MIX non-NULL (50.0) and NULL inside
            # one (type, day) group — the divisor trap COUNT(*) vs
            # COUNT(value) that AVG-skipping oracles catch (found live in
            # ts_twap_daily's split-sum rewrite, r9); day 2 still ENDS on
            # a NULL tick, preserving the arg_max contract below
            "event_type": ["click", "view", None, "click",
                           "purchase", "purchase", "view", "click", "view", None],
            "value": [10.0, 30.0, None,          # day 1: last tick NULL
                      None, 50.0, None,          # day 2: last tick NULL
                      None, 40.0,                # day 3: closes non-NULL
                      None, None],               # day 4: all NULL
            "props": ['{"k": 1}', None, '{"k": 3}', '{"k": 4}',
                      None, '{"k": 6}', '{"k": 7}', None, '{"k": 9}', None]})
    t1, t3 = "alpha beta gamma", "delta epsilon"
    # doc 4 has text but a NULL n_chars: the lang='en' group then MIXES
    # NULL and non-NULL n_chars, exposing COUNT(*)-vs-COUNT(col) divisor
    # bugs in per-lang score/length aggregates (same trap as events)
    _write(NULLS_FIX, "documents",
           {"doc_id": [1, 2, 3, 4],
            "text": [t1, None, t3, t1],
            "lang": ["en", "de", None, "en"],
            "source": ["src0", "src1", "src0", "src1"],
            "n_chars": [len(t1), None, len(t3), None]})
    dim = 64
    _write(NULLS_FIX, "embeddings",
           {"vec_id": [0, 1, 2, 3],
            "embedding": [[0.5] * dim, None, [0.25] * dim,
                          [v / 100.0 for v in range(dim)]],
            "label": [0, 1, None, 0]})
    return NULLS_FIX


EXTREME_FIX = "/tmp/carpet_extreme_fixture"


def build_extreme_fixture() -> str:
    """Extreme-magnitude + exotic-text regime: the 100 TB numerics test.

    Money columns carry ~1e10-dollar values (cents ~1e12): any op that
    squares or cross-multiplies cent-scaled BIGINTs WITHOUT a decimal(38)
    / HUGEINT lift overflows int64 ((1e12)^2 = 1e24 >> 9.2e18) — ANSI
    Spark throws ARITHMETIC_OVERFLOW while DuckDB silently auto-widens to
    HUGEINT, so an unguarded moment is either a job-killer or a silent
    cross-engine divergence.  At 100 TB even modest per-row values reach
    these magnitudes in aggregates, so this is the 'would the numerics
    survive scale' gate.  All values are exact binary fractions (.0 /
    .25 / .5) so cents conversion and double arithmetic stay bit-exact —
    any divergence is an overflow or widening bug, never float noise.
    One negative money value exercises every signum/ROUND-of-negative
    path.

    documents carries the exotic-text battery: a 4-byte emoji + ZWJ
    sequence, CJK, a combining-accent cluster, an RTL word, and a ~40 kB
    document — the length()/substr()/regex semantics probe (code points
    vs graphemes vs bytes) plus a token-pipeline stressor."""
    D = dt.datetime(1996, 6, 15)
    E = dt.datetime(2024, 1, 5, 12, 0, 0)

    _write(EXTREME_FIX, "region",
           {"r_regionkey": [0, 1], "r_name": ["AMERICA", "ASIA"]})
    _write(EXTREME_FIX, "nation",
           {"n_nationkey": [0, 1], "n_name": ["BRAZIL", "CHINA"],
            "n_regionkey": [0, 1]})
    _write(EXTREME_FIX, "customer",
           {"c_custkey": [1, 2, 3, 4],
            "c_name": ["Customer#1", "Customer#2", "Customer#3", "Customer#4"],
            "c_nationkey": [0, 0, 1, 1],
            "c_acctbal": [1.0e10, -2.5e9, 5.0e9, 0.25],
            "c_mktsegment": ["BUILDING", "BUILDING", "MACHINERY", "MACHINERY"]})
    _write(EXTREME_FIX, "supplier",
           {"s_suppkey": [1, 2], "s_name": ["Supplier#1", "Supplier#2"],
            "s_nationkey": [0, 1], "s_acctbal": [7.5e9, -1.25e9]})
    _write(EXTREME_FIX, "part",
           {"p_partkey": [1, 2, 3],
            "p_name": ["green part", "red part", "blue part"],
            "p_brand": ["Brand#11", "Brand#12", "Brand#11"],
            "p_type": ["ECONOMY BRASS", "PROMO STEEL", "STANDARD TIN"],
            "p_size": [10, 2000000000, 20],
            "p_retailprice": [9.0e9, 800.0, 0.5]})
    n_o = 8
    _write(EXTREME_FIX, "orders",
           {"o_orderkey": list(range(1, n_o + 1)),
            "o_custkey": [1, 1, 2, 2, 3, 3, 4, 4],
            "o_orderstatus": ["F", "O", "F", "O", "F", "O", "F", "O"],
            "o_totalprice": [1.0e10, 2.5e10, 5.0e9, -7.5e9,
                             1.25e10, 3.0e10, 0.25, 4.5e10],
            "o_orderdate": [D + dt.timedelta(days=k) for k in range(n_o)],
            "o_orderpriority": ["3-MEDIUM", "1-URGENT", "2-HIGH", "3-MEDIUM",
                                "2-HIGH", "1-URGENT", "1-URGENT", "3-MEDIUM"]})
    n_li = 10
    _write(EXTREME_FIX, "lineitem",
           {"l_orderkey": [1, 1, 2, 3, 4, 5, 6, 7, 8, 8],
            "l_partkey": [1, 2, 1, 2, 3, 3, 1, 2, 3, 1],
            "l_suppkey": [1, 2, 1, 2, 1, 2, 1, 2, 1, 2],
            "l_linenumber": [1, 2, 1, 1, 1, 1, 1, 1, 1, 2],
            "l_quantity": [50000.0, 25000.0, 10000.0, 75000.0, 5000.0,
                           60000.0, 40000.0, 30000.0, 1.0, 80000.0],
            "l_extendedprice": [5.0e9, 2.5e9, 7.5e9, 1.0e10, 2.0e9,
                                -3.0e9, 4.0e9, 6.0e9, 0.5, 8.0e9],
            "l_discount": [0.05, 0.0, 0.1, 0.25, 0.02,
                           0.0, 0.07, 0.5, 0.0, 0.04],
            "l_tax": [0.02, 0.0, 0.0, 0.03, 0.0, 0.01, 0.05, 0.02, 0.0, 0.05],
            "l_returnflag": ["N", "N", "A", "R", "R", "N", "A", "R", "N", "A"],
            "l_linestatus": ["O", "F", "O", "F", "O", "F", "O", "F", "O", "F"],
            "l_shipdate": [D + dt.timedelta(days=k) for k in range(n_li)]})
    n_ev = 8
    _write(EXTREME_FIX, "events",
           {"event_id": list(range(1, n_ev + 1)),
            "ts": [E + dt.timedelta(minutes=17 * k) for k in range(n_ev)],
            "user_id": [7, 7, 8, 8, 9, 9, 7, 8],
            "event_type": ["click", "view", "purchase", "click",
                           "purchase", "error", "view", "click"],
            "value": [1.0e9, 2.5e9, 5.0e8, -7.5e8,
                      1.25e9, 3.0e9, 0.25, 4.5e9],
            "props": ['{"k": 9007199254740993}', '{"k": 2}', '{"k": 3}',
                      '{"k": -9007199254740993}', '{"k": 5}', '{"k": 6}',
                      '{"k": 7}', '{"k": 8}']})
    t_emoji = ("family \U0001F468‍\U0001F469‍\U0001F467 emoji "
               "\U0001F600 test")  # ZWJ family sequence + 4-byte emoji
    t_cjk = "数据 处理 引擎 测试 pipeline"
    t_combining = "café naïve résumé word"
    t_rtl = "hello שלום world مرحبا end"
    t_long = ("alpha beta gamma delta epsilon zeta eta theta " * 1000).strip()
    texts = [t_emoji, t_cjk, t_combining, t_rtl, t_long]
    _write(EXTREME_FIX, "documents",
           {"doc_id": [1, 2, 3, 4, 5],
            "text": texts,
            "lang": ["en", "zh", "fr", "he", "en"],
            "source": ["src0", "src1", "src0", "src1", "src0"],
            "n_chars": [len(t) for t in texts]})
    dim = 64
    _write(EXTREME_FIX, "embeddings",
           {"vec_id": [0, 1, 2, 3],
            "embedding": [[1.0e6] * dim, [-5.0e5] * dim,
                          [2.5e5 * ((-1) ** v) for v in range(dim)],
                          [float(v) * 1.0e4 for v in range(dim)]],
            "label": [0, 1, 0, 1]})
    return EXTREME_FIX


SHUFFLED_FIX = "/tmp/carpet_shuffled_fixture"


def build_shuffled_fixture() -> str:
    """Row-order-scrambled copy of the PRODUCTION sf0.001 tables: same
    rows, same values, deterministically shuffled order (seeded per
    table).  At 100 TB row order within a scan is arbitrary — splits,
    compaction, and shuffle all destroy it — so any op whose result
    depends on FILE order (a first()/limit without a total order, a
    collect_list outside an ordered frame, an implicit 'insertion order'
    assumption) is a latent nondeterminism bug this regime exposes:
    its oracle reads the SAME shuffled file, so only order-dependence
    inside the op itself can diverge the hash."""
    import numpy as np

    for i, t in enumerate(_TABLES):
        tbl = pq.read_table(f"{_SRC_SF}/{t}.parquet")
        perm = np.random.default_rng(1000 + i).permutation(tbl.num_rows)
        _write(SHUFFLED_FIX, t, tbl.take(perm))
    return SHUFFLED_FIX


BOUNDARY_FIX = "/tmp/carpet_boundary_fixture"


def build_boundary_fixture() -> str:
    """Exact-boundary regime: every value sits ON an edge some op compares
    against — the `>` vs `>=` transcription-mismatch detector.  A Spark
    expression and its oracle SQL that disagree by one comparison operator
    agree everywhere EXCEPT at equality, and the production fixture's
    continuous values essentially never land exactly on a cut.

    Edges planted: timestamps exactly on hour / 15-minute window
    boundaries and IDENTICAL-timestamp ties (tie-break exercises);
    event gaps of exactly 30 minutes (the session_window gap);
    values exactly 60.0 / 90.0 / 0.0 (alert + conversion thresholds);
    shipdates exactly on the TPC-H cut dates ('1997-01-01',
    '1997-12-31', '1998-09-02') and l_shipdate == o_orderdate (the
    ship-before-order DQ rule's equality case); quantities exactly
    1 / 25 / 48 / 50 (IN-lists and >= cuts); discounts exactly
    0.05 / 0.09 / 0.5 (BETWEEN and band edges); prices exactly on
    100k/200k tier cuts and histogram bucket edges (multiples of
    30000); acctbal exactly 0; identical documents and a text whose
    length sits on prefix cuts; identical embeddings (cos exactly 1)
    and orthogonal ones (cos exactly 0)."""
    E = dt.datetime(2024, 1, 5, 12, 0, 0)

    _write(BOUNDARY_FIX, "region",
           {"r_regionkey": [0, 1], "r_name": ["AMERICA", "ASIA"]})
    _write(BOUNDARY_FIX, "nation",
           {"n_nationkey": [0, 1], "n_name": ["BRAZIL", "CHINA"],
            "n_regionkey": [0, 1]})
    _write(BOUNDARY_FIX, "customer",
           {"c_custkey": [1, 2, 3, 4],
            "c_name": ["Customer#1", "Customer#2", "Customer#3", "Customer#4"],
            "c_nationkey": [0, 0, 1, 1],
            "c_acctbal": [0.0, 100.0, -100.0, 0.0],
            "c_mktsegment": ["BUILDING", "BUILDING", "MACHINERY", "AUTOMOBILE"]})
    _write(BOUNDARY_FIX, "supplier",
           {"s_suppkey": [1, 2], "s_name": ["Supplier#1", "Supplier#2"],
            "s_nationkey": [0, 1], "s_acctbal": [0.0, 50.0]})
    _write(BOUNDARY_FIX, "part",
           {"p_partkey": [1, 2, 3],
            "p_name": ["green part", "red part", "blue part"],
            "p_brand": ["Brand#11", "Brand#12", "Brand#11"],
            "p_type": ["ECONOMY BRASS", "PROMO STEEL", "STANDARD TIN"],
            "p_size": [1, 10, 50],
            "p_retailprice": [900.0, 900.0, 30000.0]})
    # order dates: exactly on the q1/q6-style cut dates + one pair sharing
    # a date (tie) — all within the TPC-H era every op assumes
    OD = [dt.datetime(1997, 1, 1), dt.datetime(1997, 12, 31),
          dt.datetime(1998, 9, 2), dt.datetime(1997, 6, 15),
          dt.datetime(1997, 6, 15), dt.datetime(1998, 1, 1),
          dt.datetime(1997, 3, 31), dt.datetime(1997, 10, 1)]
    _write(BOUNDARY_FIX, "orders",
           {"o_orderkey": list(range(1, 9)),
            "o_custkey": [1, 1, 2, 2, 3, 3, 4, 4],
            "o_orderstatus": ["F", "O", "F", "O", "F", "O", "F", "O"],
            # exactly on the big/mid tier cuts (200000 / 100000), equal
            # pair (rank tie), and a zero
            "o_totalprice": [200000.0, 100000.0, 200000.0, 0.0,
                             150000.0, 150000.0, 100000.0, 250000.0],
            "o_orderdate": OD,
            "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", "1-URGENT",
                                "2-HIGH", "3-MEDIUM", "1-URGENT", "2-HIGH"]})
    # lineitem: shipdates ON the filter cuts and EQUAL to the parent
    # order's date (ship-before-order equality case)
    LSD = [dt.datetime(1997, 1, 1), dt.datetime(1997, 12, 31),
           dt.datetime(1998, 9, 2), dt.datetime(1997, 6, 15),
           dt.datetime(1997, 6, 15), dt.datetime(1998, 1, 1),
           dt.datetime(1997, 3, 31), dt.datetime(1997, 10, 1),
           dt.datetime(1997, 1, 1), dt.datetime(1997, 12, 31)]
    _write(BOUNDARY_FIX, "lineitem",
           {"l_orderkey": [1, 1, 2, 3, 4, 5, 6, 7, 8, 8],
            "l_partkey": [1, 2, 1, 2, 3, 3, 1, 2, 3, 1],
            "l_suppkey": [1, 2, 1, 2, 1, 2, 1, 2, 1, 2],
            "l_linenumber": [1, 2, 1, 1, 1, 1, 1, 1, 1, 2],
            # exactly the isin(1, 25, 50) members and the >= 48 cut
            "l_quantity": [1.0, 25.0, 50.0, 48.0, 2.0, 25.0, 1.0, 50.0,
                           48.0, 24.0],
            # histogram-edge multiples of 30000 and an exact duplicate pair
            "l_extendedprice": [30000.0, 60000.0, 30000.0, 90000.0, 500.0,
                                60000.0, 30000.0, 120000.0, 90000.0, 500.0],
            # exactly on the 0.05 / 0.09 / 0.5 cuts and 0
            "l_discount": [0.05, 0.09, 0.5, 0.0, 0.05, 0.09, 0.0, 0.5,
                           0.05, 0.0],
            "l_tax": [0.0, 0.02, 0.0, 0.05, 0.0, 0.02, 0.0, 0.05, 0.0, 0.0],
            "l_returnflag": ["N", "A", "R", "N", "A", "R", "N", "A", "R", "N"],
            "l_linestatus": ["O", "F", "O", "F", "O", "F", "O", "F", "O", "F"],
            "l_shipdate": LSD})
    # events: exact hour/15-min window boundaries, an identical-ts tie,
    # a gap of exactly 30 minutes (session_window edge), values exactly
    # on the 60.0 alert and 90.0 conversion thresholds and 0
    TS = [E,                                   # 12:00:00 (hour boundary)
          E,                                   # identical ts (tie on id)
          E + dt.timedelta(minutes=15),        # slide boundary
          E + dt.timedelta(minutes=45),        # 30-min gap from :15
          E + dt.timedelta(hours=1),           # 13:00:00 boundary
          E + dt.timedelta(hours=1, minutes=30),
          E + dt.timedelta(hours=2),           # another exact boundary
          E + dt.timedelta(hours=2)]           # tie at 14:00
    _write(BOUNDARY_FIX, "events",
           {"event_id": list(range(1, 9)),
            "ts": TS,
            "user_id": [7, 7, 7, 7, 8, 8, 9, 9],
            "event_type": ["click", "view", "purchase", "click",
                           "purchase", "error", "view", "purchase"],
            "value": [60.0, 90.0, 90.0, 0.0, 60.0, 90.0, 0.0, 91.0],
            "props": [f'{{"k": {k}}}' for k in range(1, 9)]})
    t1 = "alpha beta gamma delta"        # len 22 (crosses the 20-char blk)
    t2 = "alpha beta gamma delta"        # exact duplicate (dedup boundary)
    t3 = "epsilon zeta"                  # distinct
    t4 = "alpha beta gamma delta extra"  # shared 20-char prefix with t1/t2
    _write(BOUNDARY_FIX, "documents",
           {"doc_id": [1, 2, 3, 4],
            "text": [t1, t2, t3, t4],
            "lang": ["en", "en", "de", "en"],
            "source": ["src0", "src0", "src1", "src1"],
            "n_chars": [len(t1), len(t2), len(t3), len(t4)]})
    dim = 64
    v_unit = [1.0] + [0.0] * (dim - 1)
    v_orth = [0.0, 1.0] + [0.0] * (dim - 2)   # cos exactly 0 vs v_unit
    _write(BOUNDARY_FIX, "embeddings",
           {"vec_id": [0, 1, 2, 3],
            # identical pair (cos exactly 1), orthogonal (cos exactly 0)
            "embedding": [v_unit, v_unit, v_orth,
                          [0.5] * dim],
            "label": [0, 0, 1, 1]})
    return BOUNDARY_FIX


HOSTILE_FIX = "/tmp/carpet_hostile_fixture"


def build_hostile_fixture() -> str:
    """Hostile-strings regime (r7, ninth fixture): every string column
    carries the values that break naive serialization and collation —
    embedded commas / double quotes / single quotes / newlines / tabs /
    backslashes, leading+trailing spaces, the empty string, numeric
    look-alikes ("123"), CSV-injection shapes ("=cmd"), non-ASCII
    (umlauts, CJK, emoji), and an RTL word.  Keys and numerics stay clean
    so joins/aggregates still exercise their normal paths; what changes
    is that STRING values flow through group keys, ORDER BY / rank
    tie-breaks, LIKE/regex, concat, JSON/CSV sink roundtrips, and the
    text pipeline.

    Bug classes this gates, none reachable by the other eight regimes:
    CSV quote/escape handling in sink roundtrips (a quote+newline cell
    must survive write→read bit-exactly on BOTH engines), cross-engine
    string ORDERING of non-ASCII (Spark UTF8_BINARY vs DuckDB binary
    collation — should agree; any rank divergence is a real op bug),
    upper()/lower() on non-ASCII, regex/LIKE metacharacter leakage when
    data strings reach pattern positions, and JSON escaping of quotes /
    control chars / astral-plane emoji."""
    D = dt.datetime(1996, 6, 15)
    E = dt.datetime(2024, 1, 5, 12, 0, 0)

    # the hostile battery — reused across columns so every class appears
    HS = [
        'comma, inside',            # CSV delimiter
        'quo"te " twice"',          # CSV quote escaping
        "line\nbreak",              # embedded newline (CSV record split)
        "tab\tchar",                # embedded tab
        "back\\slash",              # escape char
        "O'Brien's",                # single quotes (SQL literal shape)
        "  padded  ",               # leading/trailing spaces
        "",                         # empty string (vs NULL distinction)
        "123",                      # numeric look-alike
        "=SUM(A1:A9)",              # CSV-injection shape
        "späte Größe",              # umlauts (upper/lower divergence bait)
        "数据引擎",                  # CJK
        "emoji 🎉 cell",            # astral-plane (surrogate pair in UTF-16)
        "شمال east",                # RTL + LTR mix
        "percent%under_score",      # LIKE metacharacters as DATA
        "dot.star.*regex",          # regex metacharacters as DATA
    ]

    _write(HOSTILE_FIX, "region", {"r_regionkey": [0, 1],
                      "r_name": ["AMERICA", HS[10]]})
    _write(HOSTILE_FIX, "nation",
           {"n_nationkey": [0, 1, 2],
            "n_name": ["BRAZIL", HS[11], HS[5]],
            "n_regionkey": [0, 1, 1]})
    n_c = 8
    _write(HOSTILE_FIX, "customer",
           {"c_custkey": list(range(1, n_c + 1)),
            "c_name": HS[:n_c],
            "c_nationkey": [k % 3 for k in range(n_c)],
            "c_acctbal": [100.0 + 25.0 * k for k in range(n_c)],
            # two in-domain segments + hostile extras (else-branch fodder)
            "c_mktsegment": ["BUILDING", "MACHINERY", HS[0], HS[2],
                             HS[7], HS[8], HS[12], HS[14]]})
    _write(HOSTILE_FIX, "supplier",
           {"s_suppkey": [1, 2], "s_name": [HS[1], HS[9]],
            "s_nationkey": [0, 1], "s_acctbal": [50.0, 75.0]})
    _write(HOSTILE_FIX, "part",
           {"p_partkey": [1, 2, 3, 4],
            "p_name": [HS[15], HS[4], "green part", HS[13]],
            "p_brand": ["Brand#11", HS[8], "Brand#12", HS[6]],
            "p_type": ["ECONOMY BRASS", HS[3], HS[10], "PROMO STEEL"],
            "p_size": [10, 20, 30, 40],
            "p_retailprice": [900.0, 800.0, 700.0, 600.0]})
    n_o = 10
    _write(HOSTILE_FIX, "orders",
           {"o_orderkey": list(range(1, n_o + 1)),
            "o_custkey": [1 + k % n_c for k in range(n_o)],
            "o_orderstatus": ["F", "O", "P", "F", "O", "F", "O", "P", "F", "O"],
            "o_totalprice": [1000.0 + 250.0 * k for k in range(n_o)],
            "o_orderdate": [D + dt.timedelta(days=11 * k) for k in range(n_o)],
            # three in-domain priorities + hostile extras
            "o_orderpriority": ["1-URGENT", "2-HIGH", "3-MEDIUM", HS[0],
                                HS[2], HS[6], HS[7], HS[11], HS[12], HS[15]]})
    n_li = 12
    _write(HOSTILE_FIX, "lineitem",
           {"l_orderkey": [1, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 10],
            "l_partkey": [1 + k % 4 for k in range(n_li)],
            "l_suppkey": [1 + k % 2 for k in range(n_li)],
            "l_linenumber": [1, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 2],
            "l_quantity": [5.0 + k for k in range(n_li)],
            "l_extendedprice": [500.0 + 125.0 * k for k in range(n_li)],
            "l_discount": [[0.0, 0.05, 0.09][k % 3] for k in range(n_li)],
            "l_tax": [[0.0, 0.02][k % 2] for k in range(n_li)],
            "l_returnflag": [["N", "A", "R"][k % 3] for k in range(n_li)],
            "l_linestatus": [["O", "F"][k % 2] for k in range(n_li)],
            "l_shipdate": [D + dt.timedelta(days=11 * (k % 10) + 3)
                           for k in range(n_li)]})
    # events: in-domain types on half the rows (type-filter ops keep
    # their populations), hostile types + hostile JSON props on the rest
    n_ev = 16
    types = ["click", "view", "purchase", "signup", "error",
             "click", "view", "purchase",
             HS[1], HS[2], HS[6], HS[7], HS[10], HS[12], HS[13], HS[15]]
    props = [
        '{"k": 1}', '{"k": 2}', '{"k": 3}', '{"k": 4}',
        '{"k": 5}', '{"k": 6}', '{"k": 7}', '{"k": 8}',
        '{"k": 9, "s": "quo\\"te"}',
        '{"k": 10, "s": "line\\nbreak"}',
        '{"k": 11, "s": "back\\\\slash"}',
        '{"k": 12, "s": ""}',
        '{"k": 13, "s": "späte"}',
        '{"k": 14, "s": "🎉"}',
        '{"k": 15, "s": "数据"}',
        '{"k": 16, "s": "percent%"}',
    ]
    _write(HOSTILE_FIX, "events",
           {"event_id": list(range(1, n_ev + 1)),
            "ts": [E + dt.timedelta(minutes=13 * k) for k in range(n_ev)],
            "user_id": [7 + k % 4 for k in range(n_ev)],
            "event_type": types,
            "value": [10.0 + 5.0 * k for k in range(n_ev)],
            "props": props})
    # documents: hostile bodies AND hostile group keys (lang, source)
    d_texts = [
        "alpha beta gamma",
        'he said "alpha, beta"\nthen left',
        "tab\tseparated\ttokens here",
        "  leading and trailing  ",
        "",
        "O'Brien's 'quoted' tale",
        "späte Größe STRASSE",
        "数据 处理 引擎",
        "emoji 🎉 in 🎉 body",
        "back\\slash \\n literal",
        "percent%under_score dot.star.*",
        "=SUM(A1:A9) injection body",
    ]
    nd = len(d_texts)
    _write(HOSTILE_FIX, "documents",
           {"doc_id": list(range(1, nd + 1)),
            "text": d_texts,
            "lang": ["en", "en", HS[7], HS[6], "de", HS[0],
                     "de", "zh", HS[12], "en", HS[14], "en"],
            "source": ["src0", HS[1], "src1", HS[2], "src0", HS[9],
                       "src1", HS[11], "src0", HS[4], "src1", HS[5]],
            "n_chars": [len(t) for t in d_texts]})
    dim = 64
    _write(HOSTILE_FIX, "embeddings",
           {"vec_id": list(range(4)),
            "embedding": [[0.25 * ((k + j) % 5 - 2) for j in range(dim)]
                          for k in range(4)],
            "label": [0, 1, 0, 1]})
    return HOSTILE_FIX


SKEW_FIX = "/tmp/carpet_skew_fixture"


def build_skew_fixture() -> str:
    """Skewed-distribution regime (r06 VERDICT item 3): one key holds
    ~50% of the rows in every fact table — the distribution class the
    other fixed-shape regimes never pin, and the one that actually breaks
    jobs at 100 TB (a hot user, a viral SKU, a fanout order).

    Planted hot keys: user 7 owns half the events and one DAY holds half
    the traffic; customer 1 owns half the orders; order 1 carries a
    30-line fanout and part/supplier 1 appear in half the lineitems; one
    document text repeats 10× from one dominant source; embedding label 0
    covers half the vectors including an identical cluster.

    What it gates: (a) the salted/AQE skew-join ops' skew branches run on
    data that IS skewed, not on uniform rows; (b) join fanout paths (a
    30-row multiplier through order 1) keep exact parity; (c) share/topk/
    concentration ops see a dominant-mass distribution (HHI, gini, ABC
    classification hit their concentrated branches).  Both engines read
    the SAME file, so any divergence is op-internal.  All money/value
    columns are exact binary fractions (.0/.25/.5/.75) so divergences are
    logic, never float noise; every dimension value stays inside the
    production domain (event types, priorities, flags, brands)."""
    D0 = dt.datetime(1996, 1, 1)
    E0 = dt.datetime(2024, 1, 1, 0, 0, 0)

    _write(SKEW_FIX, "region", {"r_regionkey": [0, 1], "r_name": ["AMERICA", "ASIA"]})
    _write(SKEW_FIX, "nation",
           {"n_nationkey": [0, 1, 2], "n_name": ["BRAZIL", "CHINA", "CANADA"],
            "n_regionkey": [0, 1, 0]})
    n_cust = 10
    _write(SKEW_FIX, "customer",
           {"c_custkey": list(range(1, n_cust + 1)),
            "c_name": [f"Customer#{k}" for k in range(1, n_cust + 1)],
            "c_nationkey": [k % 3 for k in range(n_cust)],
            "c_acctbal": [100.0 + 25.25 * k for k in range(n_cust)],
            "c_mktsegment": [["BUILDING", "MACHINERY", "AUTOMOBILE",
                              "HOUSEHOLD", "FURNITURE"][k % 5]
                             for k in range(n_cust)]})
    n_supp = 4
    _write(SKEW_FIX, "supplier",
           {"s_suppkey": list(range(1, n_supp + 1)),
            "s_name": [f"Supplier#{k}" for k in range(1, n_supp + 1)],
            "s_nationkey": [k % 3 for k in range(n_supp)],
            "s_acctbal": [50.0 + 12.5 * k for k in range(n_supp)]})
    n_part = 6
    _write(SKEW_FIX, "part",
           {"p_partkey": list(range(1, n_part + 1)),
            "p_name": [f"{c} part" for c in
                       ("green", "red", "blue", "ivory", "plum", "tan")],
            "p_brand": [f"Brand#{10 + k % 3}" for k in range(n_part)],
            "p_type": [["ECONOMY BRASS", "PROMO STEEL", "STANDARD TIN"][k % 3]
                       for k in range(n_part)],
            "p_size": [5 * (k + 1) for k in range(n_part)],
            "p_retailprice": [900.0 + 50.25 * k for k in range(n_part)]})
    # orders: 120 rows, customer 1 owns the first 60 (50%); the hot
    # half also concentrates on ONE order date (1997-06-15)
    n_o = 120
    HOT_D = dt.datetime(1997, 6, 15)
    o_cust = [1] * 60 + [2 + k % (n_cust - 1) for k in range(60)]
    o_date = [HOT_D if k < 60 else D0 + dt.timedelta(days=7 * k % 900)
              for k in range(n_o)]
    _write(SKEW_FIX, "orders",
           {"o_orderkey": list(range(1, n_o + 1)),
            "o_custkey": o_cust,
            "o_orderstatus": [["F", "O", "P"][k % 3] for k in range(n_o)],
            "o_totalprice": [1000.0 + 250.25 * (k % 40) for k in range(n_o)],
            "o_orderdate": o_date,
            "o_orderpriority": [["1-URGENT", "2-HIGH", "3-MEDIUM",
                                 "4-NOT SPECIFIED", "5-LOW"][k % 5]
                                for k in range(n_o)]})
    # lineitem: 240 rows — order 1 carries a 30-line fanout; part 1 and
    # supplier 1 each appear in ~50% of lines
    li_ok, li_pk, li_sk, li_ln = [], [], [], []
    per_order_count: dict[int, int] = {}
    for i in range(240):
        ok = 1 if i < 30 else 2 + (i - 30) % (n_o - 1)
        per_order_count[ok] = per_order_count.get(ok, 0) + 1
        li_ok.append(ok)
        li_ln.append(per_order_count[ok])
        li_pk.append(1 if i % 2 == 0 else 2 + i % (n_part - 1))
        li_sk.append(1 if i % 2 == 0 else 2 + i % (n_supp - 1))
    odate_by_key = {k + 1: o_date[k] for k in range(n_o)}
    _write(SKEW_FIX, "lineitem",
           {"l_orderkey": li_ok,
            "l_partkey": li_pk,
            "l_suppkey": li_sk,
            "l_linenumber": li_ln,
            "l_quantity": [1.0 + (i % 50) for i in range(240)],
            "l_extendedprice": [500.0 + 125.25 * (i % 80) for i in range(240)],
            "l_discount": [[0.0, 0.02, 0.05, 0.09][i % 4] for i in range(240)],
            "l_tax": [[0.0, 0.02, 0.05][i % 3] for i in range(240)],
            "l_returnflag": [["N", "A", "R"][i % 3] for i in range(240)],
            "l_linestatus": [["O", "F"][i % 2] for i in range(240)],
            "l_shipdate": [odate_by_key[li_ok[i]] + dt.timedelta(days=i % 60)
                           for i in range(240)]})
    # events: 400 rows — user 7 owns 50%, day 2024-01-05 holds 50%,
    # 'click' takes ~60% of types; all five production types present
    n_ev = 400
    ev_user = [7 if k % 2 == 0 else 8 + k % 12 for k in range(n_ev)]
    ev_type = [("click" if k % 5 < 3 else
                ["view", "purchase", "signup", "error"][k % 4])
               for k in range(n_ev)]
    HOT_E = dt.datetime(2024, 1, 5)
    ev_ts = [HOT_E + dt.timedelta(minutes=7 * (k // 2))
             if k % 2 == 0
             else E0 + dt.timedelta(days=k % 29, minutes=11 * k % 1440)
             for k in range(n_ev)]
    _write(SKEW_FIX, "events",
           {"event_id": list(range(1, n_ev + 1)),
            "ts": ev_ts,
            "user_id": ev_user,
            "event_type": ev_type,
            "value": [0.25 * (1 + k % 400) for k in range(n_ev)],
            "props": [f'{{"k": {k}}}' for k in range(1, n_ev + 1)]})
    # documents: 40 rows — one text repeats 10x (dup cluster), src0
    # supplies 50%, 'en' dominates lang
    base_texts = [
        f"{w} corpus shard {i} with tokens alpha beta gamma"
        for i, w in enumerate(
            ("spark", "duck", "arrow", "delta", "iceberg", "hudi",
             "flink", "trino", "presto", "hive", "pig", "drill",
             "impala", "kudu", "beam", "samza", "storm", "heron",
             "kafka", "pulsar", "nifi", "airflow", "dagster", "prefect",
             "dbt", "великий", "数据", "café", "datum", "tensor")
        )
    ]
    hot_text = "the viral duplicate document body repeated verbatim"
    d_texts = [hot_text] * 10 + base_texts
    nd = len(d_texts)
    _write(SKEW_FIX, "documents",
           {"doc_id": list(range(1, nd + 1)),
            "text": d_texts,
            "lang": [("en" if k % 4 < 3 else ["de", "fr", "es", "zh"][k % 4])
                     for k in range(nd)],
            "source": [("src0" if k % 2 == 0 else f"src{1 + k % 6}")
                       for k in range(nd)],
            "n_chars": [len(t) for t in d_texts]})
    # embeddings: 60 rows — label 0 covers 50% including an identical
    # 12-vector cluster (the ANN hot bucket)
    dim = 64
    hot_vec = [0.5 if j % 2 == 0 else -0.25 for j in range(dim)]
    vecs, labels = [], []
    for k in range(60):
        if k < 12:
            vecs.append(list(hot_vec))
            labels.append(0)
        else:
            vecs.append([0.25 * ((k * 7 + j * 3) % 9 - 4) for j in range(dim)])
            labels.append(0 if k < 30 else 1 + k % 9)
    _write(SKEW_FIX, "embeddings",
           {"vec_id": list(range(60)), "embedding": vecs, "label": labels})
    return SKEW_FIX


NONFINITE_FIX = "/tmp/carpet_nonfinite_fixture"


def build_nonfinite_fixture() -> str:
    """Non-finite regime (r11, tenth fixture): NaN / +Inf / -Inf / -0.0
    salted into the PLAUSIBLY-nonfinite double columns — the generic
    metric (events.value), embeddings, and balance columns — while
    money columns (l_*, o_totalprice) stay finite (the generator
    produces them from prices and never emits non-finite money; a NaN
    unit price is a schema violation upstream ingestion owns).

    What this gates, unreachable by the other nine regimes: at 100 TB a
    NaN metric from one bad upstream division is ROUTINE, and under
    ANSI mode every fixed-point conversion `CAST(ROUND(x*1e6) AS
    BIGINT)` THROWS on it — a whole-job abort from one poisoned row.
    Cross-engine rules under test: NaN/Inf propagation through double
    sums (both engines agree), NaN ordering (both sort NaN above +Inf),
    NaN grouping (both group NaNs together), -0.0 vs 0.0 in group keys
    (both normalize) and in DISPLAYS (repr(-0.0) hash-splits engines
    unless normalized), and the fixed-point/money scaling boundary
    (guarded → non-finite behaves as NULL: skipped by sums, null
    display — the only semantics that degrade gracefully per-row
    instead of aborting per-job)."""
    D = dt.datetime(1996, 6, 15)
    E = dt.datetime(2024, 1, 5, 12, 0, 0)
    NAN, INF = float("nan"), float("inf")

    _write(NONFINITE_FIX, "region",
           {"r_regionkey": [0, 1], "r_name": ["AMERICA", "ASIA"]})
    _write(NONFINITE_FIX, "nation",
           {"n_nationkey": [0, 1], "n_name": ["BRAZIL", "CHINA"],
            "n_regionkey": [0, 1]})
    # -0.0 / 0.0 pair inside one nation: any op grouping or ranking on
    # acctbal must treat them equal (both engines do) and any DISPLAY
    # must not leak the sign bit into the hash
    _write(NONFINITE_FIX, "customer",
           {"c_custkey": [1, 2, 3, 4],
            "c_name": [f"Customer#{k}" for k in range(1, 5)],
            "c_nationkey": [0, 0, 1, 1],
            "c_acctbal": [100.0, -0.0, 250.0, 0.0],
            "c_mktsegment": ["BUILDING", "BUILDING", "MACHINERY", "MACHINERY"]})
    _write(NONFINITE_FIX, "supplier",
           {"s_suppkey": [1, 2], "s_name": ["Supplier#1", "Supplier#2"],
            "s_nationkey": [0, 1], "s_acctbal": [50.0, -0.0]})
    _write(NONFINITE_FIX, "part",
           {"p_partkey": [1, 2, 3], "p_name": ["green part", "red part", "blue part"],
            "p_brand": ["Brand#11", "Brand#12", "Brand#11"],
            "p_type": ["ECONOMY BRASS", "PROMO STEEL", "STANDARD TIN"],
            "p_size": [10, 15, 20], "p_retailprice": [900.0, 800.0, 700.0]})
    n_o = 8
    _write(NONFINITE_FIX, "orders",
           {"o_orderkey": list(range(1, n_o + 1)),
            "o_custkey": [1, 1, 2, 2, 3, 3, 4, 4],
            "o_orderstatus": ["F", "O", "F", "O", "F", "O", "F", "O"],
            "o_totalprice": [1000.0, 1300.0, 1200.0, 800.0,
                             950.0, 1500.0, 900.0, 1100.0],
            "o_orderdate": [D + dt.timedelta(days=k) for k in range(n_o)],
            "o_orderpriority": ["3-MEDIUM", "1-URGENT", "2-HIGH", "3-MEDIUM",
                                "2-HIGH", "1-URGENT", "1-URGENT", "3-MEDIUM"]})
    n_li = 10
    _write(NONFINITE_FIX, "lineitem",
           {"l_orderkey": [1, 1, 2, 3, 4, 5, 6, 7, 8, 8],
            "l_partkey": [1, 2, 1, 2, 3, 3, 1, 2, 3, 1],
            "l_suppkey": [1, 2, 1, 2, 1, 2, 1, 2, 1, 2],
            "l_linenumber": [1, 2, 1, 1, 1, 1, 1, 1, 1, 2],
            "l_quantity": [5.0, 2.0, 3.0, 7.0, 4.0, 2.0, 4.0, 6.0, 1.0, 8.0],
            "l_extendedprice": [500.0, 300.0, 450.0, 700.0, 200.0,
                                350.0, 400.0, 600.0, 100.0, 800.0],
            "l_discount": [0.05, 0.0, 0.1, 0.08, 0.02, 0.0, 0.07, 0.01, 0.0, 0.04],
            "l_tax": [0.02, 0.01, 0.0, 0.03, 0.0, 0.01, 0.04, 0.02, 0.0, 0.05],
            "l_returnflag": ["N", "N", "A", "R", "R", "N", "A", "R", "N", "A"],
            "l_linestatus": ["O", "F", "O", "F", "O", "F", "O", "F", "O", "F"],
            "l_shipdate": [D + dt.timedelta(days=k) for k in range(n_li)]})
    # events.value is THE generic metric: day 1 all-finite (control),
    # day 2 contains one NaN among finite ticks, day 3 carries +Inf and
    # -Inf (their sum is NaN — the worst case for naive day totals),
    # day 4 is -0.0/0.0 only.  Purchases appear on every day so
    # money-shaped per-type paths see each poison.
    n_ev = 12
    EVT = ([E + dt.timedelta(minutes=17 * k) for k in range(3)]
           + [E + dt.timedelta(days=1, minutes=19 * k) for k in range(3)]
           + [E + dt.timedelta(days=2, minutes=23 * k) for k in range(3)]
           + [E + dt.timedelta(days=3, minutes=29 * k) for k in range(3)])
    _write(NONFINITE_FIX, "events",
           {"event_id": list(range(1, n_ev + 1)),
            "ts": EVT,
            "user_id": [7, 8, 9, 7, 8, 9, 7, 8, 9, 7, 8, 9],
            "event_type": ["click", "purchase", "view",
                           "click", "purchase", "view",
                           "purchase", "click", "view",
                           "purchase", "view", "click"],
            "value": [10.0, 30.0, 20.0,          # day 1: finite control
                      5.0, NAN, 15.0,            # day 2: NaN among finite
                      INF, -INF, 25.0,           # day 3: +/-Inf (sum -> NaN)
                      -0.0, 0.0, -0.0],          # day 4: signed zeros
            "props": [f'{{"k": {k}}}' for k in range(1, n_ev + 1)]})
    t = ["alpha beta gamma", "delta epsilon zeta", "alpha beta gamma",
         "eta theta iota kappa"]
    _write(NONFINITE_FIX, "documents",
           {"doc_id": [1, 2, 3, 4], "text": t,
            "lang": ["en", "de", "en", "en"],
            "source": ["src0", "src1", "src0", "src1"],
            "n_chars": [len(x) for x in t]})
    dim = 64
    vecs = [[0.5] * dim,
            [NAN if j == 7 else 0.25 for j in range(dim)],   # NaN element
            [INF if j == 3 else 0.1 for j in range(dim)],    # +Inf element
            [-0.0] * dim,                                    # signed zeros
            [v / 100.0 for v in range(dim)]]
    _write(NONFINITE_FIX, "embeddings",
           {"vec_id": [0, 1, 2, 3, 4], "embedding": vecs,
            "label": [0, 1, 0, 1, 0]})
    return NONFINITE_FIX


# Engine-inherent empty-input divergence, documented rather than papered
# over: ANSI SQL gives GROUP BY ROLLUP/CUBE/GROUPING SETS a grand-total
# () grouping set that emits ONE row even over an empty table (DuckDB,
# Postgres).  Spark implements these via Expand over the input rows, so
# an empty input produces ZERO rows — no Spark-side expression can add
# the row back without abandoning the native ROLLUP/CUBE operator these
# §2 ops exist to exercise.  An empty slice yielding 0 rows instead of
# 1 all-NULL total row is benign for every downstream consumer; the
# divergence is pinned here and in tests/test_degenerate.py.
EMPTY_EXPECTED_DIVERGE = {
    "agg_rollup",
    "agg_cube",
    "agg_grouping_sets",
    "ts_rollup_multi",
}


# CLI flag -> regime fixture function (first flag given wins; none:
# build_fixture)
_REGIMES = {
    "--empty": build_empty_fixture,
    "--single": build_single_fixture,
    "--nulls": build_nulls_fixture,
    "--extreme": build_extreme_fixture,
    "--boundary": build_boundary_fixture,
    "--shuffled": build_shuffled_fixture,
    "--skew": build_skew_fixture,
    "--hostile": build_hostile_fixture,
    "--nonfinite": build_nonfinite_fixture,
}


def main() -> None:
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))

    flag = next((f for f in _REGIMES if f in sys.argv), None)
    fix = _REGIMES.get(flag, build_fixture)()
    from carpet_spark.registry import REGISTRY
    from carpet_spark.session import get_spark
    from carpet_spark.testing import compare, duck_connect

    spark = get_spark("degenerate_sweep")
    con = duck_connect(fix)

    is_empty = flag == "--empty"
    names = sorted(n for n, op in REGISTRY.items() if op.oracle is not None)
    if only:
        names = [n for n in names if n in only]
    passed, diverged, errored = [], [], []
    for n in names:
        op = REGISTRY[n]
        try:
            compare(op.fn(spark, fix), con, op.oracle, name=n)
            passed.append(n)
            print(f"PASS     {n}", flush=True)
        except AssertionError as e:
            if is_empty and n in EMPTY_EXPECTED_DIVERGE:
                passed.append(n)
                print(f"EXPECTED {n} (Spark ROLLUP/CUBE emits no () row "
                      f"on empty input)", flush=True)
                continue
            diverged.append(n)
            print(f"DIVERGE  {n}: {str(e)[:400]}", flush=True)
        except Exception as e:  # noqa: BLE001 — crashes are findings too
            errored.append(n)
            msg = traceback.format_exception_only(type(e), e)[-1].strip()
            print(f"ERROR    {n}: {msg[:300]}", flush=True)
    print(f"\nSUMMARY: {len(passed)} pass, {len(diverged)} diverge, "
          f"{len(errored)} error out of {len(names)}")
    if diverged:
        print("DIVERGED:", ",".join(diverged))
    if errored:
        print("ERRORED:", ",".join(errored))


if __name__ == "__main__":
    main()
