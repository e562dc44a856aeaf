"""Seeded input generation: every file the measured program reads.

The program never sees a file the benchmark did not write here, so the
same ``--seed`` gives byte-identical inputs and a different seed gives
different values with the same shapes.

``write_tables`` writes the ten tables ``carpet_spark.tables.TABLES`` reads,
with the schemas, physical types and value domains of the sf0.1 fixture
(FIXTURES.md): int32/int64 keys, double money, µs order/ship timestamps,
``events.ts`` as Parquet TIMESTAMP(NANOS) and 64-float embeddings.
``scale`` multiplies the sf0.1 row counts.

``write_redact_inputs`` writes the redaction workload's files: one large
file in several row groups plus a few small ones, each a lineitem-shaped
fact table with PII-shaped string columns.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# sf0.1 row counts (FIXTURES.md)
SF01_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PART_ADJ = ["large", "hot", "blue", "small", "red", "cold", "dark", "light"]
PART_NOUN = ["ring", "bolt", "nut", "gear", "pipe", "valve", "plate", "screw"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
LANG_P = [0.14, 0.41, 0.15, 0.15, 0.15]
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
FIRST = ["ann", "bob", "carla", "dev", "eve", "finn", "gia", "hugo", "ines", "jon"]
LAST = ["smith", "garcia", "chen", "okafor", "muller", "rossi", "kim", "novak"]

_DAY_US = 86_400_000_000
_EPOCH_1995_US = 788_918_400_000_000  # 1995-01-01T00:00:00Z
_EPOCH_2024_NS = 1_704_067_200_000_000_000  # 2024-01-01T00:00:00Z


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def _fmt(fmt: str, keys) -> pa.Array:
    return pa.array([fmt % k for k in keys.tolist()])


def _write(path: str, cols: dict, rng, row_group_size: int | None = None) -> None:
    table = pa.table(cols)
    # rows in seed order: a different seed permutes row order as well as values
    table = table.take(pa.array(rng.permutation(table.num_rows)))
    pq.write_table(table, path, row_group_size=row_group_size, version="2.6")


def write_tables(out_dir: str, seed: int, scale: float = 1.0) -> dict[str, int]:
    """Write the ten tables under ``out_dir``; returns rows per table."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = {t: max(10, int(round(r * scale))) for t, r in SF01_ROWS.items()}
    rows: dict[str, int] = {}

    def write(name, cols):
        _write(os.path.join(out_dir, f"{name}.parquet"), cols, rng)
        rows[name] = len(next(iter(cols.values())))

    write("region", {
        "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
        "r_name": pa.array(REGIONS),
    })
    write("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
        "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
    })
    nc = n["customer"]
    write("customer", {
        "c_custkey": pa.array(np.arange(nc, dtype=np.int64)),
        "c_name": _fmt("Customer#%09d", np.arange(nc)),
        "c_nationkey": pa.array(rng.integers(0, 25, nc, dtype=np.int32)),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, nc)),
        "c_mktsegment": _pick(rng, SEGMENTS, nc),
    })
    ns = n["supplier"]
    write("supplier", {
        "s_suppkey": pa.array(np.arange(ns, dtype=np.int64)),
        "s_name": _fmt("Supplier#%09d", np.arange(ns)),
        "s_nationkey": pa.array(rng.integers(0, 25, ns, dtype=np.int32)),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, ns)),
    })
    npart = n["part"]
    names = [f"{a} {b}" for a in PART_ADJ for b in PART_NOUN]
    write("part", {
        "p_partkey": pa.array(np.arange(npart, dtype=np.int64)),
        "p_name": _pick(rng, names, npart),
        "p_brand": _fmt("Brand#%d", rng.integers(1, 26, npart)),
        "p_type": _pick(rng, PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart, dtype=np.int32)),
        "p_retailprice": pa.array(np.round(900 + rng.integers(0, 1000, npart) / 10, 1)),
    })
    no = n["orders"]
    odays = rng.integers(0, 2404, no)  # 1995-01-01 .. 2001-08-01
    write("orders", {
        "o_orderkey": pa.array(np.arange(no, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, nc, no, dtype=np.int64)),
        "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, no)),
        "o_orderdate": pa.array(_EPOCH_1995_US + odays * _DAY_US, pa.timestamp("us")),
        "o_orderpriority": _pick(rng, PRIORITIES, no),
    })
    write("lineitem", _lineitem(rng, odays, npart, ns))
    ne = n["events"]
    # event time spans 30 days, arrival order jittered (out-of-order capable)
    ts = np.sort(rng.integers(0, 30 * _DAY_US * 1000, ne)) + _EPOCH_2024_NS
    ts = ts + rng.integers(-120, 120, ne) * 1_000_000_000
    write("events", {
        "event_id": pa.array(np.arange(ne, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("ns")),
        "user_id": pa.array(rng.integers(0, max(10, nc // 10), ne, dtype=np.int64)),
        "event_type": _pick(rng, EVENT_TYPES, ne),
        "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
        "props": _fmt('{"k": %d}', rng.integers(0, 100, ne)),
    })
    nd = n["documents"]
    lens = rng.integers(10, 101, nd)
    words = np.asarray(VOCAB, dtype=object)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    cuts = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(words[cuts[i]:cuts[i + 1]]) for i in range(nd)]
    for i in range(8):  # eight duplicate-text groups, as in sf0.1
        texts[nd - 1 - i] = texts[i] + " dup"
        texts[i] = texts[nd - 1 - i]
    write("documents", {
        "doc_id": pa.array(np.arange(nd, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _pick(rng, LANGS, nd, p=LANG_P),
        "source": _fmt("src%d", np.arange(nd) % 20),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })
    nv = n["embeddings"]
    vecs = (rng.standard_normal((nv, 64)) * 0.1).astype(np.float32)
    write("embeddings", {
        "vec_id": pa.array(np.arange(nv, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(vecs.ravel(), 64).cast(
            pa.list_(pa.float32())
        ),
        "label": pa.array(rng.integers(0, 10, nv, dtype=np.int32)),
    })
    return rows


def _lineitem(rng, odays, nparts: int, nsupp: int, key_offset: int = 0) -> dict:
    """1-7 lines per order (about four on average), shipped 1-121 days
    after the order date."""
    per = rng.integers(1, 8, len(odays))
    okey = np.repeat(np.arange(len(odays), dtype=np.int64), per)
    nl = len(okey)
    starts = np.repeat(np.cumsum(per) - per, per)
    lineno = (np.arange(nl) - starts + 1).astype(np.int32)
    ship = _EPOCH_1995_US + (np.repeat(odays, per) + rng.integers(1, 122, nl)) * _DAY_US
    return {
        "l_orderkey": pa.array(okey + key_offset),
        "l_partkey": pa.array(rng.integers(0, nparts, nl, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, nsupp, nl, dtype=np.int64)),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, nl)),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
        "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
        "l_linestatus": _pick(rng, ["F", "O"], nl),
        "l_shipdate": pa.array(ship, pa.timestamp("us")),
    }


def _pii_columns(rng, nl: int, key_offset: int) -> dict:
    """Customer-identifying strings attached to each line."""
    ids = pc.cast(pa.array(np.arange(nl, dtype=np.int64) + key_offset), pa.string())
    first = _pick(rng, FIRST, nl)
    last = _pick(rng, LAST, nl)

    def join(*parts):
        return pc.binary_join_element_wise(*parts, "")

    def digits(lo, hi, width):
        return pc.utf8_lpad(pc.cast(pa.array(rng.integers(lo, hi, nl)), pa.string()), width, "0")

    return {
        "cust_name": join("Customer#", pc.utf8_lpad(ids, 9, "0")),
        "email": join(first, ".", last, ids, "@example.com"),
        "phone": join("+1-555-", digits(0, 10_000_000, 7)),
        "ssn": digits(100_000_000, 1_000_000_000, 9),
        "note": join("call ", first, " at ext ", digits(100, 1000, 3), " re order ", ids),
    }


def write_redact_inputs(
    out_dir: str, seed: int, large_orders: int, small_orders: int, n_small: int,
    row_groups: int = 4,
) -> list[dict]:
    """Write one large file (``row_groups`` row groups) and ``n_small`` small
    files; every file's keys start at its own offset, so no two files share
    an order key.  Returns ``[{"path", "rows", "bytes"}]``, large file first."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.default_rng(seed + 1_000_003)
    files = []
    offset = 0
    for i, n_orders in enumerate([large_orders] + [small_orders] * n_small):
        odays = rng.integers(0, 2404, n_orders)
        cols = _lineitem(rng, odays, 200_000, 10_000, key_offset=offset)
        nl = len(cols["l_orderkey"])
        cols.update(_pii_columns(rng, nl, offset))
        path = os.path.join(out_dir, f"part-{i:02d}.parquet")
        _write(path, cols, rng, row_group_size=-(-nl // row_groups) if i == 0 else None)
        files.append({"path": path, "rows": nl, "bytes": os.path.getsize(path)})
        offset += 10 * n_orders
    return files
