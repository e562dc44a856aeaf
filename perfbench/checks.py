"""Output checks, run outside the timed passes.

Registry ops are hash-matched against their DuckDB oracle with
``carpet_spark.testing.compare`` on the run's own seeded tables.  The
redaction output is checked independently of ``carpet_spark``: row count,
dropped columns absent, and every transformed value recomputed in plain
Python on a seeded sample of rows.
"""

from __future__ import annotations

import glob
import hashlib
import math
import os
import re
import traceback

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq


def oracle_check(spark, con, sf_dir: str, op) -> tuple[bool, int, int]:
    """(passed, rows, bytes) for one registry op; rows and bytes are the
    oracle result's, as pandas holds it (the ``toPandas`` sink bench.py uses)."""
    from carpet_spark.testing import compare

    ref = con.execute(op.oracle).df()
    shape = len(ref), int(ref.memory_usage(deep=True).sum())
    try:
        compare(op.fn(spark, sf_dir), con, op.oracle, name=op.name)
    except AssertionError:
        traceback.print_exc()
        return (False, *shape)
    return (True, *shape)


def output_files(out_dir: str) -> list[str]:
    return sorted(glob.glob(os.path.join(out_dir, "*.parquet")))


def output_rows(out_dir: str) -> int:
    """Row count from the written files' footers, without reading data."""
    return sum(pq.ParquetFile(p).metadata.num_rows for p in output_files(out_dir))


def output_bytes(out_dir: str) -> int:
    return sum(os.path.getsize(os.path.join(out_dir, f)) for f in os.listdir(out_dir))


def redact_check(in_path: str, out_dir: str, cfg, seed: int, sample: int = 200) -> bool:
    """Recompute the redaction of ``sample`` seeded rows and compare."""
    src = pq.read_table(in_path)
    out = pq.read_table(output_files(out_dir))
    if out.num_rows != src.num_rows:
        print(f"redact: {out.num_rows} rows out, {src.num_rows} in")
        return False
    gone = [c for c in cfg.drop if c in out.column_names]
    if gone:
        print(f"redact: dropped columns still present: {gone}")
        return False
    key = ["l_orderkey", "l_linenumber"]
    pick = np.random.default_rng(seed).choice(src.num_rows, min(sample, src.num_rows), replace=False)
    want = src.take(pa.array(pick)).to_pandas()
    near = out.filter(pc.is_in(out["l_orderkey"], value_set=pa.array(want["l_orderkey"])))
    got = want[key].merge(near.to_pandas(), on=key, how="left")
    if len(got) != len(want):
        return False
    pattern = re.compile(cfg.mask_pattern)
    for (_, w), (_, g) in zip(want.iterrows(), got.iterrows()):
        expect = {
            **{c: None for c in cfg.nullify},
            **{
                c: hashlib.sha256((cfg.hash_salt + str(w[c])).encode()).hexdigest()
                for c in cfg.hash
            },
            **{c: pattern.sub(cfg.mask_replacement, w[c]) for c in cfg.mask},
            **{c: math.floor(w[c] / cfg.bucket_width) for c in cfg.bucket},
        }
        for c, v in expect.items():
            if not (g[c] == v or (v is None and g[c] is None)):
                print(f"redact: {c} of key {tuple(w[key])}: {g[c]!r} != {v!r}")
                return False
        kept = set(src.column_names) - set(cfg.drop) - set(expect)
        if any(g[c] != w[c] for c in kept):
            print(f"redact: untouched column changed at key {tuple(w[key])}")
            return False
    return True
