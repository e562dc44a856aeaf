#!/usr/bin/env python
"""Incremental driver-faithful sf0.1 parity sweep (r10 VERDICT item 4).

The full-registry sf0.1 sweep (all 684 hash ops vs DuckDB at 10x the
gate SF) found all seven r10 display-determinism bugs but costs ~2.5 h,
dominated by six quadratic exact-audit oracles.  This script makes it a
per-round habit by sweeping only:

- ops whose fingerprint (own source + oracle + shared-infra salt, see
  scripts/op_fingerprints.py) differs from the last recorded sweep,
- plus anything never swept before (or everything, when the shared
  infra salt changed).

On a fully green run the fingerprints of the swept ops are recorded in
scripts/sweep_fingerprints.json, and a short tally line (swept count +
sha256 of the sorted swept-set) is printed for the round README entry.

Usage:
  python scripts/delta_sweep.py            # sweep the delta at sf0.1
  python scripts/delta_sweep.py --dry-run  # just list what would run
  python scripts/delta_sweep.py --full     # ignore recordings, sweep all
"""

from __future__ import annotations

import hashlib
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from op_fingerprints import REPO, current_fingerprints  # noqa: E402

RECORD = os.path.join(REPO, "scripts", "sweep_fingerprints.json")
SF_DIR = "/root/testdata/sf0.1"


def main() -> None:
    args = set(sys.argv[1:])
    dry = "--dry-run" in args
    full = "--full" in args

    from carpet_spark.registry import REGISTRY

    fps = current_fingerprints()
    salt = fps.pop("_salt")

    old: dict[str, str] = {}
    if not full:
        try:
            with open(RECORD) as f:
                old = json.load(f)
        except (OSError, ValueError):
            old = {}
        if old.get("_salt") != salt:
            print("shared-infra salt changed (or no record): FULL sweep")
            old = {}

    hash_ops = [n for n, op in REGISTRY.items() if op.oracle is not None]
    to_sweep = [n for n in hash_ops if old.get(n) != fps[n]]
    sweep_set_hash = hashlib.sha256(
        "\n".join(sorted(to_sweep)).encode()
    ).hexdigest()[:16]

    print(
        f"delta sweep @ {SF_DIR}: {len(to_sweep)} changed ops "
        f"(of {len(hash_ops)} hash ops; swept-set sha256 {sweep_set_hash})"
    )
    if dry:
        for n in to_sweep:
            print(f"  {n}")
        return
    if not to_sweep:
        print("nothing to sweep — record is current")
        return

    import __spark_entry__ as entry
    from carpet_spark.session import get_spark
    from carpet_spark.testing import compare, duck_connect

    spark = get_spark("delta_sweep")
    qs, oracles = entry.queries(), entry.oracle_sql()
    con = duck_connect(SF_DIR)
    failed: list[str] = []
    for i, n in enumerate(to_sweep, 1):
        try:
            compare(qs[n](spark, SF_DIR), con, oracles[n], name=f"{n}@sf0.1")
            print(f"[{i}/{len(to_sweep)}] PASS  {n}", flush=True)
        except Exception as e:  # noqa: BLE001 — report every op, then fail
            print(f"[{i}/{len(to_sweep)}] FAIL  {n}: {e}", flush=True)
            failed.append(n)
    con.close()
    spark.stop()

    if failed:
        print(f"\nSWEEP FAILED: {len(failed)} op(s): {failed}")
        sys.exit(1)

    record = dict(old) if old else {}
    record["_salt"] = salt
    for n in to_sweep:
        record[n] = fps[n]
    # prune renamed/deleted ops so the record never grows stale keys
    record = {
        k: v for k, v in record.items() if k == "_salt" or k in REGISTRY
    }
    tmp = f"{RECORD}.tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        json.dump(record, f, sort_keys=True, indent=0)
    os.replace(tmp, RECORD)
    recorded = sum(1 for k in record if k != "_salt")
    print(
        f"\nSWEEP GREEN: {len(to_sweep)} ops at sf0.1; recorded "
        f"{recorded}/{len(hash_ops)} fingerprints -> {RECORD}\n"
        f"README tally line: delta sweep {len(to_sweep)} ops "
        f"(set {sweep_set_hash}) green at sf0.1"
    )


if __name__ == "__main__":
    main()
