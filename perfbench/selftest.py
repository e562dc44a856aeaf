"""The benchmark's own test: a deliberately corrupted result must drive
``ok_ratio`` below 1 and ``correct`` to false.

    python3 perfbench/selftest.py          # about three minutes

Each case runs one short workload, in the same isolated way as run.py, with
one corruption applied in the child process before the workload starts:

- ``check``: ``topk`` returns one row short, so its oracle check fails;
- ``timed``: one ``headline`` op's result loses a row in the timed passes
  only, after its oracle check passed;
- ``redact``: the redaction hashes with the wrong salt, so the recomputed
  sample disagrees.
"""

from __future__ import annotations

import argparse
import json
import sys


def corrupt(case: str) -> None:
    """Apply one corruption inside the workload process."""
    if case == "check":
        import carpet_spark.ops  # noqa: F401  (registers every op)
        from carpet_spark.registry import REGISTRY, Op

        op = REGISTRY["topk"]
        REGISTRY["topk"] = Op(op.name, lambda s, d: op.fn(s, d).limit(99), op.oracle)
    elif case == "timed":
        from perfbench.workload import Run

        make_ops = Run.make_ops

        def short_result(self):
            make_ops(self)
            op = self.ops[0]
            sink = op.sink
            op.sink = lambda df: sink(df).iloc[:-1]

        Run.make_ops = short_result
    elif case == "redact":
        import dataclasses

        import carpet_spark.cli as cli

        apply_pii = cli.apply_pii
        cli.apply_pii = lambda df, cfg: apply_pii(
            df, dataclasses.replace(cfg, hash_salt="wrong:")
        )


CASES = {"check": "headline", "timed": "headline", "redact": "redact"}


def child(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--case", required=True, choices=sorted(CASES))
    known, rest = ap.parse_known_args(argv)
    corrupt(known.case)
    from perfbench import workload

    return workload.main(rest)


def main() -> int:
    import run

    failures = 0
    for case, wl in CASES.items():
        args = run.parse_args(["--workload", wl, "--seed", "7", "--seconds", "1"])
        rc, lines, _ = run.isolated_run(["perfbench.selftest", "--case", case], args)
        result = json.loads(lines[-1]) if rc == 0 and lines else None
        ok_ratio = result["metrics"]["ok_ratio"]["value"] if result else None
        passed = result is not None and ok_ratio < 1 and not result["correct"]
        failures += not passed
        print(f"{'PASS' if passed else 'FAIL'} {case}: exit {rc}, ok_ratio {ok_ratio}, "
              f"correct {result and result['correct']}")
    return 1 if failures else 0


if __name__ == "__main__":
    if "--case" in sys.argv:
        sys.exit(child(sys.argv[1:]))
    sys.exit(main())
