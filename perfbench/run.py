#!/usr/bin/env python3
"""carpet-spark benchmark: one run of one workload.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 10 --trace 0

Run it from the repository root.  Workloads are ``headline``, ``tail`` and
``redact`` (see perfbench/README.md).  The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(end-to-end metrics with ``--trace 0``, per-layer metrics with
``--trace 1``).  A run record, and with ``--trace 1`` the spans, are
written under ``.perfbench_out/``.

This process only isolates the run: it makes a fresh directory under
``.perfbench_run/``, points ``TMPDIR``, ``SPARK_LOCAL_DIRS``,
``SPARK_GRAFT_CKPT_DIR`` and the JVM's temporary directory into it, runs
``perfbench.workload`` in a new process group, waits for every process of
that group to end, counts the files the program left behind and deletes
the directory.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TIMEOUT_S = 165  # the run must end within 180 s
GRACE_S = 15  # for the JVM and Python workers to exit after the driver
PR_SET_CHILD_SUBREAPER = 36


def count_files(dirs: list[str]) -> int:
    return sum(len(files) for d in dirs for _, _, files in os.walk(d))


def reap_group(pgid: int, deadline: float) -> None:
    """Wait until every process of the group has ended; SIGKILL what is
    still there at ``deadline``.  Orphaned grandchildren (the JVM, Python
    workers) are re-parented to this process, so it can reap them."""
    killed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            return  # no child left
        if time.monotonic() > deadline and not killed:
            try:
                os.killpg(pgid, signal.SIGKILL)
            except ProcessLookupError:
                pass
            killed = True
        time.sleep(0.05)


def isolated_run(module: list[str], args) -> tuple[int, list[str], int]:
    """Run ``python -m <module...>`` with the workload arguments in a fresh
    per-run directory.  Returns (exit code, stdout lines, files left)."""
    work = os.path.join(ROOT, ".perfbench_run", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    state = [os.path.join(work, d) for d in ("tmp", "local", "ckpt")]
    for d in state:
        os.makedirs(d)
    tmp, local, ckpt = state
    env = dict(
        os.environ,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=local,
        SPARK_GRAFT_CKPT_DIR=ckpt,
        # Python workers import carpet_spark whatever their working directory
        PYTHONPATH=os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM="1g",
        PYSPARK_SUBMIT_ARGS=" ".join([
            "--conf spark.ui.showConsoleProgress=false",
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"),
            "pyspark-shell",
        ]),
    )
    cmd = [
        sys.executable, "-m", *module,
        "--workload", args.workload, "--seed", str(args.seed),
        "--seconds", str(args.seconds), "--trace", str(args.trace),
        "--work", work, "--out", os.path.join(ROOT, ".perfbench_out"),
    ]
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    proc = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"run exceeded {TIMEOUT_S} s", file=sys.stderr)
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        proc.returncode = proc.returncode or 1
    reap_group(proc.pid, time.monotonic() + GRACE_S)
    files_left = count_files(state)
    shutil.rmtree(work, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(work))
    except OSError:
        pass  # another run's directory is still there
    return proc.returncode, out.decode().splitlines(), files_left


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["headline", "tail", "redact"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    return args


def have_program() -> bool:
    for need in ("carpet_spark", "bench.py"):
        if not os.path.exists(os.path.join(ROOT, need)):
            print(f"{need} not found under {ROOT}: run from a full checkout", file=sys.stderr)
            return False
    return True


def main() -> int:
    args = parse_args()
    if not have_program():
        return 2
    rc, lines, files_left = isolated_run(["perfbench.workload"], args)
    if rc != 0:
        print(f"workload exited with code {rc}", file=sys.stderr)
        return rc if rc > 0 else 1
    result = json.loads(lines[-1])
    if args.trace:
        result["metrics"]["tmp.files_left"] = {"value": files_left, "unit": "count"}
    for line in lines[:-1]:
        print(line)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
