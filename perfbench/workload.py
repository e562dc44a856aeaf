"""One run of one benchmark workload, in a process of its own.

``run.py`` starts this module with ``TMPDIR``, ``SPARK_LOCAL_DIRS``,
``SPARK_GRAFT_CKPT_DIR`` and ``PYTHONPATH`` pointing into a fresh per-run
directory.  The run is, in order:

1. generate the seeded inputs (not timed);
2. set up ``SETUPS`` times -- import (first time only), ``get_spark``, the
   cold ``tables.load`` calls and one fixed warm-up action -- stopping the
   session in between; ``setup_s`` is the median;
3. the check pass: every op once, its output checked (the cold pass);
4. one warm pass, then the timed passes of all the workload's ops, one
   after another, discarding a first timed pass that was still warming;
5. print a context line, then the result line.

With ``--trace 1`` timed passes alternate untraced and traced; the traced
ones record spans and status-store counters, and their difference from the
untraced ones is the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass
from typing import Callable

from perfbench import checks, inputs
from perfbench.spans import SparkCounters, Tracer, tree_rss_mb

SETUPS = 5
MAX_WARM = 2  # warm passes at most per kind (traced or not), the first one included
SETTLED = 0.10  # a pass within 10% of the later ones' median is warm
MIN_TIMED = 2
# Timed passes per run = --seconds / the workload's nominal pass time (at
# least MIN_TIMED), fixed per workload so that every run pools the same
# number of latency samples and the tail percentile does not move.
NOMINAL_PASS_S = {"headline": 4.0, "tail": 7.0, "redact": 4.8}

TAIL_OPS = [
    "agg_percentile",  # ranks.py: three jobs at construction
    "graph_clustering_coefficient",  # shuffle-heavy wedge joins
    "dedup_near_jaccard",  # text CPU work plus a shuffle
    "graph_connected_components",  # driver loop of jobs at construction
    "udaf_grouped_pandas",  # the Python/Arrow boundary
]
# rows of the ten tables relative to sf0.1
TABLE_SCALE = {"headline": 0.05, "tail": 0.01}
# redaction inputs: orders in the large file (about four lines each),
# orders per small file, number of small files
REDACT_FILES = (100_000, 3_000, 9)

PER_LAYER = [
    "session.get_spark_s", "tables.load_s", "ops.construct_s", "ops.construct_jobs",
    "plan.optimize_s", "plan.physical_s", "exec.run_s", "exec.jobs", "exec.stages",
    "exec.tasks", "exec.single_task_stages", "exec.shuffle_mb", "exec.spill_mb",
    "exec.executor_cpu_s", "transfer.to_pandas_s", "cli.apply_pii_s", "cli.write_s",
    "cli.files_out", "cli.bytes_out", "warm.first_pass_s", "warm.passes_discarded",
    "self.op_s", "self.pass_s", "trace.pass_s", "trace.overhead_s",
]
E2E_UNITS = {
    "setup_s": "s", "pass_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
    "ok_ratio": "ratio", "rss_peak_mb": "MB", "rows_per_s": "rows/s",
    "bytes_out_per_byte_in": "ratio",
}


def unit(name: str) -> str:
    """Units as BENCHMARK.json lists them; per-layer names end in their unit."""
    if name in E2E_UNITS:
        return E2E_UNITS[name]
    if name.endswith("_s"):
        return "s"
    return "MB" if name.endswith("_mb") else "count"


NO_TRACE = Tracer(False)  # records nothing, so one instance serves every caller


@dataclass
class Operation:
    """One timed operation: ``build`` returns a DataFrame plan, ``sink``
    runs it to completion, ``verify`` checks the sink's result cheaply."""

    name: str
    build: Callable
    sink: Callable
    verify: Callable
    build_layer: str = "ops.construct"


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail_latency(lat: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and its
    value; with ten samples or fewer, the maximum (percentile 100)."""
    s = sorted(lat)
    n = len(s)
    if n <= 10:
        return 100.0, s[-1] if s else 0.0
    return 100.0 * (n - 10) / n, s[n - 11]


def cpu_times() -> dict[str, float]:
    """Machine-wide CPU seconds so far, from /proc/stat: busy (user, nice,
    system, irq, softirq) and steal (time the hypervisor gave away)."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:9]]
    hz = os.sysconf("SC_CLK_TCK")
    return {"busy": (t[0] + t[1] + t[2] + t[5] + t[6]) / hz, "steal": t[7] / hz}


def git_commit(root: str) -> str | None:
    """HEAD of the checkout, read from ``.git`` without running git (which
    would search parent directories); None outside a git checkout."""
    head = os.path.join(root, ".git", "HEAD")
    try:
        with open(head) as f:
            ref = f.read().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        path = os.path.join(root, ".git", name)
        if os.path.exists(path):
            with open(path) as f:
                return f.read().strip()
        with open(os.path.join(root, ".git", "packed-refs")) as f:
            for line in f:
                if line.rstrip().endswith(" " + name):
                    return line.split()[0]
    except OSError:
        pass
    return None


class Run:
    def __init__(self, args):
        self.args = args
        self.work = args.work
        self.tracer = Tracer(bool(args.trace))
        self.cpus = len(os.sched_getaffinity(0))
        self.ctx = {
            "workload": args.workload, "seed": args.seed, "nproc": self.cpus,
            "load1_start": os.getloadavg()[0], "python": platform.python_version(),
        }
        self.cpu_start = cpu_times()
        self.setup_s, self.get_spark_s, self.load_s = [], [], []
        self.rss_peak = 0.0
        self.ops: list[Operation] = []
        self.op_ok: dict[str, bool] = {}
        self.in_rows = 0
        self.in_bytes = 0
        self.out_bytes = 0
        self.cli_files = 0
        self.spark = None

    # -- set-up ---------------------------------------------------------
    def make_inputs(self):
        w = self.args.workload
        if w == "redact":
            self.files = inputs.write_redact_inputs(
                os.path.join(self.work, "in"), self.args.seed, *REDACT_FILES
            )
            self.in_rows = sum(f["rows"] for f in self.files)
            self.in_bytes = sum(f["bytes"] for f in self.files)
        else:
            self.sf_dir = os.path.join(self.work, "in")
            rows = inputs.write_tables(self.sf_dir, self.args.seed, TABLE_SCALE[w])
            self.in_rows = sum(rows.values())
            self.in_bytes = sum(
                os.path.getsize(os.path.join(self.sf_dir, f)) for f in os.listdir(self.sf_dir)
            )
        self.ctx["input_rows"] = self.in_rows
        self.ctx["input_bytes"] = self.in_bytes

    def setup(self):
        """One set-up; the first one also pays for importing the package.
        The warm-up action is one trivial job, so the session's first-job
        costs (executor start, class loading) fall in set-up."""
        t0 = time.perf_counter()
        import carpet_spark.ops  # noqa: F401  (registers every op)
        from carpet_spark import tables
        from carpet_spark.session import get_spark

        tr = self.tracer
        with tr.span("session.get_spark", pass_no=-1):
            a = time.perf_counter()
            self.spark = get_spark("perfbench", cpus=self.cpus)
            self.get_spark_s.append(time.perf_counter() - a)
        a = time.perf_counter()
        if self.args.workload != "redact":
            for t in tables.TABLES:
                with tr.span("tables.load", op=t, pass_no=-1):
                    tables.load(self.spark, self.sf_dir, t)
        self.load_s.append(time.perf_counter() - a)
        with tr.span("setup.warmup", pass_no=-1):
            self.spark.range(1).count()
        self.setup_s.append(time.perf_counter() - t0)

    # -- operations -----------------------------------------------------
    def make_ops(self):
        w = self.args.workload
        if w == "redact":
            self.make_redact_ops()
            return
        from carpet_spark.registry import REGISTRY

        if w == "headline":
            import bench

            names = list(bench.HEADLINE.values())
        else:
            names = TAIL_OPS
        for name in names:
            op = REGISTRY[name]
            build = (lambda fn: lambda: fn(self.spark, self.sf_dir))(op.fn)
            if w == "headline":
                # the sink bench.py uses; the row count is checked
                # against the oracle's
                self.ops.append(Operation(
                    name, build, lambda df: df.toPandas(),
                    (lambda n: lambda pdf: len(pdf) == self.expect_rows[n])(name),
                ))
            else:
                self.ops.append(Operation(name, build, noop_sink, lambda _: True))

    def make_redact_ops(self):
        from carpet_spark.cli import PIIConfig, apply_pii

        self.cfg = PIIConfig(
            drop=["ssn", "email"], nullify=["phone"], hash=["cust_name"],
            hash_salt="perfbench-salt:", mask=["note"], mask_pattern="[0-9]",
            mask_replacement="#", bucket=["l_extendedprice"], bucket_width=1000.0,
        )
        out_root = os.path.join(self.work, "out")
        for i, f in enumerate(self.files):
            dst = os.path.join(out_root, f"file{i}")

            def build(path=f["path"]):
                return apply_pii(self.spark.read.parquet(path), self.cfg)

            def sink(df, dst=dst):
                df.write.mode("overwrite").parquet(dst)
                return dst

            def verify(dst, rows=f["rows"]):
                return checks.output_rows(dst) == rows

            self.ops.append(Operation(f"file{i}", build, sink, verify, "cli.apply_pii"))

    def check_outputs(self):
        """The check pass, before the timed ones: every op's output against
        its check.  Being the first pass, it is also the cold one."""
        if self.args.workload == "redact":
            for op, f in zip(self.ops, self.files):
                with self.tracer.span("check", op.name, 0):
                    dst = op.sink(op.build())
                self.op_ok[op.name] = checks.redact_check(
                    f["path"], dst, self.cfg, self.args.seed
                ) and op.verify(dst)
                self.out_bytes += checks.output_bytes(dst)
                self.cli_files += len(checks.output_files(dst))
                shutil.rmtree(dst)
            return
        from carpet_spark.registry import REGISTRY
        from carpet_spark.testing import duck_connect

        self.expect_rows = {}
        con = duck_connect(self.sf_dir)
        try:
            for op in self.ops:
                with self.tracer.span("check", op.name, 0):
                    ok, rows, nbytes = checks.oracle_check(
                        self.spark, con, self.sf_dir, REGISTRY[op.name]
                    )
                self.op_ok[op.name] = ok
                self.expect_rows[op.name] = rows
                self.out_bytes += nbytes
        finally:
            con.close()

    # -- passes ---------------------------------------------------------
    def run_op(self, op: Operation, p: int, traced: bool):
        """Build and run one op; returns (latency_s, result ok)."""
        tr = self.tracer if traced else NO_TRACE
        sc = self.spark.sparkContext
        group = f"{op.name}:{p}"
        try:
            with tr.span("op", op.name, p):
                t0 = time.perf_counter()
                if traced:
                    sc.setJobGroup("construct:" + group, op.name)
                with tr.span(op.build_layer, op.name, p):
                    df = op.build()
                if traced:
                    sc.setJobGroup("exec:" + group, op.name)
                    qe = df._jdf.queryExecution()
                    with tr.span("plan.optimize", op.name, p):
                        qe.optimizedPlan()
                    with tr.span("plan.physical", op.name, p):
                        qe.executedPlan()
                with tr.span("exec.run", op.name, p):
                    result = op.sink(df)
                latency = time.perf_counter() - t0
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)
            return latency, self.op_ok[op.name] and op.verify(result)
        except Exception:  # an op that fails is counted, and the run goes on
            traceback.print_exc()
            return None, False

    def run_pass(self, p: int, traced: bool = False) -> dict:
        lat, ok = [], 0
        t0 = time.perf_counter()
        tr = self.tracer if traced else NO_TRACE
        with tr.span("pass", pass_no=p):
            for op in self.ops:
                latency, good = self.run_op(op, p, traced)
                if latency is not None:
                    lat.append(latency)
                ok += good
                self.rss_peak = max(self.rss_peak, tree_rss_mb())
            if traced:
                with tr.span("trace.counters", pass_no=p):
                    counters = self.count_pass(p)
        rec = {"pass": p, "s": time.perf_counter() - t0, "lat": lat, "ok": ok,
               "attempted": len(self.ops), "failed": len(self.ops) - len(lat),
               "traced": traced}
        if traced:
            rec["counters"] = counters
        if self.args.workload == "redact":
            shutil.rmtree(os.path.join(self.work, "out"), ignore_errors=True)
        return rec

    def count_pass(self, p: int) -> dict:
        sc_counters = SparkCounters(self.spark)
        tot: dict[str, float] = {}
        for op in self.ops:
            group = f"{op.name}:{p}"
            c = sc_counters.stage_totals("construct:" + group)
            x = sc_counters.stage_totals("exec:" + group)
            tot["ops.construct_jobs"] = tot.get("ops.construct_jobs", 0) + c["jobs"]
            for k in c:
                tot["exec." + k] = tot.get("exec." + k, 0) + c[k] + x[k]
        return tot

    def passes(self):
        """After the check pass: one warm pass, then the timed passes.  When
        the first timed pass of a kind (traced or not) is more than
        ``SETTLED`` slower than the median of the later ones, it was still
        warming: it moves to the warm passes and one more pass runs, up to
        ``MAX_WARM`` times per kind.  Traced runs alternate untraced and
        traced passes, at least two of each."""
        w = self.args.workload
        target = max(MIN_TIMED, round(self.args.seconds / NOMINAL_PASS_S[w]))
        if self.args.trace:
            target = max(target, 2 * MIN_TIMED)
        self.warm = [self.run_pass(1)]
        self.first_pass_s = self.warm[0]["s"]
        self.timed = []
        p = 2
        while len(self.timed) < target:
            self.timed.append(self.run_pass(p, bool(self.args.trace) and p % 2 == 1))
            p += 1
            if len(self.timed) == target:
                for kind in {r["traced"] for r in self.timed}:
                    runs = [r for r in self.timed if r["traced"] == kind]
                    warm = [r for r in self.warm if r["traced"] == kind]
                    if (len(runs) > 2 and len(warm) < MAX_WARM
                            and runs[0]["s"] > (1 + SETTLED) * median([r["s"] for r in runs[1:]])):
                        self.timed.remove(runs[0])
                        self.warm.append(runs[0])

    # -- results --------------------------------------------------------
    def end_to_end(self) -> dict:
        runs = [r for r in self.timed if not r["traced"]]
        lat = [x for r in runs for x in r["lat"]]
        pct, tail = tail_latency(lat)
        pass_s = median([r["s"] for r in runs])
        attempted = sum(r["attempted"] for r in runs)
        ok = sum(r["ok"] for r in runs)
        self.ctx.update(latency_samples=len(lat), latency_tail_percentile=round(pct, 1),
                        passes_timed=len(runs))
        m = {
            "setup_s": median(self.setup_s),
            "pass_s": pass_s,
            "latency_p50_s": median(lat),
            "latency_tail_s": tail,
            "ok_ratio": ok / attempted,
            "rss_peak_mb": self.rss_peak,
            "rows_per_s": self.in_rows / pass_s,
            "bytes_out_per_byte_in": self.out_bytes / self.in_bytes,
        }
        return m

    def per_layer(self) -> dict:
        traced = [r for r in self.timed if r["traced"]]
        untraced = [r for r in self.timed if not r["traced"]]
        per_pass = []
        for r in traced:
            # leaf spans: self time is the whole duration
            selft = self.tracer.self_times({r["pass"]})
            d = dict(r["counters"])
            for name in ("ops.construct", "cli.apply_pii", "plan.optimize", "plan.physical",
                         "exec.run"):
                d[name + "_s"] = selft.get(name, 0.0)
            d["cli.write_s"] = d["exec.run_s"] if self.args.workload == "redact" else 0.0
            d["self.op_s"] = selft.get("op", 0.0)
            d["self.pass_s"] = selft.get("pass", 0.0)
            d["trace.pass_s"] = r["s"]
            per_pass.append(d)
        m = {k: median([d[k] for d in per_pass]) for k in per_pass[0]}
        m["session.get_spark_s"] = median(self.get_spark_s)
        m["tables.load_s"] = median(self.load_s)
        m["transfer.to_pandas_s"] = self.transfer_s
        redact = self.args.workload == "redact"
        m["cli.files_out"] = self.cli_files if redact else 0
        m["cli.bytes_out"] = self.out_bytes if redact else 0
        m["warm.first_pass_s"] = self.first_pass_s
        m["warm.passes_discarded"] = len(self.warm) + 1  # and the check pass
        m["trace.overhead_s"] = m["trace.pass_s"] - median([r["s"] for r in untraced])
        return {k: m.get(k, 0.0) for k in PER_LAYER}

    def measure_transfer(self, reps: int = 3):
        """``toPandas`` time minus ``noop`` time for the same plan: per op
        the median over ``reps`` paired runs, summed over the ops of a pass
        (``headline`` only: the other sinks move no result).  Each run gets
        a freshly built DataFrame, since a second action on the same one
        reuses its finished shuffle stages."""
        self.transfer_s = 0.0
        if self.args.workload != "headline":
            return
        tr = self.tracer
        for op in self.ops:
            diffs = []
            for _ in range(reps):
                df = op.build()
                with tr.span("transfer.to_pandas", op.name) as a:
                    df.toPandas()
                df = op.build()
                with tr.span("transfer.noop", op.name) as b:
                    noop_sink(df)
                diffs.append((a["end"] - a["start"]) - (b["end"] - b["start"]))
            self.transfer_s += median(diffs)

    def context(self):
        import pyspark

        cpu = cpu_times()
        self.ctx.update(
            load1_end=os.getloadavg()[0], spark=pyspark.__version__,
            cpu_busy_s=cpu["busy"] - self.cpu_start["busy"],
            cpu_steal_s=cpu["steal"] - self.cpu_start["steal"],
            commit=git_commit(os.getcwd()),
            warm_passes=[r["s"] for r in self.warm],
            timed_passes=[r["s"] for r in self.timed],
            setups=self.setup_s, op_ok=self.op_ok,
        )
        if self.args.workload == "headline":
            import bench
            from carpet_spark.registry import REGISTRY

            self.ctx["plans_v2"] = {
                q: bench._plan_fingerprint_v2(REGISTRY[op].fn(self.spark, self.sf_dir))
                for q, op in bench.HEADLINE.items()
            }


def noop_sink(df):
    df.write.format("noop").mode("overwrite").save()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["headline", "tail", "redact"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--work", required=True, help="per-run scratch directory")
    ap.add_argument("--out", required=True, help="directory for the run record")
    args = ap.parse_args(argv)

    run = Run(args)
    phases = run.ctx["phase_s"] = {}

    def phase(name, fn):
        a = time.perf_counter()
        fn()
        phases[name] = time.perf_counter() - a

    phase("inputs", run.make_inputs)
    for i in range(SETUPS):
        if i:
            run.spark.stop()
        phase(f"setup{i}", run.setup)
    run.make_ops()
    phase("checks", run.check_outputs)
    phase("passes", run.passes)
    metrics = run.end_to_end()
    if args.trace:
        phase("transfer", run.measure_transfer)
        metrics = run.per_layer()
    phase("context", run.context)
    phase("stop", run.spark.stop)

    attempted = sum(r["attempted"] for r in run.timed)
    failed = sum(r["failed"] for r in run.timed)
    correct = all(run.op_ok.values()) and failed == 0 and all(
        r["ok"] == r["attempted"] for r in run.timed
    )
    os.makedirs(args.out, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}"
    with open(os.path.join(args.out, name + ".json"), "w") as f:
        json.dump({"context": run.ctx, "metrics": metrics,
                   "passes": run.warm + run.timed}, f, indent=1)
    if args.trace:
        run.tracer.write(os.path.join(args.out, name + ".spans.json"))
    print(json.dumps({"context": run.ctx}))
    print(json.dumps({
        "correct": bool(correct), "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": unit(k)} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
