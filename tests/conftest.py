import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE
from carpet_spark.session import get_spark
from carpet_spark.testing import duck_connect

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")
SF_SMOKE = "/root/testdata/sf0.001"

_DURATIONS_FILE = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "test_durations.json",
)


# ---------------------------------------------------------------------------
# Driver-fast verification subset (r12 VERDICT item 1).
#
# The full suite is ~9k tests / 20+ min even sharded — it outgrew the
# driver's verify window (VERIFY_r11: truncated at ~45% with zero
# failures).  A bare full-directory run (`pytest tests/ -x -q`, the
# driver's invocation) therefore selects the DRIVER-FAST subset: every
# fast module in full, plus one oracle-parity + output-schema op per
# registry family (first alphabetically — deterministic) and the
# _FAST_ALWAYS_OPS below.  About 1,030 tests, 6-7 min on 4 cores,
# covering every plan pin, every micro-contract and one end-to-end DuckDB
# parity per family.
#
# The FULL gate is unchanged and remains the builder-side entrypoint:
#   python scripts/run_tests_sharded.py 4        (CARPET_SHARD set per worker)
#   CARPET_FULL=1 python -m pytest tests/ -q     (single process, ~50+ min)
# Runs that target specific files/tests (fewer than 15 modules collected)
# are never filtered, so `pytest tests/test_degenerate.py` still runs all
# of it.  A filtered run prints a one-line banner after collection with
# the selected and deselected counts and how to run the full gate.
# ---------------------------------------------------------------------------

# headline bench ops — always in the fast set
_FAST_ALWAYS_OPS = set(HEADLINE.values())
# ops touched by the r12 optimization round — parity stays driver-checked
_FAST_ALWAYS_OPS |= {
    "dedup_near_embedding_ann", "sim_knn_join_topk", "sim_mmr_rerank",
    "graph_pagerank", "agg_percentile", "agg_trimmed_mean",
    "agg_winsorized_stats", "sample_systematic_every_nth", "scan_avro",
    "scan_python_datasource", "scan_python_datasource_pushdown",
    "sink_python_datasource_roundtrip", "stream_python_datasource_sink",
    "stream_interval_join", "dedup_near_embedding", "sim_knn_brute",
    "ts_partial_autocorrelation", "sim_ann_ivf",
}
# ops moved onto ranks.ranked_by_range after r12
_FAST_ALWAYS_OPS |= {"agg_abc_classification"}
# per-op parameterized modules that get the family sample; all other
# modules are kept whole
_FAST_SAMPLED_MODULES = ("test_oracle_parity.py", "test_output_schemas.py")
# heavyweight builder-gate modules dropped from the fast subset entirely
_FAST_DROPPED_MODULES = (
    "test_degenerate.py", "test_type_lint.py", "test_sf01_regressions.py",
)

# (selected, deselected) counts of the fast filter, for the banner
_FAST_COUNTS = pytest.StashKey[tuple]()


def _driver_fast_filter(config, items):
    if os.environ.get("CARPET_FULL"):
        return
    modules = {it.nodeid.split("::")[0] for it in items}
    if len(modules) < 15:
        return  # targeted run (single files / -k): never filter
    # family sample over the parameterized per-op modules: first op
    # alphabetically per family prefix, computed from the collected ids so
    # every invocation selects identically
    fam_first: dict[str, str] = {}
    for it in items:
        mod = it.nodeid.split("::")[0].rsplit("/", 1)[-1]
        if mod != "test_oracle_parity.py" or "[" not in it.nodeid:
            continue
        op = it.nodeid.split("[", 1)[1].rstrip("]")
        fam = op.split("_")[0]
        if fam not in fam_first or op < fam_first[fam]:
            fam_first[fam] = op
    keep_ops = set(fam_first.values()) | _FAST_ALWAYS_OPS
    keep, dropped = [], []
    for it in items:
        mod = it.nodeid.split("::")[0].rsplit("/", 1)[-1]
        if mod in _FAST_DROPPED_MODULES:
            dropped.append(it)
        elif mod in _FAST_SAMPLED_MODULES:
            op = it.nodeid.split("[", 1)[1].rstrip("]") if "[" in it.nodeid else ""
            (keep if op in keep_ops else dropped).append(it)
        else:
            keep.append(it)
    items[:] = keep
    config.hook.pytest_deselected(items=dropped)
    config.stash[_FAST_COUNTS] = (len(keep), len(dropped))


def pytest_collection_finish(session):
    """One banner line whenever the fast-subset filter ran, so a bare
    `pytest tests/` never passes for the full gate."""
    counts = session.config.stash.get(_FAST_COUNTS, None)
    reporter = session.config.pluginmanager.get_plugin("terminalreporter")
    if counts is None or reporter is None:
        return
    reporter.write_line(
        f"fast subset: {counts[0]} selected, {counts[1]} deselected; "
        "full gate: CARPET_FULL=1 or python scripts/run_tests_sharded.py [N]"
    )


def pytest_collection_modifyitems(config, items):
    """Deterministic test sharding (r06 VERDICT item 4): CARPET_SHARD=i/N
    partitions the collected items across N workers.  Collection order is
    identical in every worker, so the N shards partition the suite exactly
    — same total test count, no overlap.  Driven by
    scripts/run_tests_sharded.py; a plain `pytest tests/` (no env var)
    is unaffected.  pytest-xdist is not in the container, hence env-var
    sharding over separate processes (each with its own SparkSession and
    DuckDB connection) instead of -n.

    Assignment (r07 VERDICT item 3): when scripts/test_durations.json
    exists (recorded by the previous sharded run), shards are
    DURATION-BALANCED with greedy longest-processing-time — heaviest test
    to the currently-lightest shard — so the gate's wall time is the mean
    shard, not the unluckiest one.  Unknown tests cost the recorded
    median.  Every worker computes the identical assignment from the same
    file + same collection order.  Fallback without the file: round-robin
    by collection index."""
    shard = os.environ.get("CARPET_SHARD")
    if not shard:
        _driver_fast_filter(config, items)
        return
    idx, count = (int(x) for x in shard.split("/"))
    durations = {}
    try:
        with open(_DURATIONS_FILE) as f:
            durations = json.load(f)
    except (OSError, ValueError):
        durations = {}
    keep, dropped = [], []
    known = sum(1 for it in items if it.nodeid in durations)
    # Balance only when the recording covers (almost) the whole suite: a
    # sparse file makes LPT degenerate — one recorded 33 s test vs a tiny
    # median default sent 1 test to a shard and ~1120 to each other.
    if durations and known >= 0.9 * len(items):
        vals = sorted(durations.values())
        default = vals[len(vals) // 2] if vals else 0.5
        cost = [float(durations.get(it.nodeid, default)) for it in items]
        loads = [0.0] * count
        assign = [0] * len(items)
        for i in sorted(range(len(items)), key=lambda i: (-cost[i], i)):
            k = min(range(count), key=lambda j: (loads[j], j))
            assign[i] = k
            loads[k] += cost[i]
        for i, item in enumerate(items):
            (keep if assign[i] == idx else dropped).append(item)
    else:
        for i, item in enumerate(items):
            (keep if i % count == idx else dropped).append(item)
    items[:] = keep
    config.hook.pytest_deselected(items=dropped)


# --- per-test duration recording (feeds the balanced sharding above) ----
_DUR_OUT = os.environ.get("CARPET_DURATIONS_OUT")
_DUR_ACC: dict[str, float] = {}


def pytest_runtest_logreport(report):
    # call phase ONLY: session/module fixture setup (SparkSession startup,
    # fixture builds) would otherwise be attributed to whichever test runs
    # first in a shard, planting ~30 s phantom costs that anchor the LPT
    # balance around arbitrary tests (r8 review finding).
    if _DUR_OUT and report.when == "call":
        _DUR_ACC[report.nodeid] = _DUR_ACC.get(report.nodeid, 0.0) + report.duration


def pytest_sessionfinish(session, exitstatus):
    if _DUR_OUT and _DUR_ACC:
        tmp = f"{_DUR_OUT}.tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(_DUR_ACC, f)
        os.replace(tmp, _DUR_OUT)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("carpet_spark_tests")
    yield s


@pytest.fixture(autouse=True, scope="module")
def _session_hygiene():
    """Drop accumulated memory-sink tables / cached plans between modules —
    the long suite degrades the shared JVM otherwise (measured: a 20s test
    took 377s at the end of a full run)."""
    yield
    from pyspark.sql import SparkSession

    s = SparkSession.getActiveSession()
    if s is not None:
        try:
            s.catalog.clearCache()
            for t in s.catalog.listTables():
                if t.isTemporary and any(
                    t.name.startswith(p)
                    for p in ("dedup_wm_", "late_", "stateful_", "state_")
                ):
                    s.catalog.dropTempView(t.name)
        except Exception:
            pass


@pytest.fixture(scope="session")
def duck():
    con = duck_connect(SF_DIR)
    yield con
    con.close()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR
