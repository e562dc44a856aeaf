"""Unit tests per operator category on tiny, hand-computable slices
(SURVEY §5) — complements the oracle-parity suite with human-auditable
expectations, plus golden redaction examples for the PII ops.
"""

import hashlib
import os
import subprocess
import sys

import pyspark.sql.functions as F
import pytest

import __spark_entry__ as entrymod
from carpet_spark.registry import REGISTRY
from carpet_spark.tables import load

SF_SMOKE = "/root/testdata/sf0.001"


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "sum_qty" in df.columns and "count_order" in df.columns


def test_every_query_has_matching_oracle_keys():
    qs = entrymod.queries()
    os_ = entrymod.oracle_sql()
    assert set(os_) <= set(qs)
    assert len(qs) >= 62  # SURVEY §2 declared inventory


def test_join_cross_region_nation_is_125(spark):
    assert REGISTRY["join_cross"].fn(spark, SF_SMOKE).count() == 5 * 25


def test_pii_hash_golden(spark):
    """Golden: the token is sha256('carpet-salt:' || name), lowercase hex."""
    row = (
        REGISTRY["pii_hash"].fn(spark, SF_SMOKE)
        .filter(F.col("c_custkey") == 1)
        .collect()[0]
    )
    name = (
        load(spark, SF_SMOKE, "customer")
        .filter(F.col("c_custkey") == 1)
        .collect()[0]
        .c_name
    )
    expected = hashlib.sha256(f"carpet-salt:{name}".encode()).hexdigest()
    assert row.name_token == expected


def test_pii_nullify_redacts_every_value(spark):
    df = REGISTRY["pii_nullify"].fn(spark, SF_SMOKE)
    n = df.count()
    assert df.filter(F.col("c_name").isNull() & F.col("c_acctbal").isNull()).count() == n
    assert df.filter(F.col("c_custkey").isNull()).count() == 0  # non-PII kept


def test_pii_drop_schema(spark):
    cols = REGISTRY["pii_drop"].fn(spark, SF_SMOKE).columns
    assert "c_name" not in cols and "c_acctbal" not in cols
    assert "c_custkey" in cols


def test_pii_mask_regex_golden(spark):
    row = (
        REGISTRY["pii_mask_regex"].fn(spark, SF_SMOKE)
        .filter(F.col("c_custkey") == 1)
        .collect()[0]
    )
    assert not any(ch.isdigit() for ch in row.name_masked)
    assert row.contact_masked == "<EMAIL>"


def test_topk_sorted_and_bounded(spark):
    rows = REGISTRY["topk"].fn(spark, SF_SMOKE).collect()
    assert len(rows) == 100
    prices = [r.l_extendedprice for r in rows]
    assert prices == sorted(prices, reverse=True)


def test_sort_multi_ordering(spark):
    rows = REGISTRY["sort_multi"].fn(spark, SF_SMOKE).limit(50).collect()
    keys = [(r.o_orderpriority, -r.o_totalprice, r.o_orderkey) for r in rows]
    assert keys == sorted(keys)


def test_dedup_exact_identity_when_no_dups(spark):
    # sf0.001 documents are all-distinct -> dedup is the identity
    n_docs = load(spark, SF_SMOKE, "documents").count()
    out = REGISTRY["dedup_exact"].fn(spark, SF_SMOKE)
    assert out.count() == n_docs
    assert out.filter(F.col("n_copies") != 1).count() == 0


def test_dedup_exact_collapses_sf01_duplicates(spark):
    out = REGISTRY["dedup_exact"].fn(spark, "/root/testdata/sf0.1")
    assert out.count() == 4992  # FIXTURES.md: 5000 rows, 4992 distinct texts


def test_sim_cosine_topk_self_is_first(spark):
    rows = REGISTRY["sim_cosine_topk"].fn(spark, SF_SMOKE).collect()
    assert rows[0].vec_id == 0 and rows[0].cos_sim == 1.0
    assert len(rows) == 10


def test_asof_match_is_latest_signup_not_after(spark):
    out = REGISTRY["join_asof"].fn(spark, SF_SMOKE)
    ev = load(spark, SF_SMOKE, "events")
    sig = ev.filter(F.col("event_type") == "signup").collect()
    by_user = {}
    for r in sig:
        by_user.setdefault(r.user_id, []).append((r.ts, r.event_id))
    checked = 0
    for r in out.limit(500).collect():
        cands = [t for t in by_user.get(r.user_id, []) if t[0] <= r.ts]
        if not cands:
            assert r.sig_id is None
        else:
            best_ts = max(t[0] for t in cands)
            best_id = max(i for t, i in cands if t == best_ts)
            assert r.sig_ts == best_ts and r.sig_id == best_id
        checked += 1
    assert checked > 0


def test_sink_parquet_roundtrip_self_consistent(spark):
    out = REGISTRY["sink_parquet_roundtrip"].fn(spark, SF_SMOKE)
    expected = (
        load(spark, SF_SMOKE, "lineitem")
        .filter(F.col("l_quantity") >= 45)
        .count()
    )
    assert out.count() == expected
    # partition pruning: reading one partition returns only that flag
    flags = {r.l_returnflag for r in out.select("l_returnflag").distinct().collect()}
    assert flags <= {"A", "N", "R"}


def test_cli_end_to_end(spark, tmp_path):
    """The reference's product surface: redact a parquet file via the CLI
    entry point and verify every redaction on the output file."""
    from carpet_spark import cli

    out = str(tmp_path / "redacted")
    cli.main(
        [
            f"{SF_SMOKE}/customer.parquet",
            out,
            "--drop", "c_acctbal",
            "--hash", "c_name",
            "--hash-salt", "s",
            "--mask", "c_mktsegment",
            "--mask-pattern", "[AEIOU]",
            "--mask-replacement", "_",
        ]
    )
    back = spark.read.parquet(out)
    src = load(spark, SF_SMOKE, "customer")
    assert "c_acctbal" not in back.columns
    assert back.count() == src.count()
    row = back.filter(F.col("c_custkey") == 1).collect()[0]
    src_row = src.filter(F.col("c_custkey") == 1).collect()[0]
    assert row.c_name == hashlib.sha256(f"s{src_row.c_name}".encode()).hexdigest()
    assert not any(ch in "AEIOU" for ch in row.c_mktsegment)
    # the session's output codec: every column chunk of every file is zstd
    assert _parquet_codecs(out) == {"ZSTD"}


def _parquet_codecs(out_dir):
    """Codec names of every column chunk of every Parquet file under
    out_dir, read from the file footers."""
    import glob

    import pyarrow.parquet as pq

    files = glob.glob(os.path.join(out_dir, "**", "*.parquet"), recursive=True)
    assert files, out_dir
    codecs = set()
    for f in files:
        meta = pq.ParquetFile(f).metadata
        for i in range(meta.num_row_groups):
            rg = meta.row_group(i)
            codecs |= {rg.column(j).compression for j in range(rg.num_columns)}
    return codecs


def test_apply_pii_write_is_zstd_with_snappy_values(spark, tmp_path):
    """The library path: apply_pii on a get_spark session, then a plain
    df.write.parquet, writes zstd; .option("compression", ...) still
    overrides it, and both files hold the same values."""
    from carpet_spark.cli import PIIConfig, apply_pii

    cfg = PIIConfig(drop=["c_acctbal"], hash=["c_name"], hash_salt="s")
    out = apply_pii(load(spark, SF_SMOKE, "customer"), cfg)
    zstd_dir, snappy_dir = str(tmp_path / "zstd"), str(tmp_path / "snappy")
    out.write.parquet(zstd_dir)
    out.write.option("compression", "snappy").parquet(snappy_dir)
    assert _parquet_codecs(zstd_dir) == {"ZSTD"}
    assert _parquet_codecs(snappy_dir) == {"SNAPPY"}
    zstd_rows = spark.read.parquet(zstd_dir).orderBy("c_custkey").collect()
    snappy_rows = spark.read.parquet(snappy_dir).orderBy("c_custkey").collect()
    assert len(zstd_rows) == 150
    assert zstd_rows == snappy_rows


def test_ensure_runtime_confs_keeps_session_codec(spark):
    """The zstd default is a get_spark builder conf, not a runtime conf: a
    session that chose another codec keeps it through ensure_runtime_confs."""
    from carpet_spark.session import ensure_runtime_confs

    key = "spark.sql.parquet.compression.codec"
    assert spark.conf.get(key) == "zstd"
    spark.conf.set(key, "gzip")
    try:
        assert ensure_runtime_confs(spark).conf.get(key) == "gzip"
    finally:
        spark.conf.set(key, "zstd")


def test_apply_pii_overlap_rules(spark):
    """apply_pii on a column named in several lists: nullify beats hash,
    mask applies to the hex digest of hash, drop beats every list, and
    bucket skips a nullified column."""
    from carpet_spark.cli import PIIConfig, apply_pii

    df = spark.createDataFrame(
        [(1, "ann", "a1", 1234.0, 2500.0, "x")],
        "id int, n_h string, h_m string, n_b double, b double, gone string",
    )
    cfg = PIIConfig(
        drop=["gone"],
        nullify=["n_h", "n_b", "gone"],
        hash=["n_h", "h_m", "gone"],
        hash_salt="s",
        mask=["h_m", "gone"],
        mask_pattern="[0-9]",
        mask_replacement="#",
        bucket=["n_b", "b", "gone"],
        bucket_width=1000.0,
    )
    out = apply_pii(df, cfg)
    assert out.columns == ["id", "n_h", "h_m", "n_b", "b"]
    row = out.collect()[0]
    assert row.n_h is None
    digest = hashlib.sha256(b"sa1").hexdigest()
    assert row.h_m == "".join("#" if ch.isdigit() else ch for ch in digest)
    assert row.n_b is None
    assert out.schema["n_b"].dataType.simpleString() == "double"
    assert row.b == 2


def test_cli_partition_by_layout(spark, tmp_path):
    """--partition-by writes one COL=value directory per distinct value,
    with the partition column in the path and not in the files."""
    import glob

    import pyarrow.parquet as pq

    from carpet_spark import cli

    out = str(tmp_path / "by_segment")
    cli.main(
        [f"{SF_SMOKE}/customer.parquet", out, "--partition-by", "c_mktsegment"]
    )
    src = load(spark, SF_SMOKE, "customer")
    segments = {r.c_mktsegment for r in src.select("c_mktsegment").distinct().collect()}
    dirs = {d for d in os.listdir(out) if not d.startswith(("_", "."))}
    assert dirs == {f"c_mktsegment={s}" for s in segments}
    for f in glob.glob(os.path.join(out, "*", "*.parquet")):
        assert "c_mktsegment" not in pq.read_schema(f).names
    back = spark.read.parquet(out)
    assert back.count() == src.count()
    assert _parquet_codecs(out) == {"ZSTD"}


def test_cli_query_subcommand(spark, tmp_path, capsys):
    """`carpet-spark query OP` runs any registered operator; --output writes
    parquet readable back with the op's schema."""
    from carpet_spark import cli

    out = str(tmp_path / "q_out")
    cli.main(["query", "scan_parquet", "--sf-dir", SF_SMOKE, "--output", out])
    capsys.readouterr()
    back = spark.read.parquet(out)
    assert back.count() == 25
    assert "n_nationkey" in back.columns


def test_jsonl_shards_bounded(spark, sf_dir):
    """maxRecordsPerFile=100 must actually bound every shard."""
    import glob
    import os

    from carpet_spark.ops.scans import _sink_path

    REGISTRY["sink_jsonl_sharded"].fn(spark, sf_dir).count()
    out = _sink_path(spark, "sink_jsonl_sharded")
    shards = glob.glob(os.path.join(out, "part-*"))
    assert shards
    for s in shards:
        with open(s) as f:
            assert sum(1 for _ in f) <= 100, s


def test_compaction_collapses_file_count(spark, sf_dir):
    import glob
    import os

    from carpet_spark.ops.scans import _sink_path

    REGISTRY["sink_compact_small_files"].fn(spark, sf_dir).count()
    debris = glob.glob(os.path.join(_sink_path(spark, "compact_debris"), "part-*"))
    out = glob.glob(os.path.join(_sink_path(spark, "compact_out"), "part-*"))
    assert len(debris) == 64
    assert len(out) == 1


def test_scan_avro_from_any_working_directory(tmp_path):
    """Python workers import carpet_spark even when the driver runs outside
    the repo with no PYTHONPATH: get_spark points the workers' path at the
    package."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from carpet_spark.registry import REGISTRY\n"
        "from carpet_spark.session import get_spark\n"
        "spark = get_spark('cwd_check', cpus=1)\n"
        f"print(len(REGISTRY['scan_avro'].fn(spark, {SF_SMOKE!r}).toPandas()))\n"
        "spark.stop()\n"
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert int(r.stdout.split()[-1]) > 0


def test_sink_ops_leave_no_temp_dirs(tmp_path):
    """Sink, fixture, stream-staging and checkpoint dirs live under
    per-process roots that are removed at interpreter exit: a process that
    ran sink and streaming ops leaves its TMPDIR and SPARK_GRAFT_CKPT_DIR
    as it found them."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    code = (
        "import sys\n"
        f"sys.path.insert(0, {repo!r})\n"
        "from carpet_spark.registry import REGISTRY\n"
        "from carpet_spark.session import get_spark\n"
        "spark = get_spark('sink_cleanup', cpus=1)\n"
        "for op in ('sink_parquet_roundtrip', 'sink_avro_roundtrip',\n"
        "           'stream_dedup_watermark'):\n"
        f"    print(REGISTRY[op].fn(spark, {SF_SMOKE!r}).count())\n"
        "spark.stop()\n"
    )
    env = dict(os.environ, TMPDIR=str(tmp), SPARK_GRAFT_CKPT_DIR=str(tmp),
               SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert all(int(n) > 0 for n in r.stdout.split()[-3:])
    assert os.listdir(tmp) == []
