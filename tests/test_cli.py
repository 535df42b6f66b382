"""End-to-end CLI test: generate → ingest → validate, publish → consume → dq."""

from __future__ import annotations

import json
import os


def _run(capsys, argv):
    from etl_school_spark.__main__ import main

    assert main(argv) == 0
    out = capsys.readouterr().out.strip().splitlines()[-1]
    return json.loads(out)


def test_cli_batch_path(spark, tmp_path, capsys):
    stage = str(tmp_path / "stage")
    table = str(tmp_path / "orders")
    r = _run(capsys, ["generate", "--n", "200", "--out", stage])
    assert r["generated"] == 200
    r = _run(capsys, ["ingest", "--stage", stage, "--table-dir", table])
    assert r["ingested"] == 200 and r["corrupt"] == 0
    r = _run(capsys, ["validate", "--table-dir", table, "--group-by", "car_model"])
    assert r["rows"] == 200
    assert sum(r["top_groups"].values()) <= 200 and len(r["top_groups"]) <= 10


def test_cli_streaming_path(spark, tmp_path, capsys):
    broker = str(tmp_path / "broker")
    sink = str(tmp_path / "cc")
    r = _run(capsys, ["publish", "--broker", broker, "--topic", "cc", "--n", "60"])
    assert r["published"] == 60
    r = _run(capsys, ["consume", "--broker", broker, "--topic", "cc", "--group", "g1", "--sink", sink])
    assert r["delivered_by_group"] == {"g1": 60}
    r = _run(capsys, ["dq", "--table-dir", sink])
    assert r["metrics"]["non_null_txn_id"] == 1.0
    assert "approved_rate" in r["metrics"]


def test_cli_group_rollup_compact_explain(spark, tmp_path, capsys):
    broker = str(tmp_path / "broker")
    sink = str(tmp_path / "cc")
    _run(capsys, ["publish", "--broker", broker, "--topic", "cc", "--n", "40"])
    r = _run(capsys, ["consume-group", "--broker", broker, "--topic", "cc",
                      "--group", "g", "--consumers", "2", "--sink", sink])
    assert sum(r["claims"].values()) == 40

    r = _run(capsys, ["compact", "--table-dir", sink])
    assert r["files_after"] <= r["files_before"]

    from etl_school_spark.__main__ import main
    assert main(["explain", "--query", "orders_per_priority"]) == 0
    out = capsys.readouterr().out
    assert "Physical Plan" in out
    assert main(["explain", "--query", "nope"]) == 1


def test_cli_corpus_build(spark, tmp_path, capsys):
    out = str(tmp_path / "shards")
    r = _run(capsys, ["corpus-build", "--sf-dir", "/root/testdata/sf0.01",
                      "--out", out, "--shards", "4", "--capacity", "256"])
    assert 0 < r["kept_docs"] < r["input_docs"]
    assert r["tokens"] > 0
    # genuinely per-shard: the largest shard's window count, bounded below
    # by the ideal even split of total tokens across shards
    assert r["max_windows_per_shard"] >= r["tokens"] // (4 * 256) // 4
    back = spark.read.parquet(out)
    assert back.count() == r["kept_docs"]
    assert {row.shard for row in back.select("shard").distinct().collect()} <= set(range(4))


def test_cli_corpus_stream(spark, tmp_path, capsys):
    src = str(tmp_path / "src")
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    from etl_school_spark.tables import load_table

    load_table(spark, "/root/testdata/sf0.001", "documents").write.parquet(src)
    r = _run(capsys, ["corpus-stream", "--source", src, "--out", out,
                      "--checkpoint", ck, "--shards", "4"])
    assert r["kept_docs"] > 0 and r["tokens"] > 0
    back = spark.read.parquet(out)
    assert back.count() == r["kept_docs"]
    assert {row.shard for row in back.select("shard").distinct().collect()} <= set(range(4))


def test_sweep_first_positional_query_name_is_a_filter(capsys):
    """r12 ADVICE: ``sweep_sf1.py dedup_simhash`` (no sf_dir) must treat
    the query name as a filter, not consume it as the scale directory —
    the old parse made the unknown-query guard unreachable for exactly
    the targeted-gate invocation it was built for. Proven via the guard:
    a known query name plus a typo'd one errors on the TYPO (so the
    known name was routed to the filter set), and a bare non-query
    non-directory errors instead of sweeping everything."""
    import sys

    sys.path.insert(0, "/root/repo")
    from tools.sweep_sf1 import main as sweep_main

    old = sys.argv
    try:
        sys.argv = ["sweep_sf1.py", "dedup_simhash", "bogus_query_xyz"]
        assert sweep_main() == 2
        err = capsys.readouterr().err
        assert "bogus_query_xyz" in err and "dedup_simhash" not in err

        sys.argv = ["sweep_sf1.py", "not_a_query_or_dir"]
        assert sweep_main() == 2
        assert "not_a_query_or_dir" in capsys.readouterr().err
    finally:
        sys.argv = old


def test_bench_prints_one_json_line_with_the_contract_keys():
    """bench.py's contract: exactly one JSON line on stdout carrying the
    headline total, the per-query timings and the cold lane — nothing
    else (no host-drift fields)."""
    import subprocess
    import sys

    import bench
    from tests.conftest import SF_SMOKE

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        SPARK_GRAFT_BENCH_SET="relational",
        SPARK_GRAFT_BENCH_COLD="1",
    )
    proc = subprocess.run(
        [sys.executable, os.path.join(repo, "bench.py")],
        env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    assert len(lines) == 1, lines
    out = json.loads(lines[0])
    assert set(out) == {
        "metric", "value", "unit", "queries", "warm_iters",
        "cold_value", "cold_queries", "sf",
    }
    assert set(out["queries"]) == set(bench.RELATIONAL)
    assert out["queries"] == out["cold_queries"] and out["warm_iters"] == 0
    assert abs(out["value"] - sum(out["queries"].values())) < 1e-3
    assert out["unit"] == "sec" and out["sf"] == 0.001
