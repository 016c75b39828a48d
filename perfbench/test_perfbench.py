"""Self-tests of the benchmark.

    python3 -m pytest perfbench/test_perfbench.py -q -p no:cacheprovider

Run from the root of the repository. A tiny-size smoke run of every
workload goes through the real entry point; the gate tests show the
oracle rejecting a table with one flipped content hash and a table that
lost one tombstone.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import duckdb
import pytest

# DuckDB connects before pyspark loads its native stack (a DuckDB created
# afterwards can fail to spawn worker threads)
DUCK = duckdb.connect()
DUCK.execute("select 1").fetchall()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

from oracle import check_table  # noqa: E402
from spans import self_times  # noqa: E402

from run import tail  # noqa: E402
from workloads import Result, fail  # noqa: E402


@pytest.mark.parametrize("workload",
                         ["replay", "upsert", "stream", "index_refresh"])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke(workload, trace):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", "3", "--seconds", "1", "--trace", str(trace),
         "--scale", "tiny"], cwd=ROOT, capture_output=True, text=True,
        timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True
    assert out["attempted"] >= 1 and out["failed"] == 0
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    want = spec["per_layer"] if trace else spec["end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in want}
    for m in want:
        assert out["metrics"][m["name"]]["unit"] == m["unit"]
        if not trace:
            assert out["metrics"][m["name"]]["value"] > 0


def test_refuses_outside_checkout(tmp_path):
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         "replay", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert p.returncode != 0 and p.stdout == ""


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    from arlas_proc_spark.config import build_session
    s = build_session(app_name="perfbench-selftest", master="local[2]",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


@pytest.fixture(scope="module")
def replayed(spark, tmp_path_factory):
    """A small WAL and the table replayed from it."""
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import changefeed_df
    d = tmp_path_factory.mktemp("gate")
    wal = str(d / "wal")
    changefeed_df(spark, 5_000, files_per_repo=20).write.parquet(wal)
    eng = CdcEngine(spark, str(d / "t"))
    eng.replay(spark.read.parquet(wal))
    return d, wal, eng


def test_gate_accepts_correct_table(replayed):
    _, wal, eng = replayed
    assert check_table(DUCK, eng.state(), [wal])["ok"]


def test_gate_rejects_flipped_content_sha(replayed):
    from pyspark.sql import functions as F
    _, wal, eng = replayed
    state = eng.state()
    victim = state.orderBy("repo", "path").first()
    hit = (F.col("repo") == victim["repo"]) & (F.col("path") == victim["path"])
    sha = victim["content_sha256"]
    bad = ("1" if sha[0] == "0" else "0") + sha[1:]
    flipped = state.withColumn(
        "content_sha256",
        F.when(hit, F.lit(bad)).otherwise(F.col("content_sha256")))
    assert flipped.where(hit).first()["content_sha256"] != \
        victim["content_sha256"]
    assert not check_table(DUCK, flipped, [wal])["ok"]


def test_gate_rejects_resurrected_key(spark, replayed):
    """A table replayed from the WAL minus one winning delete holds a key
    the full WAL deletes: the gate against the full WAL must fail."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from arlas_proc_spark.cdc.engine import CdcEngine
    d, wal, _ = replayed
    feed = spark.read.parquet(wal)
    w = Window.partitionBy("repo", "path").orderBy(F.desc("seq"),
                                                   F.desc("commit"))
    ranked = feed.withColumn("_rn", F.row_number().over(w))
    # a deleted key that had an earlier insert, so dropping its
    # tombstone brings the older row back
    deleted = ranked.where((F.col("_rn") == 1) & (F.col("op") == "delete"))
    older = ranked.where((F.col("_rn") > 1) & (F.col("op") != "delete")) \
        .select("repo", "path").distinct()
    victim = deleted.join(older, ["repo", "path"]).orderBy("seq").first()
    assert victim is not None
    lost = feed.where(~((F.col("repo") == victim["repo"])
                        & (F.col("path") == victim["path"])
                        & (F.col("seq") == victim["seq"])))
    eng = CdcEngine(spark, str(d / "lost_tombstone"))
    eng.replay(lost)
    assert eng.state().where((F.col("repo") == victim["repo"])
                             & (F.col("path") == victim["path"])).count() == 1
    assert not check_table(DUCK, eng.state(), [wal])["ok"]


def test_tail_needs_ten_beyond():
    assert tail([1.0] * 19) is None
    pct, value, n = tail([float(i) for i in range(1, 21)])
    assert (n, value) == (20, 10.0)
    assert sum(1 for i in range(1, 21) if i > value) == 10
    assert pct == 50.0


def test_self_time_subtracts_children():
    spans = [
        {"id": 1, "parent": None, "start": 0.0, "end": 10.0},
        {"id": 2, "parent": 1, "start": 1.0, "end": 4.0},
        {"id": 3, "parent": 1, "start": 3.0, "end": 5.0},  # overlaps 2
        {"id": 4, "parent": 2, "start": 1.5, "end": 2.0},
    ]
    got = self_times(spans)
    assert got[1] == pytest.approx(6.0)
    assert got[2] == pytest.approx(2.5)
    assert got[3] == pytest.approx(2.0)


def test_failed_op_counts_once():
    res = Result()
    res.ops = [{"weight": 3}, {"weight": 1}, {"weight": 2}]
    fail(res.ops[:1], "oracle")
    fail(res.ops[:2], "spark_task")
    assert (res.attempted, res.failed) == (6, 4)
    assert [o.get("fail") for o in res.ops] == ["oracle", "spark_task", None]
