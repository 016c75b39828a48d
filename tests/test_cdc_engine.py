"""Replay-to-convergence: the engine's final state equals the independent
DuckDB oracle (final-state equality + per-row sha256 + LWW order), under
batching, duplicate delivery, and re-application (idempotence)."""

from __future__ import annotations

import duckdb
import pytest

from arlas_proc_spark.cdc.engine import CdcEngine, lww_resolve
from arlas_proc_spark.sources.changefeed import changefeed_df, final_state_sql

N = 3000


def _oracle(n):
    df = duckdb.sql(final_state_sql(n, dialect="duckdb")).fetchdf()
    return {
        (r.repo, r.path): (r.commit, int(r.seq), r.lang, r.content, r.content_sha256)
        for r in df.itertuples()
    }


def _engine_state(engine):
    return {
        (r.repo, r.path): (r.commit, r.seq, r.lang, r.content, r.content_sha256)
        for r in engine.state().collect()
    }


def test_single_replay_converges(spark, tmp_path):
    engine = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    feed = changefeed_df(spark, N)
    engine.replay(feed)
    assert _engine_state(engine) == _oracle(N)


def test_batched_replay_converges_same(spark, tmp_path):
    """Apply the log in 5 ordered micro-batches → identical final state."""
    engine = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    feed = changefeed_df(spark, N)
    sz = N // 5
    for b in range(5):
        part = feed.where((feed.seq >= b * sz) & (feed.seq < (b + 1) * sz))
        engine.apply_batch(part, b)
    assert _engine_state(engine) == _oracle(N)


def test_out_of_order_batches_converge(spark, tmp_path):
    """Batches applied out of arrival order still converge (LWW by seq,
    not arrival)."""
    engine = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    feed = changefeed_df(spark, N)
    sz = N // 5
    for b in [2, 0, 4, 1, 3]:
        part = feed.where((feed.seq >= b * sz) & (feed.seq < (b + 1) * sz))
        engine.apply_batch(part, b)
    assert _engine_state(engine) == _oracle(N)


def test_reapplied_batch_is_idempotent(spark, tmp_path):
    engine = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    feed = changefeed_df(spark, N)
    engine.apply_batch(feed.where("seq < 1500"), 0)
    engine.apply_batch(feed.where("seq >= 1500"), 1)
    state1 = _engine_state(engine)
    # redeliver both batches (restart-after-crash scenario)
    engine.apply_batch(feed.where("seq < 1500"), 0)
    engine.apply_batch(feed.where("seq >= 1500"), 1)
    assert _engine_state(engine) == state1 == _oracle(N)


def test_parallelism_invariance(spark, tmp_path):
    """Same result regardless of partitioning (reference analog:
    HmmProcessorTest order/chunking invariance :90-120)."""
    e1 = CdcEngine(spark, str(tmp_path / "t1"), n_buckets=4)
    e2 = CdcEngine(spark, str(tmp_path / "t2"), n_buckets=16)
    feed = changefeed_df(spark, N)
    e1.replay(feed.repartition(1))
    e2.replay(feed.repartition(13))
    assert _engine_state(e1) == _engine_state(e2) == _oracle(N)


def test_lineage_metrics_recorded(spark, tmp_path):
    engine = CdcEngine(spark, str(tmp_path / "t"))
    feed = changefeed_df(spark, 500)
    engine.apply_batch(feed, 0)
    lin = engine.lineage()
    assert len(lin) == 1
    m = lin[0]
    assert m["batch_id"] == "0"
    assert m["rows_upserted"] > 0 and m["buckets_touched"] > 0 and m["wall_s"] >= 0


def test_lww_resolve_matches_oracle(spark):
    got = lww_resolve(changefeed_df(spark, N)).select(
        "repo", "path", "commit", "seq").collect()
    oracle = _oracle(N)
    assert {(r.repo, r.path): (r.commit, r.seq) for r in got} == \
        {k: (v[0], v[1]) for k, v in oracle.items()}


def test_arrow_hash_matches_oracle(spark, tmp_path):
    engine = CdcEngine(spark, str(tmp_path / "t"))
    engine.replay(changefeed_df(spark, 300))
    assert _engine_state(engine) == _oracle(300)


def test_extreme_skew_converges(spark, tmp_path):
    """hot_pct=90: nine of ten events hit one repo. Key-hash bucketing must
    still spread the load and converge to the oracle."""
    import duckdb

    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import changefeed_df, final_state_sql

    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    eng.replay(changefeed_df(spark, 3000, hot_pct=90))
    got = {(r.repo, r.path): (r.seq, r.content_sha256)
           for r in eng.state().collect()}
    exp = duckdb.sql(final_state_sql(3000, hot_pct=90)).fetchdf()
    want = {(r.repo, r.path): (int(r.seq), r.content_sha256)
            for r in exp.itertuples()}
    assert got == want
    # bucket spread: the hot repo's files land in >1 bucket
    snap = eng.table.snapshot()
    assert len([b for b, fs in snap["buckets"].items() if fs]) > 1


def test_null_key_events_fail_fast(spark, tmp_path):
    """Events with a null key column must raise, not silently merge into a
    null-key row (WAL contract: key columns are NOT NULL)."""
    import pytest
    from pyspark.sql import functions as F

    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import changefeed_df

    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    bad = changefeed_df(spark, 50, with_dups=False).withColumn(
        "repo", F.when(F.col("seq") == 7, F.lit(None)).otherwise(F.col("repo")))
    with pytest.raises(Exception, match="[Nn]ull|NOT NULL"):
        eng.apply_batch(bad, 0)


def test_giant_batch_agg_fallback_converges(spark, tmp_path):
    """Batches whose winner set exceeds broadcast_key_limit join their
    winners back unhinted (the planner and AQE pick the join) —
    identical convergence either way."""
    engine = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8,
                       broadcast_key_limit=1)
    feed = changefeed_df(spark, N)
    sz = N // 3
    for b in range(3):
        part = feed.where((feed.seq >= b * sz) & (feed.seq < (b + 1) * sz))
        engine.apply_batch(part, b)
    assert _engine_state(engine) == _oracle(N)


def test_empty_batches_advance_ledger_watermark(spark, tmp_path):
    """Empty micro-batches (every availableNow drain ends with one) must
    be ledgered: the contiguous-prefix watermark advances past them and
    `pending` stays empty instead of growing per drain."""
    engine = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    feed = changefeed_df(spark, 200)
    engine.apply_batch(feed, 0)
    empty = feed.where("seq < 0")
    engine.apply_batch(empty, 1)
    engine.apply_batch(feed.withColumn("seq", feed.seq + 200), 2)
    engine.apply_batch(empty, 3)
    led = engine.table.snapshot()["ledger"]
    st = led["scopes"]["default"]
    assert st["watermark"] == 3
    assert st["pending"] == []
    # re-delivered empty batch is a ledgered no-op
    v = engine.table.snapshot()["version"]
    assert engine.apply_batch(empty, 3).get("skipped")
    assert engine.table.snapshot()["version"] == v


def test_concurrent_commit_retried(spark, tmp_path, monkeypatch):
    """A ConcurrentCommitError mid-merge (competing writer advanced
    CURRENT) is retried against the fresh snapshot and converges."""
    from arlas_proc_spark.lake.table import ConcurrentCommitError, LakeTable

    engine = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    feed = changefeed_df(spark, 300)
    # fail at the CAS itself (where a real competing writer surfaces) so
    # the test exercises whichever retry machinery the engine delegates
    # to — since the retries moved inside merge_batch, a mock at the
    # merge_batch surface would bypass them entirely
    real = LakeTable._commit_snapshot
    calls = {"n": 0}

    def flaky(self, snap, expected_version):
        calls["n"] += 1
        if calls["n"] == 1:
            raise ConcurrentCommitError("simulated competing writer")
        return real(self, snap, expected_version)

    monkeypatch.setattr(LakeTable, "_commit_snapshot", flaky)
    engine.apply_batch(feed, 0)
    assert calls["n"] == 2
    assert _engine_state(engine) == _oracle(300)


def test_mor_mode_converges_and_compacts(spark, tmp_path):
    """Merge-on-read: append-mode ingest (O(batch) writes, no
    read-modify-write) converges to the same oracle state as
    copy-on-write; compaction folds the generations and preserves it."""
    feed = changefeed_df(spark, N)
    sz = N // 5
    mor = CdcEngine(spark, str(tmp_path / "mor"), n_buckets=8,
                    write_mode="mor")
    for b in [2, 0, 4, 1, 3]:  # out-of-order arrival
        part = feed.where((feed.seq >= b * sz) & (feed.seq < (b + 1) * sz))
        mor.apply_batch(part, b)
    assert _engine_state(mor) == _oracle(N)
    # multi-generation buckets exist pre-compaction
    snap = mor.table.snapshot()
    assert snap["mor_buckets"]
    assert any(len(fs) > 1 for fs in snap["buckets"].values())
    # re-applied batch is an exactly-once no-op (would double-append)
    m = mor.apply_batch(feed.where("seq < 600"), 0)
    assert m.get("skipped")
    assert _engine_state(mor) == _oracle(N)
    # compaction folds generations; state unchanged, readers stop resolving
    mor.table.compact(max_files_per_bucket=1)
    snap2 = mor.table.snapshot()
    assert snap2["mor_buckets"] == []
    assert all(len(fs) <= 1 for fs in snap2["buckets"].values())
    assert _engine_state(mor) == _oracle(N)


def test_mor_schema_evolution(spark, tmp_path):
    """Append-mode batches can widen the schema mid-stream; pre-evolution
    winners read the new column as null."""
    from pyspark.sql import functions as F
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4,
                    write_mode="mor")
    feed = changefeed_df(spark, 400, with_dups=False)
    eng.apply_batch(feed.where("seq < 200"), 0)
    eng.apply_batch(
        feed.where("seq >= 200")
            .withColumn("size", F.length("content").cast("long")), 1)
    rows = {(r.repo, r.path): r for r in eng.state().collect()}
    exp = _oracle(400)
    assert {k: (r.commit, r.seq, r.lang, r.content, r.content_sha256)
            for k, r in rows.items()} == exp
    assert any(r.size is not None for r in rows.values() if r.seq >= 200)
    assert all(r.size is None for r in rows.values() if r.seq < 200)


def test_mor_streaming_converges(spark, tmp_path):
    """The streaming tail works identically in append mode."""
    from arlas_proc_spark.sources.changefeed import write_changefeed_batches
    from arlas_proc_spark.streaming.ingest import StreamingIngest
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, 1000, n_batches=3)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                          write_mode="mor")
    ing.run_to_completion(wal, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    got = {(r.repo, r.path): (r.seq, r.content_sha256)
           for r in ing.state().collect()}
    import duckdb
    from arlas_proc_spark.sources.changefeed import final_state_sql
    exp = duckdb.sql(final_state_sql(1000, dialect="duckdb")).fetchdf()
    assert got == {(r.repo, r.path): (int(r.seq), r.content_sha256)
                   for r in exp.itertuples()}


def test_quarantine_routes_null_keys(spark, tmp_path):
    """With quarantine_dir set, null-key events land in the side store
    (with reason + batch partition) instead of failing the batch; the
    count is lineage-visible; redelivery is idempotent."""
    from pyspark.sql import functions as F

    from arlas_proc_spark.cdc.engine import CdcEngine
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4,
                    quarantine_dir=str(tmp_path / "q"))
    rows = [
        (1, "insert", "r1", "a.py", "c1", 10, "py", "v1"),
        (2, "insert", None, "b.py", "c2", 11, "py", "bad-repo"),
        (3, "insert", "r1", None, "c3", 12, "py", "bad-path"),
    ]
    batch = spark.createDataFrame(
        rows, "seq long, op string, repo string, path string, commit string,"
              " ts_s long, lang string, content string")
    m = eng.apply_batch(batch, 0)
    assert m["rows_quarantined"] == 2
    assert eng.state().count() == 1
    q = eng.quarantine()
    assert q.count() == 2
    assert set(q.select("_reason").distinct().toPandas()["_reason"]) == \
        {"null_key"}
    assert set(q.select("batch_id").distinct().toPandas()["batch_id"]) == {0}
    # lineage-visible
    assert any(e.get("rows_quarantined") == 2 for e in eng.lineage())
    # redelivery: ledger skips, quarantine overwrite stays single-copy
    m2 = eng.apply_batch(batch, 0)
    assert m2.get("skipped")
    assert eng.quarantine().count() == 2
    # all-null-key batch commits empty but still quarantines + ledgers
    allbad = batch.where(F.col("repo").isNull())
    m3 = eng.apply_batch(allbad, 1)
    assert m3.get("empty") and m3.get("rows_quarantined") == 1
    assert eng.quarantine().count() == 3


def test_no_quarantine_still_fails_loudly(spark, tmp_path):
    """Default (strict) mode unchanged: a null key aborts the batch."""
    import pytest as _pytest

    from arlas_proc_spark.cdc.engine import CdcEngine
    eng = CdcEngine(spark, str(tmp_path / "t2"), n_buckets=4)
    bad = spark.createDataFrame(
        [(1, "insert", None, "b.py", "c2", 11, "py", "x")],
        "seq long, op string, repo string, path string, commit string,"
        " ts_s long, lang string, content string")
    with _pytest.raises(Exception, match="null key column"):
        eng.apply_batch(bad, 0)


def test_session_disables_call_site_capture(spark):
    """build_session turns off PySpark's per-Column call-site capture
    (a stack walk plus a py4j round trip per Column built)."""
    from pyspark.errors.utils import is_debugging_enabled
    assert spark.conf.get(
        "spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert not is_debugging_enabled()


def test_null_key_errors_survive_without_call_site_capture(spark, tmp_path):
    """With call-site capture off, a null key still fails with its own
    message on every path: the engine's driver-side flag
    (CdcEngine.apply_batch), the executor-side raise_error guard that
    LakeTable.merge_batch and append_batch share, and a StreamingIngest
    drain."""
    from pyspark.sql import functions as F

    from arlas_proc_spark.lake.table import LakeTable
    from arlas_proc_spark.streaming.ingest import StreamingIngest
    bad = changefeed_df(spark, 50, with_dups=False).withColumn(
        "repo", F.when(F.col("seq") == 7, F.lit(None))
        .otherwise(F.col("repo")))
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4)
    with pytest.raises(ValueError, match="null key column in change feed"):
        eng.apply_batch(bad, 0)

    t = LakeTable(spark, str(tmp_path / "t"))
    with pytest.raises(Exception,
                       match="null key column 'repo' in merge batch"):
        t.merge_batch(bad, 1)
    with pytest.raises(Exception,
                       match="null key column 'repo' in merge batch"):
        t.append_batch(bad, 2)
    assert not t.committed_batch_ids()
    assert t.read().where("repo IS NULL").count() == 0

    wal = str(tmp_path / "wal")
    bad.coalesce(1).write.parquet(f"{wal}/batch_00000")
    ing = StreamingIngest(spark, str(tmp_path / "s"), n_buckets=4)
    with pytest.raises(Exception, match="null key column"):
        ing.run_to_completion(wal, str(tmp_path / "ckpt"))


def test_two_engines_interleaved_converge(spark, tmp_path):
    """Two engine instances (independent ledger scopes — e.g. two
    redeployed streams) interleave batches into ONE table; the final
    state equals a single-engine replay of the combined feed."""
    from arlas_proc_spark.cdc.engine import CdcEngine, lww_resolve, prepare_events
    from arlas_proc_spark.sources.changefeed import changefeed_df

    path = str(tmp_path / "t")
    a = CdcEngine(spark, path, n_buckets=4, ledger_scope="streamA")
    b = CdcEngine(spark, path, n_buckets=4, ledger_scope="streamB")
    feed = changefeed_df(spark, 4000)
    slices = [feed.where((feed.seq >= i * 1000) & (feed.seq < (i + 1) * 1000))
              for i in range(4)]
    a.apply_batch(slices[0], 0)
    b.apply_batch(slices[2], 0)
    a.apply_batch(slices[1], 1)
    b.apply_batch(slices[3], 1)
    # replayed ids are scope-local no-ops
    assert a.apply_batch(slices[0], 0).get("skipped")
    assert b.apply_batch(slices[2], 0).get("skipped")
    got = a.state()
    expect = prepare_events(lww_resolve(changefeed_df(spark, 4000)))
    cols = sorted(got.columns)
    assert got.select(*cols).exceptAll(expect.select(*cols)).count() == 0
    assert expect.select(*cols).exceptAll(got.select(*cols)).count() == 0


def test_mor_empty_batch_commits_empty_nonempty_never(spark, tmp_path):
    """Regression (r2 VERDICT wrong #1): mor-mode `touched` is None, so
    emptiness must be decided by n_keys alone — an empty mor batch
    commits a data-free ledger entry, a non-empty one never does."""
    engine = CdcEngine(spark, str(tmp_path / "t"), n_buckets=4,
                       write_mode="mor")
    feed = changefeed_df(spark, 200)
    res0 = engine.apply_batch(feed, 0)
    assert not res0.get("empty") and not res0.get("skipped")
    assert engine.state().count() > 0
    res1 = engine.apply_batch(feed.where("seq < 0"), 1)
    assert res1.get("empty")
    led = engine.table.snapshot()["ledger"]["scopes"]["default"]
    assert led["watermark"] == 1 and led["pending"] == []


def test_mor_engine_refuses_changefeed(spark, tmp_path):
    """mor commits emit no change rows — combining write_mode='mor' with
    a changefeed table must fail at construction, not diverge silently."""
    with pytest.raises(ValueError, match="changefeed"):
        CdcEngine(spark, str(tmp_path / "t"), n_buckets=4,
                  write_mode="mor", changefeed=True)
    # existing changefeed table + a second engine opened in mor mode
    CdcEngine(spark, str(tmp_path / "t2"), n_buckets=4, changefeed=True)
    with pytest.raises(ValueError, match="changefeed"):
        CdcEngine(spark, str(tmp_path / "t2"), n_buckets=4,
                  write_mode="mor")


def test_cow_engine_over_metadata_less_tableio(spark, tmp_path):
    """The TableIO seam with a backend whose snapshot() carries no
    key_cols/n_buckets (e.g. IcebergTableIO: identifier + properties
    only): cow-mode apply_batch must take bucket metadata from the
    backend object's own attributes — or skip discovery when the backend
    exposes neither — instead of KeyError-ing before any merge."""
    from arlas_proc_spark.lake.io import TableIO

    class RecordingIO(TableIO):
        # like IcebergTableIO: metadata as attributes, not in snapshot()
        key_cols = ["repo", "path"]
        n_buckets = 4

        def __init__(self):
            self.merged = []

        def merge_batch(self, batch, batch_id, **kw):
            self.merged.append((str(batch_id), batch.count(),
                                kw.get("touched_buckets")))
            return {"batch_id": str(batch_id)}

        def append_batch(self, batch, batch_id, **kw):
            raise AssertionError("cow engine must not append")

        def commit_empty_batch(self, batch_id, scope="default",
                               extra_metrics=None):
            return {"batch_id": str(batch_id), "empty": True}

        def read(self, buckets=None, *a, **kw):
            raise AssertionError("engine reads state via merge only")

        def compact(self, **kw):
            return {}

        def lineage(self):
            return []

        def snapshot(self):
            return {"identifier": "cat.db.t", "properties": {}}

    io = RecordingIO()
    engine = CdcEngine(spark, str(tmp_path / "unused"), table_io=io)
    feed = changefeed_df(spark, 200)
    engine.apply_batch(feed, 0)
    assert len(io.merged) == 1
    bid, nrows, touched = io.merged[0]
    assert bid == "0" and nrows > 0
    assert touched is not None and set(touched) <= set(range(4))
    # empty batch still ledgered through the seam
    assert engine.apply_batch(feed.where("seq < 0"), 1).get("empty")

    class BareIO(RecordingIO):
        # no bucket metadata anywhere -> discovery skipped entirely
        key_cols = None
        n_buckets = None

    bare = BareIO()
    engine2 = CdcEngine(spark, str(tmp_path / "unused2"), table_io=bare)
    engine2.apply_batch(feed, 0)
    assert bare.merged[0][2] is None


def test_mor_changefeed_refusal_leaves_no_table_behind(spark, tmp_path):
    """A refused mor+changefeed combination on a FRESH path must not
    create the table first: the user's retry with the corrected flags
    must start from a clean slate, not open a leftover changefeed table
    and refuse again."""
    from arlas_proc_spark.lake.table import LakeTable
    path = str(tmp_path / "t")
    with pytest.raises(ValueError, match="changefeed"):
        CdcEngine(spark, path, n_buckets=4, write_mode="mor",
                  changefeed=True)
    assert not LakeTable.exists(spark, path)
    # the corrected retry works
    eng = CdcEngine(spark, path, n_buckets=4, write_mode="mor")
    assert not eng.table.snapshot().get("changefeed")
