"""Streaming ingest: WAL tail → convergent state; kill/resume from
checkpoint; stream-side dedup."""

from __future__ import annotations

import duckdb

from arlas_proc_spark.sources.changefeed import (
    changefeed_df,
    final_state_sql,
    write_changefeed_batches,
)
from arlas_proc_spark.streaming.ingest import StreamingIngest

N = 2000


def _oracle(n):
    df = duckdb.sql(final_state_sql(n, dialect="duckdb")).fetchdf()
    return {(r.repo, r.path): (int(r.seq), r.content_sha256) for r in df.itertuples()}


def _state(ing):
    return {(r.repo, r.path): (r.seq, r.content_sha256)
            for r in ing.state().collect()}


def test_stream_replay_converges(spark, tmp_path):
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, N, n_batches=4)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8)
    ing.run_to_completion(wal, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert _state(ing) == _oracle(N)
    # lineage recorded one entry per micro-batch
    assert len(ing.engine.lineage()) >= 4


def test_stream_kill_and_resume(spark, tmp_path):
    """Process half the WAL, 'crash', resume from checkpoint → converges,
    and already-committed batches are skipped (exactly-once)."""
    wal = str(tmp_path / "wal")
    ckpt = str(tmp_path / "ckpt")
    write_changefeed_batches(spark, wal, N, n_batches=6)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8)
    # first run: stop after ~half the files
    q = ing.start(wal, ckpt, max_files_per_trigger=1, available_now=True)
    import time
    while q.isActive and len(ing.engine.table.snapshot()["ledger"]["recent"]) < 3:
        time.sleep(0.3)
    q.stop()
    q.awaitTermination(60)
    committed_first = set(ing.engine.table.committed_batch_ids())
    assert committed_first  # made some progress

    # resume: a fresh ingest over the same checkpoint + table
    ing2 = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8)
    ing2.run_to_completion(wal, ckpt, max_files_per_trigger=1)
    assert _state(ing2) == _oracle(N)


def test_stream_dedup_drops_redelivered_rows(spark, tmp_path):
    """The feed carries duplicate rows (at-least-once); streaming dedup +
    merge dedup yield exactly-once effects."""
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, 500, n_batches=2)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4)
    ing.run_to_completion(wal, str(tmp_path / "ckpt"), max_files_per_trigger=2)
    assert _state(ing) == _oracle(500)
    # upsert counts reflect deduped keys, not raw feed rows
    total_upserts = sum(m.get("rows_upserted", 0) for m in ing.engine.lineage())
    n_keys_touched = changefeed_df(spark, 500).select("repo", "path").distinct().count()
    assert total_upserts <= 500 and total_upserts >= n_keys_touched * 0.5


def test_stream_schema_evolution_mid_stream(spark, tmp_path):
    """North-rule headline: later WAL segments carry a NEW column; the
    tailing stream (redeployed with the widened feed schema) reads old
    segments as null-filled and the merge evolves the live table schema the
    moment the first widened batch lands — no rewrite of old data."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from arlas_proc_spark.cdc.engine import EVENT_SCHEMA

    wal = str(tmp_path / "wal")
    os.makedirs(wal)
    base = changefeed_df(spark, 400, with_dups=False)
    base.where("seq < 200").coalesce(1) \
        .write.parquet(f"{wal}/batch_00000")
    base.where("seq >= 200") \
        .withColumn("size", F.length("content").cast("long")).coalesce(1) \
        .write.parquet(f"{wal}/batch_00001")

    widened = T.StructType(list(EVENT_SCHEMA.fields) +
                           [T.StructField("size", T.LongType(), True)])
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                          event_schema=widened)
    ing.run_to_completion(wal, str(tmp_path / "ckpt"), max_files_per_trigger=1)

    schema = {f.name: f.dataType.typeName() for f in ing.engine.table.schema.fields}
    assert schema["size"] == "long"
    rows = {(r.repo, r.path): r for r in ing.state().collect()}
    oracle = _oracle(400)
    assert {k: (r.seq, r.content_sha256) for k, r in rows.items()} == oracle
    # keys whose winner came from the widened segment carry size; earlier
    # winners are null-backfilled
    for k, r in rows.items():
        if r.seq >= 200:
            assert r.size == len(r.content)
        else:
            assert r.size is None


def test_stateful_version_deltas(spark, tmp_path):
    """applyInPandasWithState version tracker: cross-batch state suppresses
    re-deliveries and stale events; the last delta per key equals the batch
    LWW winner."""
    from arlas_proc_spark.cdc.engine import EVENT_SCHEMA
    from arlas_proc_spark.sources.readers import read_stream_parquet
    from arlas_proc_spark.streaming.stateful import latest_version_deltas

    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, N, n_batches=4)
    stream = read_stream_parquet(spark, wal, EVENT_SCHEMA, max_files_per_trigger=1)
    deltas = latest_version_deltas(stream)
    q = (deltas.writeStream.format("memory").queryName("vdeltas")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = spark.sql("SELECT * FROM vdeltas").collect()
    # ≤1 delta per key per micro-batch; monotone seq per key
    per_key = {}
    for r in got:
        per_key.setdefault((r.repo, r.path), []).append((r.seq, r.commit, r.op))
    for seqs in per_key.values():
        assert [s for s, _, _ in seqs] == sorted({s for s, _, _ in seqs})
    # last delta per key == batch LWW oracle winner (incl. delete winners)
    import duckdb
    from arlas_proc_spark.sources.changefeed import changefeed_sql
    feed = changefeed_sql(N, dialect="duckdb")
    oracle = duckdb.sql(f"""
        SELECT repo, path, seq, commit, op FROM (
          SELECT *, row_number() OVER (PARTITION BY repo, path
              ORDER BY seq DESC, commit DESC) rn FROM ({feed}) f) x
        WHERE rn = 1""").fetchdf()
    want = {(r.repo, r.path): (int(r.seq), r.commit, r.op)
            for r in oracle.itertuples()}
    last = {k: v[-1] for k, v in per_key.items()}
    assert last == want
    # duplicates suppressed: total deltas strictly below total feed rows
    n_feed = duckdb.sql(f"SELECT count(*) FROM ({feed}) f").fetchone()[0]
    assert len(got) < n_feed


def _has_protobuf() -> bool:
    try:
        import google.protobuf  # noqa: F401
        return True
    except ImportError:
        return False


def test_stateful_version_deltas_tws_requires_protobuf(spark):
    """Without protobuf the TWS variant must fail fast with a clear
    message, not crash the streaming driver worker mid-query."""
    if _has_protobuf():
        import pytest
        pytest.skip("protobuf present; gate not exercised")
    import pytest

    from arlas_proc_spark.cdc.engine import EVENT_SCHEMA
    from arlas_proc_spark.streaming.stateful import latest_version_deltas_tws
    stream = (spark.readStream.format("rate").load()
              .selectExpr("value as seq", "'i' as op", "'r' as repo",
                          "'p' as path", "'c' as commit",
                          "value as ts_s", "'py' as lang", "'x' as content"))
    assert stream.schema.fieldNames() == EVENT_SCHEMA.fieldNames()
    with pytest.raises(RuntimeError, match="protobuf"):
        latest_version_deltas_tws(stream)


def test_stateful_version_deltas_tws(spark, tmp_path):
    """transformWithStateInPandas variant (Spark 4 StatefulProcessor +
    RocksDB store): identical contract to the applyInPandasWithState
    tracker — last delta per key equals the batch LWW winner."""
    import pytest
    if not _has_protobuf():
        pytest.skip("transformWithState needs protobuf (not in sandbox); "
                    "gate covered by the _requires_protobuf test")
    from arlas_proc_spark.cdc.engine import EVENT_SCHEMA
    from arlas_proc_spark.sources.readers import read_stream_parquet
    from arlas_proc_spark.streaming.stateful import latest_version_deltas_tws

    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, N, n_batches=4)
    stream = read_stream_parquet(spark, wal, EVENT_SCHEMA, max_files_per_trigger=1)
    deltas = latest_version_deltas_tws(stream)
    q = (deltas.writeStream.format("memory").queryName("vdeltas_tws")
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .outputMode("update").trigger(availableNow=True).start())
    q.awaitTermination(300)

    got = spark.sql("SELECT * FROM vdeltas_tws").collect()
    per_key = {}
    for r in got:
        per_key.setdefault((r.repo, r.path), []).append((r.seq, r.commit, r.op))
    for seqs in per_key.values():
        assert [s for s, _, _ in seqs] == sorted({s for s, _, _ in seqs})
    import duckdb
    from arlas_proc_spark.sources.changefeed import changefeed_sql
    feed = changefeed_sql(N, dialect="duckdb")
    oracle = duckdb.sql(f"""
        SELECT repo, path, seq, commit, op FROM (
          SELECT *, row_number() OVER (PARTITION BY repo, path
              ORDER BY seq DESC, commit DESC) rn FROM ({feed}) f) x
        WHERE rn = 1""").fetchdf()
    want = {(r.repo, r.path): (int(r.seq), r.commit, r.op)
            for r in oracle.itertuples()}
    assert {k: v[-1] for k, v in per_key.items()} == want
    n_feed = duckdb.sql(f"SELECT count(*) FROM ({feed}) f").fetchone()[0]
    assert len(got) < n_feed


def test_stream_json_wal_segments(spark, tmp_path):
    """Debezium-style JSON-lines WAL segments converge identically to
    parquet segments — the pipeline is segment-encoding-agnostic."""
    wal = str(tmp_path / "wal")
    df = changefeed_df(spark, 800)
    sz = 200
    for b in range(4):
        (df.where((df.seq >= b * sz) & (df.seq < (b + 1) * sz))
           .coalesce(1).write.mode("overwrite").json(f"{wal}/batch_{b:05d}"))
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                          wal_format="json")
    ing.run_to_completion(wal, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert _state(ing) == _oracle(800)


def test_stream_csv_wal_segments(spark, tmp_path):
    """CSV WAL segments (quoted content with commas) also converge."""
    wal = str(tmp_path / "wal")
    df = changefeed_df(spark, 400, with_dups=False)
    for b in range(2):
        (df.where((df.seq >= b * 200) & (df.seq < (b + 1) * 200))
           .coalesce(1).write.mode("overwrite")
           .option("header", "true").csv(f"{wal}/batch_{b:05d}"))
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                          wal_format="csv")
    ing.run_to_completion(wal, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    got = _state(ing)
    import duckdb
    from arlas_proc_spark.sources.changefeed import final_state_sql
    exp = duckdb.sql(final_state_sql(400, with_dups=False)).fetchdf()
    want = {(r.repo, r.path): (int(r.seq), r.content_sha256) for r in exp.itertuples()}
    assert got == want


def test_fresh_checkpoint_redeploy_not_skipped(spark, tmp_path):
    """A stream redeployed with a NEW checkpoint restarts Spark batch ids
    at 0; the checkpoint-scoped ledger must apply them instead of
    mistaking them for replays of the old stream's batches 0..N."""
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, N, n_batches=4)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4)
    ing.run_to_completion(wal, str(tmp_path / "ckptA"), max_files_per_trigger=1)
    assert _state(ing) == _oracle(N)

    # upstream appends new WAL segments; ops redeploy with a fresh
    # checkpoint (routine recovery) — the file source re-reads everything
    from pyspark.sql import functions as F
    df = changefeed_df(spark, N)
    more = df.withColumn("seq", df.seq + N) \
             .withColumn("content", F.concat(F.lit("v2:"), df.content))
    (more.coalesce(1).write.mode("overwrite")
         .parquet(f"{wal}/batch_redeploy"))
    ing2 = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4)
    ing2.run_to_completion(wal, str(tmp_path / "ckptB"),
                           max_files_per_trigger=10)
    final = {(r.repo, r.path): r.content for r in ing2.state().collect()
             if r.content is not None}
    # every surviving key's content carries the redeploy prefix
    assert final and all(c.startswith("v2:") for c in final.values())


def test_mor_streaming_autocompaction(spark, tmp_path):
    """write_mode='mor' + compact_every: generations fold periodically
    during the tail; final state still equals the batch LWW oracle."""
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, N, n_batches=6)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                          write_mode="mor",
                          compact_every=2)
    ing.run_to_completion(wal, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert _state(ing) == _oracle(N)
    snap = ing.engine.table.snapshot()
    # threshold 2: any bucket reaching 2 files is folded right after the
    # apply, so no bucket ends above 2 generations
    assert all(len(fs) <= 2 for fs in snap["buckets"].values())
    assert any(m["batch_id"].startswith("autocompact")
               for m in ing.engine.lineage())


def test_stream_orc_wal_segments(spark, tmp_path):
    """ORC WAL segments converge identically (fourth segment encoding)."""
    wal = str(tmp_path / "wal")
    df = changefeed_df(spark, 800)
    for b in range(4):
        (df.where((df.seq >= b * 200) & (df.seq < (b + 1) * 200))
           .coalesce(1).write.mode("overwrite").orc(f"{wal}/batch_{b:05d}"))
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                          wal_format="orc")
    ing.run_to_completion(wal, str(tmp_path / "ckpt"), max_files_per_trigger=1)
    assert _state(ing) == _oracle(800)


def test_streaming_views_ride_the_ingest_loop(spark, tmp_path):
    """IncrementalAggViews passed to StreamingIngest refresh after every
    micro-batch; after the drain they equal a full recompute, and a
    resumed drain with the same checkpoint leaves them unchanged."""
    from arlas_proc_spark.lake.ivm import IncrementalAggView

    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, N, n_batches=4)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8)
    view = IncrementalAggView(spark, str(tmp_path / "view"),
                              ing.engine.table, ["repo"],
                              {"sum_len": "length(content)"}, n_buckets=8)
    ing.views.append(view)
    ing.run_to_completion(wal, str(tmp_path / "ckpt"),
                          max_files_per_trigger=2)
    assert view.cursor() == ing.engine.table.snapshot()["version"]
    inc = {r.repo: (r.n_rows, r.sum_len) for r in view.df().collect()}
    full = {r.repo: (r.n_rows, r.sum_len)
            for r in view.recompute_df().collect()}
    assert inc == full and len(inc) > 0
    # redelivered drain: table ledger skips, view cursor no-ops
    ing2 = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8,
                           views=[view])
    ing2.run_to_completion(wal, str(tmp_path / "ckpt"),
                           max_files_per_trigger=2)
    assert {r.repo: (r.n_rows, r.sum_len)
            for r in view.df().collect()} == inc


def test_read_version_time_travel(spark, tmp_path):
    """read_version(v) reproduces the table exactly as of snapshot v."""
    from arlas_proc_spark.lake.table import LakeTable
    import pyspark.sql.types as T

    schema = T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("content", T.StringType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema,
                         ["repo", "path"], "seq", n_buckets=4)

    def b(rows):
        return spark.createDataFrame(
            rows, "seq long, op string, repo string, path string,"
            " commit string, content string"
        ).select("repo", "path", "commit", "seq", "content", "op")

    t.merge_batch(b([(1, "insert", "r1", "a.py", "c1", "v1")]), 0)   # v1
    t.merge_batch(b([(2, "update", "r1", "a.py", "c2", "v2"),
                     (3, "insert", "r1", "b.py", "c3", "w1")]), 1)   # v2
    assert [(r.path, r.content) for r in
            t.read_version(1).orderBy("path").collect()] == [("a.py", "v1")]
    assert [(r.path, r.content) for r in
            t.read_version(2).orderBy("path").collect()] == \
        [("a.py", "v2"), ("b.py", "w1")]


def test_state_partitions_sizing_kill_resume(spark, tmp_path):
    """state_partitions decouples the dedup store's partition count
    (pinned into the checkpoint at batch 0) from the merge's shuffle
    parallelism (live session conf, restored inside the first batch):
    convergence, dedup, and kill/resume all hold, and the session conf
    is back at its original value afterwards."""
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, N, n_batches=4)
    orig = spark.conf.get("spark.sql.shuffle.partitions")

    # partial drain, then "crash"
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                          state_partitions=2)
    q = ing.start(wal, str(tmp_path / "ckpt"), max_files_per_trigger=2,
                  available_now=False)
    q.processAllAvailable()
    q.stop()
    assert spark.conf.get("spark.sql.shuffle.partitions") == orig

    # extend the WAL, resume with the same checkpoint (state partitioning
    # comes from the checkpoint now) + fresh instance
    extra = changefeed_df(spark, 2 * N, start=N)
    extra.coalesce(1).write.mode("overwrite").parquet(f"{wal}/batch_99990")
    ing2 = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                           state_partitions=2)
    ing2.run_to_completion(wal, str(tmp_path / "ckpt"),
                           max_files_per_trigger=2)
    assert spark.conf.get("spark.sql.shuffle.partitions") == orig
    assert _state(ing2) == _oracle(2 * N)

    # the dedup store really did get 2 partitions (checkpoint state dirs)
    import os
    state_dir = os.path.join(str(tmp_path / "ckpt"), "state", "0")
    parts = [d for d in os.listdir(state_dir) if d.isdigit()]
    assert len(parts) == 2, parts
