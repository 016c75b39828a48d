"""Change-log replication (streaming/replicate.py): a replica lake table
kept in sync by tailing the source's CDF files; exactly-once redelivery;
stale-transition ordering via LWW."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from arlas_proc_spark.lake.table import LakeTable
from arlas_proc_spark.streaming.replicate import ChangeLogReplicator

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
    T.StructField("seq", T.LongType(), True),
    T.StructField("content", T.StringType(), True),
])


def _ev(seq, op, repo, path, commit, content):
    return (seq, op, repo, path, commit, content)


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, repo string, path string, commit string,"
        " content string"
    ).select("repo", "path", "commit", "seq", "content", "op")


def _rows(df):
    return {(r.repo, r.path): (r.seq, r.content) for r in df.collect()}


def test_replica_converges_and_is_exactly_once(spark, tmp_path):
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA,
                           ["repo", "path"], "seq", n_buckets=4,
                           changefeed=True)
    src.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
        _ev(2, "insert", "r1", "b.py", "c2", "w1"),
        _ev(3, "insert", "r2", "c.py", "c3", "x1"),
    ]), 0)
    src.merge_batch(_batch(spark, [
        _ev(4, "update", "r1", "a.py", "c4", "v2"),
        _ev(5, "delete", "r1", "b.py", "c5", None),
        _ev(6, "insert", "r2", "d.py", "c6", "y1"),
    ]), 1)
    rep = ChangeLogReplicator(spark, src, str(tmp_path / "replica"),
                              n_buckets=2)
    rep.run_to_completion(str(tmp_path / "ckpt"))
    assert _rows(rep.state()) == _rows(src.read())
    v_after = rep.target.snapshot()["version"]

    # redelivered drain (same checkpoint): nothing re-applies
    rep2 = ChangeLogReplicator(spark, src, str(tmp_path / "replica"))
    rep2.run_to_completion(str(tmp_path / "ckpt"))
    assert rep2.target.snapshot()["version"] == v_after

    # new source commits stream through incrementally on resume
    src.merge_batch(_batch(spark, [
        _ev(7, "update", "r2", "c.py", "c7", "x2"),
        _ev(8, "insert", "r1", "b.py", "c8", "w2"),   # revive deleted key
    ]), 2)
    rep2.run_to_completion(str(tmp_path / "ckpt"))
    assert _rows(rep2.state()) == _rows(src.read())


def test_replica_ordering_spans_commits_in_one_batch(spark, tmp_path):
    """One micro-batch may carry several transitions of the same key
    (insert -> update -> delete pre-image); in-merge LWW keeps only the
    newest, so the replica lands on the source's final state."""
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA,
                           ["repo", "path"], "seq", n_buckets=2,
                           changefeed=True)
    src.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
        _ev(2, "insert", "r1", "b.py", "c2", "w1"),
    ]), 0)
    src.merge_batch(_batch(spark, [
        _ev(3, "update", "r1", "a.py", "c3", "v2"),
    ]), 1)
    src.merge_batch(_batch(spark, [
        _ev(4, "delete", "r1", "a.py", "c4", None),
        _ev(5, "update", "r1", "b.py", "c5", "w2"),
    ]), 2)
    rep = ChangeLogReplicator(spark, src, str(tmp_path / "replica"))
    # everything in one trigger: all transitions of a.py in one batch
    rep.run_to_completion(str(tmp_path / "ckpt"), max_files_per_trigger=100)
    assert _rows(rep.state()) == _rows(src.read()) == {
        ("r1", "b.py"): (5, "w2")}


def test_replicator_requires_changefeed_source(spark, tmp_path):
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA,
                           ["repo", "path"], "seq", n_buckets=2)
    with pytest.raises(ValueError, match="changefeed"):
        ChangeLogReplicator(spark, src, str(tmp_path / "replica"))


def test_streaming_ingest_feeds_replica_chain(spark, tmp_path):
    """The full production loop: WAL --stream--> CDF table --stream-->
    replica. Both hops exactly-once; replica equals source after drain."""
    from arlas_proc_spark.sources.changefeed import (
        final_state_sql,
        write_changefeed_batches,
    )
    from arlas_proc_spark.streaming.ingest import StreamingIngest
    import duckdb

    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, 2000, n_batches=4)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8,
                          changefeed=True)
    ing.run_to_completion(wal, str(tmp_path / "ck1"),
                          max_files_per_trigger=2)
    rep = ChangeLogReplicator(spark, ing.engine.table,
                              str(tmp_path / "replica"))
    rep.run_to_completion(str(tmp_path / "ck2"))
    got = {(r.repo, r.path): (r.seq, r.content_sha256)
           for r in rep.state().collect()}
    oracle = duckdb.sql(final_state_sql(2000, dialect="duckdb")).fetchdf()
    want = {(r.repo, r.path): (int(r.seq), r.content_sha256)
            for r in oracle.itertuples()}
    assert got == want


def test_replica_follows_source_schema_evolution(spark, tmp_path):
    """Upstream schema widens mid-stream: the resumed replicator gets a
    WIDENED change_schema (file sources cannot discover columns), old
    change files read the new column as null, and the replica's own
    merge evolves its schema."""
    from pyspark.sql import types as T2
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA,
                           ["repo", "path"], "seq", n_buckets=2,
                           changefeed=True)
    src.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
    ]), 0)
    rep = ChangeLogReplicator(spark, src, str(tmp_path / "replica"))
    rep.run_to_completion(str(tmp_path / "ckpt"))

    wide = spark.createDataFrame(
        [("r1", "b.py", "c2", 2, "w1", "py", "insert"),
         ("r1", "a.py", "c3", 3, "v2", "rs", "update")],
        "repo string, path string, commit string, seq long,"
        " content string, lang string, op string")
    src.merge_batch(wide, 1)                        # source evolves +lang
    wide_schema = T2.StructType(
        list(T2.StructType.fromJson(src.snapshot()["schema"]).fields)
        + [T2.StructField("change_type", T2.StringType(), True),
           T2.StructField("_change_version", T2.LongType(), True)])
    rep2 = ChangeLogReplicator(spark, src, str(tmp_path / "replica"),
                               change_schema=wide_schema)
    rep2.run_to_completion(str(tmp_path / "ckpt"))
    got = {r.path: (r.content, r.lang) for r in rep2.state().collect()}
    assert got == {"a.py": ("v2", "rs"), "b.py": ("w1", "py")}


def test_replicator_refuses_log_gap_in_source(spark, tmp_path):
    """A log-less commit (append-mode / overwrite) on a changefeed table
    emits no change files; a raw-file tailer would silently skip it. The
    replicator must refuse on the durable gap marker — even after later
    merges/compaction erase every other trace (ADVICE r2)."""
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA,
                           ["repo", "path"], "seq", n_buckets=4,
                           changefeed=True)
    src.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
    ]), 0)
    src.append_batch(_batch(spark, [
        _ev(2, "insert", "r1", "b.py", "c2", "w1"),
    ]), 1)                                    # log-less commit
    src.compact(max_files_per_bucket=0)       # erases the mor generation
    assert src.snapshot()["mor_buckets"] == []
    with pytest.raises(ValueError, match="log-less"):
        ChangeLogReplicator(spark, src, str(tmp_path / "replica"))


def test_seed_recovers_replication_after_log_gap(spark, tmp_path):
    """The gap recovery path: an overwrite on a changefeed source stamps
    log_gap_version, so a raw-file tailer refuses. seed() (full source
    read + durable marker in the replica's own snapshot properties) must
    (a) unblock construction, (b) skip pre-seed change rows on replay —
    replaying them could resurrect keys the overwrite dropped — and
    (c) keep following post-seed cow merges, surviving a replicator
    restart that rediscovers the seed version from the marker."""
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA,
                           ["repo", "path"], "seq", n_buckets=2,
                           changefeed=True)
    src.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
        _ev(2, "insert", "r1", "drop.py", "c2", "gone"),
    ]), 1)
    # log-less commit: drop.py disappears with NO change file emitted
    # (overwrite loads STATE rows — event frames drop their op column)
    src.overwrite(_batch(spark, [
        _ev(3, "insert", "r1", "a.py", "c3", "v3"),
        _ev(4, "insert", "r1", "b.py", "c4", "w1"),
    ]).drop("op"))
    with pytest.raises(ValueError, match="log-less"):
        ChangeLogReplicator(spark, src, str(tmp_path / "replica"))

    rep = ChangeLogReplicator(spark, src, str(tmp_path / "replica"),
                              seeded_at_version=src.snapshot()["version"])
    seed_v = rep.seed()
    assert seed_v == src.snapshot()["version"]
    # post-seed source activity flows through the feed again
    src.merge_batch(_batch(spark, [
        _ev(5, "update", "r1", "a.py", "c5", "v5"),
        _ev(6, "insert", "r2", "c.py", "c6", "x1"),
    ]), 2)
    rep.run_to_completion(str(tmp_path / "ck"))
    got = _rows(rep.state().select("repo", "path", "seq", "content"))
    assert got == {("r1", "a.py"): (5, "v5"),
                   ("r1", "b.py"): (4, "w1"),
                   ("r2", "c.py"): (6, "x1")}
    assert ("r1", "drop.py") not in got, \
        "pre-seed change replay resurrected an overwrite-dropped key"

    # restart with a fresh instance and NO explicit seed version: the
    # durable marker alone must authorize construction and further sync
    src.merge_batch(_batch(spark, [
        _ev(7, "delete", "r1", "b.py", "c4", "w1"),
    ]), 3)
    rep2 = ChangeLogReplicator(spark, src, str(tmp_path / "replica"))
    rep2.run_to_completion(str(tmp_path / "ck"))
    got2 = _rows(rep2.state().select("repo", "path", "seq", "content"))
    assert set(got2) == {("r1", "a.py"), ("r2", "c.py")}


def test_seed_requires_at_or_after_gap(spark, tmp_path):
    """A seed OLDER than the gap does not authorize tailing — the gap
    commit's effect is not in the seed."""
    src = LakeTable.create(spark, str(tmp_path / "src"), SCHEMA,
                           ["repo", "path"], "seq", n_buckets=2,
                           changefeed=True)
    src.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
    ]), 1)
    src.overwrite(_batch(spark, [
        _ev(2, "insert", "r1", "b.py", "c2", "w1"),
    ]).drop("op"))
    gap_v = src.snapshot()["log_gap_version"]
    with pytest.raises(ValueError, match="log-less"):
        ChangeLogReplicator(spark, src, str(tmp_path / "replica"),
                            seeded_at_version=gap_v - 1)
