"""LakeTable: snapshot commits, merge semantics, schema evolution,
exactly-once ledger, bucket copy-on-write."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from arlas_proc_spark.lake.schema_evolution import (
    SchemaEvolutionError,
    align_to_schema,
    evolve_schema,
)
from arlas_proc_spark.lake.table import LakeTable

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
        rows, "seq long, op string, repo string, path string, commit string, content string"
    ).select("repo", "path", "commit", "seq", "content", "op")


def test_merge_upsert_delete_lww(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], "seq", n_buckets=4)
    b1 = _batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
        _ev(2, "insert", "r1", "b.py", "c2", "v1"),
        _ev(3, "update", "r1", "a.py", "c3", "v2"),   # LWW inside batch
    ])
    m1 = t.merge_batch(b1, 0)
    assert m1["rows_upserted"] == 2
    state = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert state == {("r1", "a.py"): "v2", ("r1", "b.py"): "v1"}

    b2 = _batch(spark, [
        _ev(4, "delete", "r1", "b.py", "c4", None),
        _ev(5, "update", "r1", "a.py", "c5", "v3"),
        _ev(0, "update", "r1", "a.py", "c0", "stale"),  # older than table row: loses
    ])
    m2 = t.merge_batch(b2, 1)
    assert m2["rows_deleted"] == 1
    state = {(r.repo, r.path): (r.content, r.seq) for r in t.read().collect()}
    assert state == {("r1", "a.py"): ("v3", 5)}


def test_merge_stale_event_loses_to_table(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], "seq")
    t.merge_batch(_batch(spark, [_ev(10, "insert", "r", "x", "c10", "new")]), 0)
    # a replayed older event must NOT overwrite the newer table row
    t.merge_batch(_batch(spark, [_ev(3, "update", "r", "x", "c3", "old")]), 1)
    rows = t.read().collect()
    assert len(rows) == 1 and rows[0].content == "new" and rows[0].seq == 10


def test_exactly_once_ledger(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], "seq")
    b = _batch(spark, [_ev(1, "insert", "r", "x", "c1", "v1")])
    t.merge_batch(b, 7)
    v_after = t.snapshot()["version"]
    # redelivery of the same batch id: no-op, no new snapshot
    res = t.merge_batch(_batch(spark, [_ev(99, "update", "r", "x", "c9", "EVIL")]), 7)
    assert res.get("skipped") is True
    assert t.snapshot()["version"] == v_after
    assert t.read().collect()[0].content == "v1"


def test_dedup_by_key_commit(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], "seq")
    # at-least-once delivery: same event twice in one batch
    b = _batch(spark, [
        _ev(1, "insert", "r", "x", "c1", "v1"),
        _ev(1, "insert", "r", "x", "c1", "v1"),
    ])
    m = t.merge_batch(b, 0)
    assert m["rows_upserted"] == 1
    assert t.read().count() == 1


def test_schema_evolution_add_and_widen(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], "seq")
    t.merge_batch(_batch(spark, [_ev(1, "insert", "r", "x", "c1", "v1")]), 0)
    # batch 2 carries a NEW column (size) and the merge must evolve the table
    b2 = spark.createDataFrame(
        [(2, "update", "r", "y", "c2", "v2", 123)],
        "seq long, op string, repo string, path string, commit string, content string, size int")
    t.merge_batch(b2, 1)
    schema = {f.name: f.dataType.typeName() for f in t.schema.fields}
    assert schema["size"] == "integer"
    rows = {r.path: r for r in t.read().collect()}
    assert rows["y"].size == 123
    assert rows["x"].size is None  # old rows null-fill, never rewritten
    # batch 3 widens size to long
    b3 = spark.createDataFrame(
        [(3, "update", "r", "z", "c3", "v3", 2**40)],
        "seq long, op string, repo string, path string, commit string, content string, size long")
    t.merge_batch(b3, 2)
    schema = {f.name: f.dataType.typeName() for f in t.schema.fields}
    assert schema["size"] == "long"
    rows = {r.path: r for r in t.read().collect()}
    assert rows["z"].size == 2**40 and rows["y"].size == 123


def test_incompatible_evolution_raises():
    a = T.StructType([T.StructField("x", T.StringType())])
    b = T.StructType([T.StructField("x", T.LongType())])
    with pytest.raises(SchemaEvolutionError):
        evolve_schema(a, b)


def test_evolve_schema_pure():
    a = T.StructType([T.StructField("x", T.IntegerType()), T.StructField("y", T.StringType())])
    b = T.StructType([T.StructField("x", T.LongType()), T.StructField("z", T.DoubleType())])
    out, changed = evolve_schema(a, b)
    assert changed
    assert [f.name for f in out.fields] == ["x", "y", "z"]
    assert out["x"].dataType.typeName() == "long"


def test_align_to_schema(spark):
    df = spark.createDataFrame([(1, "a")], "x int, y string")
    target = T.StructType([
        T.StructField("x", T.LongType()), T.StructField("y", T.StringType()),
        T.StructField("z", T.DoubleType())])
    out = align_to_schema(df, target)
    assert [f.dataType.typeName() for f in out.schema.fields] == ["long", "string", "double"]
    r = out.collect()[0]
    assert r.x == 1 and r.z is None


def test_copy_on_write_touches_only_batch_buckets(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], "seq", n_buckets=8)
    rows = [_ev(i, "insert", "r", f"f{i}.py", f"c{i}", f"v{i}") for i in range(40)]
    t.merge_batch(_batch(spark, rows), 0)
    snap1 = t.snapshot()
    files_before = {b: [e["file"] for e in fs] for b, fs in snap1["buckets"].items()}
    # single-key batch → exactly one bucket's file list changes
    t.merge_batch(_batch(spark, [_ev(100, "update", "r", "f0.py", "cx", "NEW")]), 1)
    snap2 = t.snapshot()
    changed = [b for b in snap2["buckets"]
               if [e["file"] for e in snap2["buckets"][b]] != files_before.get(b, [])]
    assert len(changed) == 1
    assert t.read().where("path = 'f0.py'").collect()[0].content == "NEW"
    assert t.read().count() == 40


def test_snapshot_commit_is_atomic_and_versioned(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], "seq")
    t.merge_batch(_batch(spark, [_ev(1, "insert", "r", "x", "c1", "v")]), 0)
    meta = os.path.join(str(tmp_path / "t"), "meta")
    versions = sorted(f for f in os.listdir(meta) if f.startswith("v"))
    assert versions == ["v0000000000.json", "v0000000001.json"]
    with open(os.path.join(meta, "CURRENT")) as f:
        assert f.read().strip() == "v0000000001.json"
    # time travel: old snapshot still readable
    with open(os.path.join(meta, "v0000000000.json")) as f:
        old = json.load(f)
    assert t.read(snapshot=old).count() == 0


def test_expire_snapshots_gc(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA, ["repo", "path"], "seq", n_buckets=2)
    for i in range(4):
        t.merge_batch(_batch(spark, [_ev(i, "insert", "r", f"f{i}", f"c{i}", f"v{i}")]), i)
    data_dir = os.path.join(str(tmp_path / "t"), "data")
    # plant an orphan (crashed writer's leftover)
    open(os.path.join(data_dir, "v99-b0-0.parquet"), "w").close()
    n_files_before = len(os.listdir(data_dir))
    res = t.expire_snapshots(keep_last=2, orphan_grace_s=0)
    assert res["snapshots_expired"] >= 2
    assert res["orphan_files_removed"] >= 1
    assert len(os.listdir(data_dir)) < n_files_before
    # current state intact after GC
    assert t.read().count() == 4
    # retained previous snapshot still time-travels
    meta = os.path.join(str(tmp_path / "t"), "meta")
    import json as _json
    retained = sorted(f for f in os.listdir(meta) if f.startswith("v"))
    with open(os.path.join(meta, retained[0])) as f:
        old = _json.load(f)
    assert t.read(snapshot=old).count() in (3, 4)


@pytest.mark.parametrize("pinned_by", ["keep_last", "tag"])
def test_expire_rescans_when_retained_snapshot_vanishes(
        spark, tmp_path, monkeypatch, pinned_by):
    """A concurrent expire removes a snapshot this run's scan retained
    (keep_last, or a tag that a racer drops first) between the scan's
    listing and its open. The run must re-scan from a fresh listing and
    finish, not abort on the raw OSError."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    for i in range(4):
        t.merge_batch(_batch(spark, [
            _ev(i, "insert", "r", f"f{i}", f"c{i}", f"v{i}")]), i)
    if pinned_by == "tag":
        t.set_tag("pin", version=1)
    victim = os.path.join(t.meta_dir, "v0000000001.json" if pinned_by == "tag"
                          else sorted(f for f in os.listdir(t.meta_dir)
                                      if f.startswith("v"))[-2])
    real_listdir = os.listdir
    state = {"meta_listings": 0, "racing": False}

    def racer():
        # the concurrent maintenance run, at the scan's second metadata
        # listing: after the keep set is fixed, before its files open
        state["racing"] = True
        try:
            if pinned_by == "tag":
                t.drop_tag("pin")
            t.expire_snapshots(keep_last=1)
        finally:
            state["racing"] = False

    def racing_listdir(p):
        names = real_listdir(p)
        if not state["racing"] and \
                os.path.abspath(p) == os.path.abspath(t.meta_dir):
            state["meta_listings"] += 1
            if state["meta_listings"] == 2:
                racer()
        return names

    import arlas_proc_spark.lake.table as table_mod
    monkeypatch.setattr(table_mod.os, "listdir", racing_listdir)
    res = t.expire_snapshots(keep_last=2)
    monkeypatch.undo()
    assert not os.path.exists(victim)      # the race really fired
    assert state["meta_listings"] > 3      # ... and the scan re-ran
    assert res["snapshots_expired"] >= 0
    assert t.read().count() == 4
    assert "pin" not in t.snapshot().get("tags", {})


def test_expire_age_retention_and_dry_run(spark, tmp_path):
    """older_than_s keeps young snapshots past keep_last (Iceberg's
    expire_snapshots(older_than, retain_last)); dry_run reports a real
    run's exact counts without deleting anything (VACUUM DRY RUN)."""
    import json as _json
    import time as _time
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    for i in range(4):
        t.merge_batch(_batch(spark, [
            _ev(i, "insert", "r", f"f{i}", f"c{i}", f"v{i}")]), i)
    meta = t.meta_dir
    # age the first three snapshots (v0..v2) a day back
    for v in range(3):
        p = os.path.join(meta, f"v{v:010d}.json")
        with open(p) as f:
            d = _json.load(f)
        d["committed_at"] = _time.time() - 86400
        with open(p, "w") as f:
            _json.dump(d, f)
    before = sorted(f for f in os.listdir(meta) if f.startswith("v"))
    dry = t.expire_snapshots(keep_last=1, orphan_grace_s=0,
                             older_than_s=3600, dry_run=True)
    assert dry["dry_run"] and dry["snapshots_expired"] == 3  # v0..v2
    # dry run deleted nothing
    assert sorted(f for f in os.listdir(meta)
                  if f.startswith("v")) == before
    real = t.expire_snapshots(keep_last=1, orphan_grace_s=0,
                              older_than_s=3600)
    assert not real["dry_run"]
    for k in ("snapshots_expired", "orphan_files_removed",
              "orphan_manifests_removed", "orphan_changes_removed"):
        assert real[k] == dry[k], k
    # young v3 survived beyond keep_last=1 and still time-travels
    assert t.read_version(3).count() == 3
    with pytest.raises(ValueError, match="not found|expired"):
        t.snapshot_at(1)
    assert t.read().count() == 4


def test_per_partition_lineage(spark, tmp_path):
    """Every commit records per-bucket lineage (rows + bytes from parquet
    footers) queryable as a DataFrame; totals reconcile with the table and
    versions beyond the committed snapshot are excluded."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    t.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
        _ev(2, "insert", "r2", "b.py", "c2", "v1"),
        _ev(3, "insert", "r3", "c.py", "c3", "v1"),
    ]), 0)
    t.merge_batch(_batch(spark, [
        _ev(4, "update", "r1", "a.py", "c4", "v2"),
    ]), 1)

    lin = t.lineage_df().collect()
    assert {r.version for r in lin} == {1, 2}
    assert all(r.rows >= 0 and r.bytes > 0 for r in lin)
    # v2 rewrote only the bucket holding (r1, a.py)
    v2 = [r for r in lin if r.version == 2]
    assert len({r.bucket for r in v2}) == 1
    # footer row counts of the LIVE buckets reconcile with the table
    # (tombstone-free table here, so live rows == lineage rows of the
    # current snapshot's files)
    snap = t.snapshot()
    live_files = {e["file"] for fs in snap["buckets"].values() for e in fs}
    live_rows = sum(r.rows for r in lin if r.file in live_files)
    assert live_rows == t.read().count()
    # an orphan lineage file from a crashed commit (version above the
    # snapshot) is invisible
    t._write_lineage(99, "crashed", {0: [{"file": "ghost.parquet",
                                          "schema_v": 0, "rows": 5,
                                          "bytes": 10}]})
    assert {r.version for r in t.lineage_df().collect()} == {1, 2}


def test_merge_missing_key_column_raises(spark, tmp_path):
    """A batch missing a key column entirely must fail loudly, not merge
    every row under a silent null key."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    no_path = _batch(spark, [_ev(1, "insert", "r", "x", "c1", "v")]) \
        .drop("path")
    with pytest.raises(ValueError, match="missing key column.*path"):
        t.merge_batch(no_path, 0)


def test_concurrent_commit_detected(spark, tmp_path):
    """Optimistic concurrency: a writer whose snapshot went stale (another
    writer advanced CURRENT) gets ConcurrentCommitError, not a silent
    lost-update."""
    from arlas_proc_spark.lake.table import ConcurrentCommitError
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    stale = t.snapshot()  # reads v0
    t.merge_batch(_batch(spark, [_ev(1, "insert", "r", "x", "c1", "v")]), 0)
    # writer with the stale snapshot targets a FREE version name but its
    # expectation (CURRENT == v0) no longer holds -> conflict, not lost
    # update. (Same-version collisions are caught earlier by O_EXCL.)
    stale["version"] = 3
    with pytest.raises(ConcurrentCommitError):
        t._commit_snapshot(stale, expected_version=0)
    import os
    assert not os.path.exists(
        os.path.join(t.meta_dir, "v0000000003.json"))  # cleaned up


def test_ledger_scopes_isolate_batch_ids(spark, tmp_path):
    """Numeric batch ids only dedupe within their scope: a new stream
    (fresh checkpoint -> ids restart at 0) must not have its batches
    skipped as replays of an old stream's."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    t.merge_batch(_batch(spark, [_ev(1, "insert", "r", "a", "c1", "v1")]),
                  0, ledger_scope="streamA")
    m = t.merge_batch(_batch(spark, [_ev(2, "insert", "r", "b", "c2", "v2")]),
                      0, ledger_scope="streamB")
    assert not m.get("skipped")
    assert t.read().count() == 2
    # within a scope it still dedupes
    m2 = t.merge_batch(_batch(spark, [_ev(3, "insert", "r", "c", "c3", "v3")]),
                       0, ledger_scope="streamA")
    assert m2.get("skipped")


def test_concurrent_writers_full_commit_race(spark, tmp_path, monkeypatch):
    """The nastiest ordering: writer B FULLY commits version N+1 while
    writer A is mid-merge toward the same version. A's staged data files
    must not clobber B's committed ones (names carry a per-attempt token),
    the O_EXCL collision must surface as ConcurrentCommitError (retryable),
    and a retried merge must converge with BOTH writers' rows intact."""
    from arlas_proc_spark.lake.table import ConcurrentCommitError
    path = str(tmp_path / "t")
    a = LakeTable.create(spark, path, SCHEMA, ["repo", "path"], "seq",
                         n_buckets=4)
    b = LakeTable(spark, path)
    batch_a = _batch(spark, [_ev(1, "insert", "rA", "a.py", "cA", "vA")])
    batch_b = _batch(spark, [_ev(2, "insert", "rB", "b.py", "cB", "vB")])

    real_commit = LakeTable._commit_snapshot
    fired = []

    def hijack(self, snap, expected_version):
        if self is a and not fired:
            fired.append(True)
            b.merge_batch(batch_b, "writer-b")  # B wins the race
        return real_commit(self, snap, expected_version)

    monkeypatch.setattr(LakeTable, "_commit_snapshot", hijack)
    with pytest.raises(ConcurrentCommitError):
        a.merge_batch(batch_a, "writer-a")
    # B's committed row survived A's losing staging (no name collision)
    state = {(r.repo, r.path): r.content for r in b.read().collect()}
    assert state == {("rB", "b.py"): "vB"}
    # A's loser files are unreferenced orphans; retry converges
    a.merge_batch(batch_a, "writer-a")
    state = {(r.repo, r.path): r.content for r in a.read().collect()}
    assert state == {("rA", "a.py"): "vA", ("rB", "b.py"): "vB"}
    # GC removes the orphaned staging (data + lineage) without touching
    # live files
    gc = a.expire_snapshots(keep_last=10, orphan_grace_s=0)
    assert gc["orphan_files_removed"] >= 1
    state = {(r.repo, r.path): r.content for r in a.read().collect()}
    assert state == {("rA", "a.py"): "vA", ("rB", "b.py"): "vB"}


def test_empty_batch_commit_retries_on_conflict(spark, tmp_path, monkeypatch):
    """commit_empty_batch is data-free and must survive a competing writer
    landing mid-commit instead of failing the stream."""
    path = str(tmp_path / "t")
    a = LakeTable.create(spark, path, SCHEMA, ["repo", "path"], "seq",
                         n_buckets=4)
    b = LakeTable(spark, path)
    real_commit = LakeTable._commit_snapshot
    fired = []

    def hijack(self, snap, expected_version):
        if self is a and not fired:
            fired.append(True)
            b.merge_batch(
                _batch(spark, [_ev(1, "insert", "rB", "b.py", "cB", "vB")]),
                "writer-b")
        return real_commit(self, snap, expected_version)

    monkeypatch.setattr(LakeTable, "_commit_snapshot", hijack)
    m = a.commit_empty_batch(7)
    assert m.get("empty") and not m.get("skipped")
    assert a.commit_empty_batch(7).get("skipped")  # ledgered despite race
    assert b.read().count() == 1


def test_overwrite_clears_mor_and_compacts_duplicates(spark, tmp_path):
    """overwrite() on a formerly merge-on-read table: reads of the fresh
    state must not keep applying LWW resolution (mor_buckets cleared), and
    a bootstrap frame with duplicate keys is deterministically compacted
    to the (seq, commit) winner at write time."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    t.append_batch(_batch(spark, [_ev(1, "insert", "r", "a.py", "c1", "v1")]), 0)
    assert t.snapshot()["mor_buckets"]  # append made it mor
    boot = _batch(spark, [
        _ev(5, "insert", "r", "a.py", "c5", "new"),
        _ev(4, "insert", "r", "a.py", "c4", "old"),   # dup key: seq 5 wins
        _ev(6, "insert", "r", "b.py", "c6", "only"),
    ]).drop("op")
    t.overwrite(boot)
    assert t.snapshot()["mor_buckets"] == []
    state = {(r.repo, r.path): (r.content, r.seq) for r in t.read().collect()}
    assert state == {("r", "a.py"): ("new", 5), ("r", "b.py"): ("only", 6)}


def test_merge_after_append_drops_bucket_from_mor(spark, tmp_path):
    """A cow merge rewrites its touched buckets to one generation — they
    must leave mor_buckets so reads stop paying the LWW resolve there."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    t.append_batch(_batch(spark, [
        _ev(1, "insert", "r", "a.py", "c1", "v1"),
        _ev(2, "insert", "r", "b.py", "c2", "v2"),
    ]), 0)
    mor_before = set(t.snapshot()["mor_buckets"])
    assert mor_before
    t.merge_batch(_batch(spark, [_ev(3, "update", "r", "a.py", "c3", "v3")]), 1)
    snap = t.snapshot()
    from arlas_proc_spark.lake.table import bucket_expr
    # the touched bucket left mor_buckets; untouched ones (if any) remain
    touched = {str(r[0]) for r in
               _batch(spark, [_ev(3, "update", "r", "a.py", "c3", "v3")])
               .select(bucket_expr(["repo", "path"], 2)).distinct().collect()}
    assert not (set(snap["mor_buckets"]) & touched)
    state = {(r.repo, r.path): r.content for r in t.read().collect()}
    assert state == {("r", "a.py"): "v3", ("r", "b.py"): "v2"}


def test_tableio_seam(spark, tmp_path):
    """LakeTable implements the TableIO contract; the Iceberg backend
    fails fast (with setup instructions) when the runtime is absent; its
    generated SQL carries the engine's LWW merge semantics."""
    from arlas_proc_spark.lake.iceberg import (IcebergTableIO,
                                               create_table_sql,
                                               iceberg_available, merge_sql)
    from arlas_proc_spark.lake.io import TableIO
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    assert isinstance(t, TableIO)
    assert not iceberg_available(spark)
    with pytest.raises(RuntimeError, match="Iceberg runtime not available"):
        IcebergTableIO(spark, "cat.db.t")
    sql = merge_sql("cat.db.t", "src", ["repo", "path"], "seq")
    assert "MERGE INTO cat.db.t t USING src s" in sql
    assert "t.repo = s.repo AND t.path = s.path" in sql
    assert "s.seq > t.seq" in sql and "s.commit >= t.commit" in sql
    assert "THEN DELETE" in sql and "UPDATE SET *" in sql \
        and "INSERT *" in sql
    ddl = create_table_sql("cat.db.t", "repo string, path string",
                          ["repo", "path"], 32)
    assert "PARTITIONED BY (bucket(32, repo, path))" in ddl
    assert "'format-version'='2'" in ddl
    # branch surface (Iceberg branch refs / WAP publish procedure)
    from arlas_proc_spark.lake.iceberg import (create_branch_ddl,
                                               drop_branch_ddl,
                                               fast_forward_call)
    assert create_branch_ddl("cat.db.t", "audit") \
        == "ALTER TABLE cat.db.t CREATE BRANCH `audit`"
    assert drop_branch_ddl("cat.db.t", "audit") \
        == "ALTER TABLE cat.db.t DROP BRANCH `audit`"
    call = fast_forward_call("cat", "cat.db.t", "audit")
    assert call == ("CALL cat.system.fast_forward(table => 'cat.db.t', "
                    "branch => 'main', to => 'audit')")


def test_engine_accepts_injected_tableio(spark, tmp_path):
    """CdcEngine routes every commit through an injected TableIO."""
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.lake.io import TableIO

    calls = []

    class Fake(TableIO):
        def merge_batch(self, batch, batch_id, **kw):
            calls.append(("merge", str(batch_id)))
            return {"batch_id": str(batch_id)}

        def append_batch(self, batch, batch_id, **kw):
            calls.append(("append", str(batch_id)))
            return {"batch_id": str(batch_id)}

        def commit_empty_batch(self, batch_id, scope="default", **kw):
            calls.append(("empty", str(batch_id)))
            return {"batch_id": str(batch_id), "empty": True}

        def read(self, buckets=None, *a, **kw):
            raise AssertionError("unused in this test")

        def compact(self, **kw):
            return {}

        def lineage(self):
            return []

        def snapshot(self):
            return {"key_cols": ["repo", "path"], "n_buckets": 4}

    eng = CdcEngine(spark, str(tmp_path / "unused"), table_io=Fake())
    batch = spark.createDataFrame(
        [(1, "insert", "r", "p", "c1", 1, "py", "v")],
        "seq long, op string, repo string, path string, commit string,"
        " ts_s long, lang string, content string")
    eng.apply_batch(batch, 5)
    assert ("merge", "5") in calls


def test_read_changes_cow(spark, tmp_path):
    """Change feed between CoW snapshots: insert/update/delete emitted,
    unchanged keys silent; delete carries the pre-image row."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    t.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "va1"),
        _ev(2, "insert", "r1", "b.py", "c2", "vb1"),
        _ev(3, "insert", "r1", "c.py", "c3", "vc1"),
    ]), 0)                                                    # v1
    t.merge_batch(_batch(spark, [
        _ev(4, "update", "r1", "a.py", "c4", "va2"),
        _ev(5, "delete", "r1", "b.py", "c5", None),
        _ev(6, "insert", "r1", "d.py", "c6", "vd1"),
    ]), 1)                                                    # v2
    ch = {r.path: r for r in t.read_changes(1, 2).collect()}
    assert {p: r.change_type for p, r in ch.items()} == {
        "a.py": "update_postimage", "b.py": "delete", "d.py": "insert"}
    assert (ch["a.py"].content, ch["a.py"].seq) == ("va2", 4)
    assert (ch["b.py"].content, ch["b.py"].seq) == ("vb1", 2)  # pre-image
    assert ch["d.py"].content == "vd1"
    # bootstrap feed: empty v0 -> current; the deleted key never appears
    boot = {r.path: r.change_type for r in t.read_changes(0).collect()}
    assert boot == {"a.py": "insert", "c.py": "insert", "d.py": "insert"}
    assert t.read_changes(2, 2).count() == 0
    with pytest.raises(ValueError):
        t.read_changes(1, 99)
    with pytest.raises(ValueError):
        t.read_changes(2, 1)


def test_read_changes_mor_and_schema_evolution(spark, tmp_path):
    """MoR generations resolve to LWW winners per snapshot; a column
    added between the two versions reads as null on pre-image rows."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    t.append_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "va1"),
        _ev(2, "insert", "r1", "b.py", "c2", "vb1"),
    ]), 0)                                                    # v1 (mor)
    wide = spark.createDataFrame(
        [(3, "update", "r1", "a.py", "c3", "va2", "py"),
         (4, "delete", "r1", "b.py", "c4", None, None)],
        "seq long, op string, repo string, path string, commit string,"
        " content string, lang string"
    ).select("repo", "path", "commit", "seq", "content", "lang", "op")
    t.append_batch(wide, 1)                                   # v2, +lang
    ch = {r.path: r for r in t.read_changes(1, 2).collect()}
    assert {p: r.change_type for p, r in ch.items()} == {
        "a.py": "update_postimage", "b.py": "delete"}
    assert (ch["a.py"].content, ch["a.py"].lang) == ("va2", "py")
    assert (ch["b.py"].content, ch["b.py"].lang) == ("vb1", None)


def test_read_changes_prunes_untouched_buckets(spark, tmp_path):
    """A one-key commit scans ONLY that key's bucket files in both
    snapshots — quiet buckets are pruned from the manifests driver-side
    and never reach the parquet scan."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=8)
    t.merge_batch(_batch(spark, [
        _ev(i, "insert", "r1", f"f{i}.py", f"c{i}", f"v{i}")
        for i in range(24)
    ]), 0)                                                    # v1: all buckets
    t.merge_batch(_batch(spark, [
        _ev(100, "update", "r1", "f0.py", "cx", "v0b"),
    ]), 1)                                                    # v2: one bucket
    ch = t.read_changes(1, 2)
    rows = ch.collect()
    assert [(r.path, r.change_type) for r in rows] == \
        [("f0.py", "update_postimage")]
    buckets = {f.rsplit("/", 1)[-1].split("-")[1] for f in ch.inputFiles()}
    assert len(buckets) == 1, buckets


def test_change_log_emitted_at_merge_time(spark, tmp_path):
    """changefeed=True tables write per-commit change files from the merge
    join; read_change_log serves them (preimages included) without a
    snapshot diff, and matches read_changes for single steps."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4,
                         changefeed=True)
    m = t.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "old"),
        _ev(2, "insert", "r1", "b.py", "c2", "keep"),
    ]), 0)
    assert m["changes_rows"] == 2
    m = t.merge_batch(_batch(spark, [
        _ev(3, "update", "r1", "a.py", "c3", "new!"),
        _ev(4, "delete", "r1", "b.py", "c4", None),
        _ev(5, "insert", "r1", "c.py", "c5", "ins"),
    ]), 1)
    assert m["changes_rows"] == 4  # pre+post, delete preimage, insert
    # served purely from the emitted files (no diff): every snapshot
    # carries its own version's file list
    assert t.snapshot_at(2)["changes"]["version"] == 2
    got = {(r.path, r.change_type): r.content
           for r in t.read_change_log(
               1, 2, include_update_preimages=True).collect()}
    assert got == {
        ("a.py", "update_preimage"): "old",
        ("a.py", "update_postimage"): "new!",
        ("b.py", "delete"): "keep",
        ("c.py", "insert"): "ins",
    }
    # without preimages == the snapshot-diff feed
    log3 = {(r.path, r.change_type) for r in t.read_change_log(1, 2).collect()}
    diff3 = {(r.path, r.change_type) for r in t.read_changes(1, 2).collect()}
    assert log3 == diff3
    # idempotent redelivery of batch 1 emits nothing (ledger skip)
    t.merge_batch(_batch(spark, [
        _ev(3, "update", "r1", "a.py", "c3", "new!"),
    ]), 1)
    assert t.snapshot()["version"] == 2


def test_change_log_mixed_steps_and_noops(spark, tmp_path):
    """Log-less steps (append-mode commits) snapshot-diff; compaction and
    empty batches contribute nothing; the multi-version log folds to the
    same additive net as the collapsed diff."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4,
                         changefeed=True)
    t.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
    ]), 0)                                                   # v1: log
    t.append_batch(_batch(spark, [
        _ev(2, "update", "r1", "a.py", "c2", "v2"),
        _ev(3, "insert", "r1", "b.py", "c3", "w1"),
    ]), 1)                                                   # v2: no log
    t.commit_empty_batch(4)                                  # v3: noop
    t.merge_batch(_batch(spark, [
        _ev(5, "update", "r1", "b.py", "c5", "w2"),
    ]), 5)                                                   # v4: log
    log = {(r.path, r.change_type, r.content)
           for r in t.read_change_log(0, 4).collect()}
    assert log == {
        ("a.py", "insert", "v1"),
        ("a.py", "update_postimage", "v2"),   # diffed step
        ("b.py", "insert", "w1"),
        ("b.py", "update_postimage", "w2"),
    }
    # noop steps alone produce an empty feed
    assert t.read_change_log(2, 3).count() == 0


def test_expire_snapshots_gcs_change_files(spark, tmp_path):
    import os as _os
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2,
                         changefeed=True)
    for i in range(4):
        t.merge_batch(_batch(spark, [
            _ev(i + 1, "insert", "r1", f"f{i}.py", f"c{i}", f"v{i}"),
        ]), i)
    n_before = len(_os.listdir(t.changes_dir))
    out = t.expire_snapshots(keep_last=2, orphan_grace_s=0)
    assert out["orphan_changes_removed"] > 0
    assert len(_os.listdir(t.changes_dir)) < n_before
    # retained window still serves its log
    assert t.read_change_log(3, 4).count() == 1


def test_additive_merge_and_delete_condition(spark, tmp_path):
    """additive_cols merge as running totals inside the merge join:
    old + contribution, tombstoned old rows contribute zero (revival),
    batch-less keys keep their value; delete_condition drops keys whose
    merged counter folds to zero."""
    import pyspark.sql.types as T
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("n", T.LongType(), True),
        T.StructField("seq", T.LongType(), True),
    ])
    t = LakeTable.create(spark, str(tmp_path / "t"), schema, ["k"], "seq",
                         n_buckets=2)

    def b(rows):
        return spark.createDataFrame(
            rows, "k string, n long, seq long, op string")

    kw = dict(batch_compacted=True, additive_cols=["n"],
              delete_condition=lambda v: v["n"] <= 0)
    t.merge_batch(b([("a", 2, 1, "upsert"), ("b", 5, 1, "upsert")]), 0, **kw)
    t.merge_batch(b([("a", 3, 2, "upsert")]), 1, **kw)          # b untouched
    assert {r.k: r.n for r in t.read().collect()} == {"a": 5, "b": 5}
    t.merge_batch(b([("a", -5, 3, "upsert")]), 2, **kw)         # fold to 0
    assert {r.k: r.n for r in t.read().collect()} == {"b": 5}
    t.merge_batch(b([("a", 7, 4, "upsert")]), 3, **kw)          # revival:
    # the tombstone's stored 0 must contribute 0, not resurrect stale state
    assert {r.k: r.n for r in t.read().collect()} == {"a": 7, "b": 5}


def test_lookup_prunes_to_one_bucket(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=8)
    t.merge_batch(_batch(spark, [
        _ev(i, "insert", "r1", f"f{i}.py", f"c{i}", f"v{i}")
        for i in range(32)
    ]), 0)
    got = t.lookup(repo="r1", path="f7.py")
    rows = got.collect()
    assert [(r.path, r.content) for r in rows] == [("f7.py", "v7")]
    buckets = {f.rsplit("/", 1)[-1].split("-")[1] for f in got.inputFiles()}
    assert len(buckets) == 1
    assert t.lookup(repo="r1", path="nope.py").count() == 0
    with pytest.raises(ValueError, match="missing"):
        t.lookup(repo="r1")


def test_rebucket_preserves_state_and_ledger(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    t.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
        _ev(2, "insert", "r1", "b.py", "c2", "w1"),
        _ev(3, "delete", "r1", "b.py", "c3", None),   # tombstone survives
    ]), 0)
    before = {(r.repo, r.path): (r.seq, r.content) for r in t.read().collect()}
    out = t.rebucket(8)
    assert out["rebucketed_to"] == 8
    assert t.snapshot()["n_buckets"] == 8
    assert {(r.repo, r.path): (r.seq, r.content)
            for r in t.read().collect()} == before
    # tombstone still out-ranks a stale re-insert after the rewrite
    t.merge_batch(_batch(spark, [
        _ev(2, "insert", "r1", "b.py", "c2", "w1"),   # stale redelivery
    ]), 1)
    assert {r.path for r in t.read().collect()} == {"a.py"}
    # ledger carried over: batch 0 still exactly-once
    assert t.merge_batch(_batch(spark, [
        _ev(9, "insert", "r1", "z.py", "c9", "zz"),
    ]), 0)["skipped"] is True
    # lookup agrees with the new layout
    assert t.lookup(repo="r1", path="a.py").count() == 1


def test_compaction_sorts_buckets_by_key(spark, tmp_path):
    """Compacted bucket files are key-sorted so parquet row-group stats
    get selective for point lookups (merge-time files are not — the sort
    is paid once at compaction, not per batch)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    for b in range(5):
        t.append_batch(_batch(spark, [
            _ev(b * 10 + i, "insert", "r1", f"f{(b * 7 + i) % 20}.py",
                f"c{b}{i}", "x") for i in range(4)
        ]), b)
    out = t.compact(max_files_per_bucket=2)
    assert out["compacted_buckets"] == 2
    import pyarrow.parquet as pq
    snap = t.snapshot()
    for files in snap["buckets"].values():
        for e in files:
            paths = pq.read_table(
                f"{t.data_dir}/{e['file']}", columns=["path"]
            )["path"].to_pylist()
            assert paths == sorted(paths), e["file"]


def test_compact_cluster_by_enables_range_pruning(spark, tmp_path):
    """cluster_by=[seq] + target_rows_per_file: the rewrite sorts by seq
    and the task-local split yields files with DISJOINT seq ranges that
    the manifest records — a seq range filter then prunes whole files,
    and the filtered read stays exact."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=1)
    # 3 generations, each spanning the full seq range interleaved so
    # pre-compaction per-file seq ranges all overlap
    for b in range(3):
        t.append_batch(_batch(spark, [
            _ev(b + 3 * i, "insert", "r1", f"f{b}_{i}.py", f"c{b}{i}", "x")
            for i in range(20)
        ]), b)
    t.compact(max_files_per_bucket=1, target_rows_per_file=15,
              cluster_by=["seq"])
    snap = t.snapshot()
    entries = [e for fs in snap["buckets"].values() for e in fs]
    assert len(entries) == 4  # 60 rows / 15 per file
    ranges = sorted((e["stats"]["seq"][0], e["stats"]["seq"][1])
                    for e in entries)
    for (lo1, hi1), (lo2, _) in zip(ranges, ranges[1:]):
        assert hi1 < lo2  # disjoint seq ranges across split files
    hit = t.read(filters=[("seq", ">=", 45)])
    assert len(hit.inputFiles()) == 1  # 3 of 4 files pruned
    assert sorted(r.seq for r in hit.collect()) == list(range(45, 60))


def test_compact_cluster_by_unknown_column_fails_fast(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t2"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=1)
    for b in range(3):
        t.append_batch(_batch(spark, [_ev(b, "insert", "r1", "f.py",
                                          f"c{b}", "x")]), b)
    with pytest.raises(ValueError, match="cluster_by"):
        t.compact(max_files_per_bucket=1, cluster_by=["nope"])


def test_rebucket_cluster_by_relayouts_whole_table(spark, tmp_path):
    """rebucket(same count, cluster_by) is the full-table re-layout: all
    buckets come out clustered, state and ledger preserved."""
    t = LakeTable.create(spark, str(tmp_path / "t3"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    for b in range(2):
        t.append_batch(_batch(spark, [
            _ev(b + 2 * i, "insert", f"r{i % 4}", f"f{b}_{i}.py",
                f"c{b}{i}", "x") for i in range(20)
        ]), b)
    before = {(r.repo, r.path, r.seq) for r in t.read().collect()}
    t.rebucket(2, cluster_by=["seq"], target_rows_per_file=10)
    import pyarrow.parquet as pq
    snap = t.snapshot()
    for fs in snap["buckets"].values():
        for e in fs:
            seqs = pq.read_table(f"{t.data_dir}/{e['file']}",
                                 columns=["seq"])["seq"].to_pylist()
            assert seqs == sorted(seqs), e["file"]
            assert "seq" in e["stats"]
    assert {(r.repo, r.path, r.seq) for r in t.read().collect()} == before


def test_read_changes_spans_rebucket_boundary(spark, tmp_path):
    """A diff across a rebucket commit compares manifests whose bucket
    ids mean different things — the diff must still emit ONLY the real
    key changes, not phantom rows from the relayout."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    t.merge_batch(_batch(spark, [
        _ev(i, "insert", "r1", f"f{i}.py", f"c{i}", f"v{i}")
        for i in range(12)
    ]), 0)                                                    # v1
    t.rebucket(8)                                             # v2: relayout
    t.merge_batch(_batch(spark, [
        _ev(100, "update", "r1", "f3.py", "cx", "v3b"),
        _ev(101, "delete", "r1", "f7.py", "cy", None),
    ]), 1)                                                    # v3
    ch = {(r.path, r.change_type) for r in t.read_changes(1, 3).collect()}
    assert ch == {("f3.py", "update_postimage"), ("f7.py", "delete")}
    # the rebucket step alone is silent both ways
    assert t.read_changes(1, 2).count() == 0
    assert t.read_change_log(1, 2).count() == 0


def test_concurrent_writers_changefeed_race(spark, tmp_path, monkeypatch):
    """Same full-commit race on a changefeed table: the loser's CHANGE
    files are token-named orphans (never clobber the winner's), the
    retried merge emits a correct change file for its new version, and
    the composed log replays to the converged state."""
    from arlas_proc_spark.lake.table import ConcurrentCommitError
    path = str(tmp_path / "t")
    a = LakeTable.create(spark, path, SCHEMA, ["repo", "path"], "seq",
                         n_buckets=4, changefeed=True)
    b = LakeTable(spark, path)
    batch_a = _batch(spark, [_ev(1, "insert", "rA", "a.py", "cA", "vA")])
    batch_b = _batch(spark, [_ev(2, "insert", "rB", "b.py", "cB", "vB")])

    real_commit = LakeTable._commit_snapshot
    fired = []

    def hijack(self, snap, expected_version):
        if self is a and not fired:
            fired.append(True)
            b.merge_batch(batch_b, "writer-b")
        return real_commit(self, snap, expected_version)

    monkeypatch.setattr(LakeTable, "_commit_snapshot", hijack)
    with pytest.raises(ConcurrentCommitError):
        a.merge_batch(batch_a, "writer-a")
    a.merge_batch(batch_a, "writer-a")  # retry converges -> v2
    log = {(r.path, r.change_type) for r in a.read_change_log(0).collect()}
    assert log == {("a.py", "insert"), ("b.py", "insert")}
    # each surviving snapshot references exactly its own change files;
    # the loser's change files are orphans and GC'd
    import os as _os
    n_before = len(_os.listdir(a.changes_dir))
    gc = a.expire_snapshots(keep_last=10, orphan_grace_s=0)
    assert gc["orphan_changes_removed"] >= 1
    assert len(_os.listdir(a.changes_dir)) < n_before
    assert {(r.path, r.change_type)
            for r in a.read_change_log(0).collect()} == log


def test_change_log_files_project_up_after_evolution(spark, tmp_path):
    """Change files written under an older schema are read with their own
    schema and projected up by read_change_log — the evolved-in column
    reads as null on old change rows."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2,
                         changefeed=True)
    t.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1"),
    ]), 0)                                       # v1: change file, schema 0
    wide = spark.createDataFrame(
        [("r1", "b.py", "c2", 2, "w1", "py", "insert")],
        "repo string, path string, commit string, seq long,"
        " content string, lang string, op string")
    t.merge_batch(wide, 1)                       # v2: +lang
    log = {r.path: (r.change_type, r.content, r.lang)
           for r in t.read_change_log(0, 2).collect()}
    assert log == {"a.py": ("insert", "v1", None),
                   "b.py": ("insert", "w1", "py")}


def test_bucket_stats_driver_side(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    t.merge_batch(_batch(spark, [
        _ev(i, "insert", "r1", f"f{i}.py", f"c{i}", "x") for i in range(16)
    ]), 0)
    t.append_batch(_batch(spark, [
        _ev(100, "update", "r1", "f0.py", "cx", "y"),
    ]), 1)
    stats = t.bucket_stats()
    assert sum(s["rows"] for s in stats) == 17   # 16 cow + 1 mor gen
    assert all(s["bytes"] > 0 and s["files"] >= 1 for s in stats)
    assert any(s["mor"] for s in stats) and not all(s["mor"] for s in stats)


def test_changefeed_log_gap_marker_stamped_and_durable(spark, tmp_path):
    """Log-less commits (append-mode / overwrite) on a changefeed table
    are allowed — read_change_log snapshot-diffs them — but must stamp a
    DURABLE gap marker that raw-file feed tailers (ChangeLogReplicator)
    can refuse on, surviving later merges and compaction clearing
    mor_buckets (ADVICE r2)."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4,
                         changefeed=True)
    t.merge_batch(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1")]), 0)
    assert t.snapshot().get("log_gap_version") is None
    t.append_batch(_batch(spark, [
        _ev(2, "insert", "r1", "b.py", "c2", "w1")]), 1)      # v2: gap
    assert t.snapshot()["log_gap_version"] == 2
    # the marker survives a cow merge that clears the mor generation
    t.merge_batch(_batch(spark, [
        _ev(3, "update", "r1", "b.py", "c3", "w2")]), 2)
    t.compact()
    assert t.snapshot()["mor_buckets"] == []
    assert t.snapshot()["log_gap_version"] == 2
    # read_change_log still serves across the gap (diff fallback)
    log = {(r.path, r.change_type, r.content)
           for r in t.read_change_log(0).collect()}
    assert ("b.py", "update_postimage", "w2") in log
    # overwrite stamps too
    t2 = LakeTable.create(spark, str(tmp_path / "t2"), SCHEMA,
                          ["repo", "path"], "seq", n_buckets=4,
                          changefeed=True)
    t2.overwrite(_batch(spark, [
        _ev(1, "insert", "r1", "a.py", "c1", "v1")]).drop("op"))
    assert t2.snapshot()["log_gap_version"] == 1


def test_merge_set_properties_committed_atomically(spark, tmp_path):
    """set_properties lands in the SAME snapshot as the merge and is
    carried forward by later commits (Iceberg snapshot-summary
    pattern) — the substrate of lake/ivm.py's crash-safe cursor."""
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    t.merge_batch(_batch(spark, [_ev(1, "insert", "r1", "a.py", "c1", "v")]),
                  0, set_properties={"ivm.cursor": 7})
    assert t.snapshot()["properties"] == {"ivm.cursor": 7}
    # later commits (merge without properties, append, compact) carry it
    t.merge_batch(_batch(spark, [_ev(2, "update", "r1", "a.py", "c2", "w")]),
                  1)
    assert t.snapshot()["properties"] == {"ivm.cursor": 7}
    t.append_batch(_batch(spark, [_ev(3, "insert", "r2", "b.py", "c3", "x")]),
                   2)
    assert t.snapshot()["properties"] == {"ivm.cursor": 7}
    t.merge_batch(_batch(spark, [_ev(4, "update", "r2", "b.py", "c4", "y")]),
                  3, set_properties={"ivm.cursor": 9, "other": "z"})
    assert t.snapshot()["properties"] == {"ivm.cursor": 9, "other": "z"}


def test_orphan_gc_grace_spares_inflight_writer_files(spark, tmp_path):
    """expire_snapshots must NOT delete young unreferenced files: an
    in-flight writer stages data files under data/ for the whole write +
    footer-stats pass before its snapshot references them, so only files
    older than orphan_grace_s are orphan-GC'd (Iceberg's older_than)."""
    import os as _os
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2)
    for i in range(3):
        t.merge_batch(_batch(spark, [
            _ev(i, "insert", "r", f"f{i}", f"c{i}", f"v{i}")]), i)
    data_dir = _os.path.join(str(tmp_path / "t"), "data")
    # a "crashed writer from yesterday" (old orphan) and an in-flight
    # writer's fresh staging file (young orphan)
    old = _os.path.join(data_dir, "v98-dead-writer.parquet")
    young = _os.path.join(data_dir, "c99-inflight", "b=0", "part-0.parquet")
    open(old, "w").close()
    _os.utime(old, (1, 1))
    _os.makedirs(_os.path.dirname(young))
    open(young, "w").close()
    res = t.expire_snapshots(keep_last=10)  # default grace
    assert not _os.path.exists(old)
    assert _os.path.exists(young), "grace must spare in-flight staging"
    assert res["orphan_files_removed"] == 1
    # a later run with the grace elapsed (simulated) collects it
    _os.utime(young, (1, 1))
    res2 = t.expire_snapshots(keep_last=10)
    assert not _os.path.exists(young)
    assert res2["orphan_files_removed"] == 1


def test_commit_retries_converge_on_cas_conflict(spark, tmp_path):
    """merge_batch(commit_retries=N): a writer that loses the snapshot
    CAS re-merges against the fresh state and converges — both writers'
    rows land, both batch ids are ledgered exactly once."""
    from arlas_proc_spark.lake.table import ConcurrentCommitError
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4)
    t.merge_batch(_batch(spark, [_ev(1, "insert", "r1", "a.py", "c1",
                                     "v1")]), 0)
    rival = LakeTable(spark, str(tmp_path / "t"))
    rival_batch = _batch(spark, [_ev(2, "insert", "r2", "b.py", "c2",
                                     "from-rival")])
    real = t._commit_snapshot
    fired = []

    def sabotaged(snap, expected_version=None):
        if not fired:
            fired.append(True)
            rival.merge_batch(rival_batch, "rival")  # lands first
        return real(snap, expected_version=expected_version)

    t._commit_snapshot = sabotaged
    mine = _batch(spark, [_ev(3, "insert", "r3", "c.py", "c3", "from-me")])
    # without retries the conflict surfaces
    with pytest.raises(ConcurrentCommitError):
        t.merge_batch(mine, "mine")
    # with retries the loser re-merges and converges
    fired.clear()
    t.merge_batch(mine, "mine", commit_retries=2)
    t._commit_snapshot = real
    got = {(r.repo, r.path, r.content) for r in t.read().collect()}
    assert got == {("r1", "a.py", "v1"), ("r2", "b.py", "from-rival"),
                   ("r3", "c.py", "from-me")}
    # replay of the retried id is a ledgered no-op
    assert t.merge_batch(mine, "mine")["skipped"]
