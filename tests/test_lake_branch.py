"""Named branches (Iceberg branch refs — the multi-commit form of
write-audit-publish): merge_batch(branch=...) stacks commits on a chain
forked from a committed version without moving CURRENT; read_branch
audits any intermediate state; fast_forward publishes the whole chain as
ONE atomic commit (squash) with a parent CAS; drop_branch abandons it
and GC reclaims its files. Exactly-once composes across the publish: the
chain carries its own evolving ledger, and branch batch ids never reach
MAIN's ledger until fast-forward."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import types as T

from arlas_proc_spark.lake.table import ConcurrentCommitError, LakeTable

SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("seq", T.LongType(), True),
    T.StructField("content", T.StringType(), True),
])


def _batch(spark, rows):
    return spark.createDataFrame(
        rows, "seq long, op string, repo string, path string, content string"
    ).select("repo", "path", "seq", "content", "op")


def _make(spark, tmp_path, **kw):
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4, **kw)
    t.merge_batch(_batch(spark, [
        (i, "insert", f"r{i % 3}", f"f{i}.py", f"v{i}") for i in range(12)
    ]), 0)
    return t


def test_create_list_drop(spark, tmp_path):
    t = _make(spark, tmp_path)
    v0 = t.snapshot()["version"]
    got = t.create_branch("audit")
    assert got == {"branch": "audit", "parent": v0}
    assert t.branches() == {
        "audit": {"parent": v0, "commits": 0, "head_version": v0}}
    with pytest.raises(ValueError, match="already exists"):
        t.create_branch("audit")
    # commit-less branch reads = fork base state
    assert t.read_branch("audit").count() == 12
    t.drop_branch("audit")
    assert t.branches() == {}
    with pytest.raises(ValueError, match="no branch"):
        t.drop_branch("audit")
    with pytest.raises(ValueError, match="must be non-empty"):
        t.create_branch("bad name!")


def test_branch_commits_leave_main_untouched(spark, tmp_path):
    t = _make(spark, tmp_path)
    v0 = t.snapshot()["version"]
    t.create_branch("b")
    m = t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    assert m["branch"] == "b"
    t.merge_batch(_batch(spark, [
        (101, "delete", "r0", "f0.py", None)]), 2, branch="b")
    # main: unmoved, same rows, no ledger entries for branch batches
    assert t.snapshot()["version"] == v0
    assert t.read().count() == 12
    assert "1" not in t.committed_batch_ids()
    # branch head: both commits applied, own ledger
    assert t.read_branch("b").count() == 12  # +1 insert, -1 delete
    assert t.read_branch("b").where("repo = 'r9'").count() == 1
    assert t.read_branch("b").where("path = 'f0.py'").count() == 0
    info = t.branches()["b"]
    assert info["commits"] == 2 and info["head_version"] == v0 + 2
    # replaying a branch batch on the branch is a ledgered no-op
    again = t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    assert again["skipped"]


def test_fast_forward_publishes_chain_atomically(spark, tmp_path):
    t = _make(spark, tmp_path)
    v0 = t.snapshot()["version"]
    t.create_branch("b")
    t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    t.merge_batch(_batch(spark, [
        (101, "update", "r9", "new.py", "x2"),
        (102, "delete", "r0", "f0.py", None)]), 2, branch="b")
    got = t.fast_forward("b")
    assert got == {"branch": "b", "published_version": v0 + 1, "commits": 2}
    assert t.snapshot()["version"] == v0 + 1
    assert t.read().count() == 12
    assert [r.content for r in
            t.read().where("repo = 'r9'").collect()] == ["x2"]
    assert t.read().where("path = 'f0.py'").count() == 0
    assert t.branches() == {}
    # the chain's batch ids arrived WITH the publish: replays are no-ops
    assert t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1)["skipped"]
    assert t.merge_batch(_batch(spark, [
        (102, "delete", "r0", "f0.py", None)]), 2)["skipped"]


def test_fast_forward_cas_refuses_after_main_commit(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("b")
    t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    t.merge_batch(_batch(spark, [
        (200, "insert", "r8", "main.py", "m")]), 9)  # lands on main
    with pytest.raises(ConcurrentCommitError, match="forked at"):
        t.fast_forward("b")
    # recovery: the branch batch id never reached main's ledger, so a
    # re-merge onto main applies exactly once
    t.drop_branch("b")
    redo = t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1)
    assert not redo.get("skipped")
    assert t.read().where("repo = 'r9'").count() == 1


def test_concurrent_branch_writers_race_on_chain_file(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("b")
    # simulate a rival that appended chain entry 1 between this writer's
    # head read and its append: plant the file the writer will target
    rival = os.path.join(t.meta_dir, "branch-b-1.json")
    head = t.snapshot()
    with open(rival, "w") as f:
        json.dump({"branch": "b", "version": head["version"] + 1,
                   **{k: v for k, v in t._serialized(head).items()
                      if k != "version"}}, f)
    with pytest.raises(ConcurrentCommitError):
        t._branch_append("b", t.snapshot(), base_version=head["version"])
    # merge_batch(commit_retries=...) recovers by re-merging from the
    # new head (ConcurrentCommitError surfaces without retries)
    m = t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1,
        branch="b", commit_retries=2)
    assert m["branch"] == "b"
    assert t.read_branch("b").where("repo = 'r9'").count() == 1


def test_fast_forward_empty_branch_is_a_noop_drop(spark, tmp_path):
    t = _make(spark, tmp_path)
    v0 = t.snapshot()["version"]
    t.create_branch("b")
    got = t.fast_forward("b")
    assert got == {"branch": "b", "published_version": None, "commits": 0}
    assert t.snapshot()["version"] == v0
    assert t.branches() == {}


def test_branch_and_wap_are_mutually_exclusive(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("b")
    with pytest.raises(ValueError, match="mutually exclusive"):
        t.merge_batch(_batch(spark, [
            (100, "insert", "r9", "new.py", "x")]), 1,
            branch="b", wap_id="w")


def test_changefeed_across_fast_forward(spark, tmp_path):
    """Single-commit branch: change files publish directly (a normal
    commit to consumers). Multi-commit squash: branch-local
    _change_version stamps would collide with future main commits'
    stamps, so the publish stamps log_gap_version and read_change_log
    serves NET transitions via snapshot diff."""
    t = _make(spark, tmp_path, changefeed=True)
    v0 = t.snapshot()["version"]
    # --- single-commit branch: direct file serving, correct stamp
    t.create_branch("one")
    t.merge_batch(_batch(spark, [
        (90, "insert", "r8", "solo.py", "s")]), 1, branch="one")
    t.fast_forward("one")
    assert "log_gap_version" not in t.snapshot()
    ch1 = t.read_change_log(v0, v0 + 1, with_version=True).collect()
    assert [(r.change_type, r._change_version) for r in ch1
            if r.path == "solo.py"] == [("insert", v0 + 1)]
    # --- multi-commit branch: net transitions via the log-gap fallback
    t.create_branch("b")
    t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 2, branch="b")
    t.merge_batch(_batch(spark, [
        (101, "update", "r9", "new.py", "x2")]), 3, branch="b")
    t.fast_forward("b")
    assert t.snapshot()["log_gap_version"] == v0 + 2
    ch = t.read_change_log(v0 + 1, v0 + 2, with_version=True).collect()
    got = [(r.change_type, r.content, r._change_version) for r in ch
           if r.path == "new.py"]
    # the chain's insert+update NET to one insert carrying the final value
    assert got == [("insert", "x2", v0 + 2)]


def test_schema_evolution_on_branch_publishes_with_chain(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("b")
    wide = spark.createDataFrame(
        [(100, "insert", "r9", "new.py", "x", "py")],
        "seq long, op string, repo string, path string, content string,"
        " lang string").select("repo", "path", "seq", "content", "lang",
                               "op")
    t.merge_batch(wide, 1, branch="b")
    # main schema unchanged until publish
    assert "lang" not in [f.name for f in t.schema.fields]
    assert "lang" in [c for c in t.read_branch("b").columns]
    t.fast_forward("b")
    assert "lang" in [f.name for f in t.schema.fields]
    got = t.read().where("repo = 'r9'").collect()
    assert got[0].lang == "py"
    # pre-branch rows read NULL for the added column
    assert t.read().where("repo = 'r0'").collect()[0].lang is None


def test_delete_where_on_branch(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("b")
    m = t.delete_where("repo = 'r0'", "gdpr-1", branch="b")
    assert m["rows_deleted"] == 4  # r0 owns f0,f3,f6,f9
    assert t.read().where("repo = 'r0'").count() == 4  # main untouched
    assert t.read_branch("b").where("repo = 'r0'").count() == 0
    t.fast_forward("b")
    assert t.read().where("repo = 'r0'").count() == 0


def test_gc_pins_branch_files_until_drop(spark, tmp_path):
    t = _make(spark, tmp_path)
    t.create_branch("b")
    t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    # churn main so old snapshots expire (fork base must stay pinned)
    for i in range(3):
        t.merge_batch(_batch(spark, [
            (200 + i, "update", "r1", "f1.py", f"m{i}")]), 10 + i)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    # the branch still reads fully (its files and fork base survived)
    assert t.read_branch("b").where("repo = 'r9'").count() == 1
    assert t.read_branch("b").count() == 13
    # after drop, the branch's staged data files become orphans
    t.drop_branch("b")
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    dropped = t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    assert dropped["orphan_files_removed"] == 0  # already swept clean
    assert t.read().count() == 12  # main unaffected throughout


def test_staged_change_files_hidden_from_raw_tailers(spark, tmp_path):
    """A raw change-feed tailer (ChangeLogReplicator and relay jobs read
    the changes/ dir as a file-source WAL) must NEVER see change files
    from an unpublished branch or WAP stage — they land under
    changes/.staged/<token>/ (dot prefix: invisible to Spark listings)
    and move into changes/ only at publish."""
    t = _make(spark, tmp_path, changefeed=True)
    t.merge_batch(_batch(spark, [
        (200, "insert", "r8", "wapped.py", "w")]), 2, wap_id="w")
    t.create_branch("b")
    t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    visible = [f for f in os.listdir(t.changes_dir) if f != ".staged"]
    # only the seed batch's change files are published
    assert all(f.startswith("c1-") for f in visible), visible
    # what a directory-listing reader resolves: no staged rows leak
    tailed = spark.read.schema(
        t.read_change_log(0, 1).schema).parquet(t.changes_dir)
    assert tailed.where("path = 'new.py'").count() == 0
    assert tailed.where("path = 'wapped.py'").count() == 0
    # publish the branch: its files move into changes/, tailers discover
    # them late; the wap (also forked at v1) is invalidated by the
    # branch publish — the staging hole it leaves is GC-able, not tailed
    t.fast_forward("b")
    tailed = spark.read.schema(tailed.schema).parquet(t.changes_dir)
    assert tailed.where("path = 'new.py'").count() == 1
    assert tailed.where("path = 'wapped.py'").count() == 0
    t.abandon_wap("w")
    # a dropped branch's staged files are GC-able orphans
    t.create_branch("dead")
    t.merge_batch(_batch(spark, [
        (300, "insert", "r7", "never.py", "n")]), 3, branch="dead")
    t.drop_branch("dead")
    t.expire_snapshots(keep_last=1, orphan_grace_s=0.0)
    staged_root = os.path.join(t.changes_dir, ".staged")
    assert os.listdir(staged_root) == []


def test_streaming_ingest_into_branch(spark, tmp_path):
    """A whole WAL drain lands on an audit branch (every merge AND the
    trailing empty batch), main never moves, and fast_forward publishes
    the converged state atomically — the multi-commit WAP workflow over
    the real ingest path."""
    import duckdb

    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import (final_state_sql,
                                                     write_changefeed_batches)
    from arlas_proc_spark.streaming.ingest import StreamingIngest
    n = 1500
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, n, n_batches=3)
    # seed the table (branch ingest needs an existing table to fork)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8)
    t = eng.table
    v0 = t.snapshot()["version"]
    t.create_branch("ingest")
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8,
                          branch="ingest")
    ing.run_to_completion(wal, str(tmp_path / "ckpt"),
                          max_files_per_trigger=1)
    assert t.snapshot()["version"] == v0  # main never moved
    assert t.read().count() == 0
    oracle = {(r.repo, r.path): (int(r.seq), r.content_sha256)
              for r in duckdb.sql(
                  final_state_sql(n, dialect="duckdb")).fetchdf()
              .itertuples()}
    got = {(r.repo, r.path): (r.seq, r.content_sha256)
           for r in t.read_branch("ingest").collect()}
    assert got == oracle
    t.fast_forward("ingest")
    got_main = {(r.repo, r.path): (r.seq, r.content_sha256)
                for r in t.read().collect()}
    assert got_main == oracle


def test_branch_ingest_refuses_main_side_effects(spark, tmp_path):
    from arlas_proc_spark.streaming.ingest import StreamingIngest
    _make(spark, tmp_path)
    with pytest.raises(ValueError, match="act on main"):
        StreamingIngest(spark, str(tmp_path / "t"), branch="b",
                        compact_every=4)
    from arlas_proc_spark.cdc.engine import CdcEngine
    with pytest.raises(ValueError, match="cow"):
        CdcEngine(spark, str(tmp_path / "t"), write_mode="mor",
                  branch="b")


def test_branch_from_older_version(spark, tmp_path):
    t = _make(spark, tmp_path)
    v0 = t.snapshot()["version"]
    t.merge_batch(_batch(spark, [
        (200, "insert", "r8", "late.py", "z")]), 5)
    t.create_branch("old", version=v0)
    assert t.read_branch("old").count() == 12  # pre-late.py state
    t.merge_batch(_batch(spark, [
        (300, "insert", "r7", "b.py", "w")]), 6, branch="old")
    # fast-forward refuses: main moved past the fork base
    with pytest.raises(ConcurrentCommitError):
        t.fast_forward("old")
    # but the branch remains a readable sandbox of the old state
    assert t.read_branch("old").count() == 13
    with pytest.raises(ValueError, match="not found"):
        t.create_branch("ghost", version=v0 + 99)


def test_sealed_branch_refuses_appends_and_publish_resumes(spark, tmp_path):
    """fast_forward seals the chain (O_EXCL sentinel at the next index)
    before publishing, so an acknowledged branch commit can never slip
    in between the publish's chain read and the chain drop and be
    silently deleted. A seal left by a crashed publish is resumable."""
    import json as _json
    t = _make(spark, tmp_path)
    t.create_branch("b")
    t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    # simulate a crashed publish: the seal exists, CURRENT unmoved
    seal = os.path.join(t.meta_dir, "branch-b-2.json")
    with open(seal, "w") as f:
        _json.dump({"branch": "b", "sealed": True}, f)
    # reads stay transparent; listing reports the seal
    assert t.read_branch("b").where("repo = 'r9'").count() == 1
    assert t.branches()["b"]["sealed"] is True
    # appends refuse loudly
    with pytest.raises(ConcurrentCommitError, match="sealed"):
        t.merge_batch(_batch(spark, [
            (101, "insert", "r8", "other.py", "y")]), 2, branch="b")
    # re-running fast_forward resumes the crashed publish
    got = t.fast_forward("b")
    assert got["commits"] == 1
    assert t.read().where("repo = 'r9'").count() == 1
    assert t.branches() == {}


def test_publish_loses_race_to_concurrent_append(spark, tmp_path):
    """A writer whose append lands BETWEEN the publish's chain read and
    its seal makes the seal's O_EXCL link fail — fast_forward refuses,
    the acknowledged append survives, and the retry publishes BOTH
    commits (without the seal that append would have been silently
    deleted with the chain)."""
    import json as _json
    t = _make(spark, tmp_path)
    t.create_branch("b")
    t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    head = t._branch_head("b")
    rival = dict(t._serialized(head))
    rival["version"] = head["version"] + 1
    rival["branch"] = "b"
    real = t._load_branch_docs
    fired = {"n": 0}

    def race_once(name):
        docs = real(name)
        if name == "b" and fired["n"] == 0:
            fired["n"] += 1
            # the rival's append lands right AFTER this read — exactly
            # the window the seal exists to fence
            with open(os.path.join(
                    t.meta_dir, f"branch-b-{len(docs)}.json"), "w") as f:
                _json.dump(rival, f)
        return docs

    t._load_branch_docs = race_once
    try:
        with pytest.raises(ConcurrentCommitError, match="appended while"):
            t.fast_forward("b")
    finally:
        del t._load_branch_docs
    # the rival's commit is intact; a retry publishes BOTH
    assert t.branches()["b"]["commits"] == 2
    got = t.fast_forward("b")
    assert got["commits"] == 2


def test_rebase_refused_on_row_lineage_tables(spark, tmp_path):
    """A metadata-only rival (empty batch) leaves next_row_id untouched,
    so the unknown-key refusal alone would let a rebase attach files
    whose id ranges were never accounted — lineage tables must always
    repay the full re-merge."""
    t = LakeTable.create(spark, str(tmp_path / "lin"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=2,
                         row_lineage=True)
    t.merge_batch(_batch(spark, [
        (1, "insert", "r0", "a.py", "v")]), 0)
    t.commit_empty_batch("rival-empty")
    # the lineage guard fires before any ctx internals are consulted
    assert t._try_rebase({"bid": "never-committed",
                          "ledger_scope": "default"}) is None


def test_branch_ingest_refusal_leaves_no_table_behind(spark, tmp_path):
    """The branch/main-side-effect incompatibility check runs BEFORE the
    engine constructs, so a refused combination cannot leave a freshly
    created (flag-frozen) table on disk."""
    from arlas_proc_spark.streaming.ingest import StreamingIngest
    path = str(tmp_path / "never")
    with pytest.raises(ValueError, match="act on main"):
        StreamingIngest(spark, path, branch="b", compact_every=4)
    assert not os.path.exists(path)


def test_iceberg_backend_accepts_branch_kwargs(spark):
    """CdcEngine(branch=...) passes branch= to merge_batch AND
    commit_empty_batch (every availableNow drain ends with an empty
    batch) — the Iceberg seam must accept both or branch ingest dies on
    the first empty micro-batch."""
    import inspect

    from arlas_proc_spark.lake.iceberg import IcebergTableIO
    for m in (IcebergTableIO.merge_batch, IcebergTableIO.commit_empty_batch):
        assert "branch" in inspect.signature(m).parameters, m.__name__


def test_refs_df_lists_main_tags_and_branches(spark, tmp_path):
    """Iceberg's table.refs: one frame over main + tags + branches,
    metadata-only."""
    t = _make(spark, tmp_path)
    pinned = t.snapshot()["version"]
    t.set_tag("release-1")      # the pin commit itself advances main
    v0 = t.snapshot()["version"]
    t.create_branch("b")
    t.merge_batch(_batch(spark, [
        (100, "insert", "r9", "new.py", "x")]), 1, branch="b")
    refs = {r.name: r for r in t.refs_df().collect()}
    assert refs["main"].type == "branch" and refs["main"].version == v0
    assert refs["release-1"].type == "tag" \
        and refs["release-1"].version == pinned
    b = refs["b"]
    assert (b.type, b.version, b.fork_parent, b.staged_commits,
            b.sealed) == ("branch", v0 + 1, v0, 1, False)


def test_expire_snapshots_tolerates_concurrent_drop_branch(
        spark, tmp_path, monkeypatch):
    """ADVICE r5 (low), hardened by the r5 self-review: a drop_branch /
    publish racing expire_snapshots removes staged metadata between the
    GC's listdir and its open. The GC must RE-SCAN from a fresh listing
    (continuing with the stale keep set could sweep a just-published
    long-staged file) and converge once the racer is done; if racers
    never stop, it fails safely with nothing deleted."""
    t = _make(spark, tmp_path)
    t.merge_batch(_batch(spark, [
        (100, "update", "r0", "f0.py", "u")]), 1)
    import arlas_proc_spark.lake.table as table_mod
    real_listdir = os.listdir
    raced = {"n": 0}

    def ghost_listdir(p):
        names = real_listdir(p)
        if os.path.abspath(p) == os.path.abspath(t.meta_dir) \
                and raced["n"] < 3:
            # the ghost rides every meta listing of the FIRST scan
            # attempt (names, waps, branches = 3 listdir calls) and is
            # gone by the re-scan — the normal one-shot race
            raced["n"] += 1
            names = list(names) + ["branch-ghost-0000000000.json"]
        return names

    monkeypatch.setattr(table_mod.os, "listdir", ghost_listdir)
    res = t.expire_snapshots(keep_last=1)
    assert raced["n"] > 0          # the race actually fired
    assert res["snapshots_expired"] >= 0
    assert t.read().count() == 12

    # endless racing (metadata vanishing on EVERY attempt) fails safely
    def always_ghost(p):
        names = real_listdir(p)
        if os.path.abspath(p) == os.path.abspath(t.meta_dir):
            names = list(names) + ["branch-ghost2-0000000000.json"]
        return names

    monkeypatch.setattr(table_mod.os, "listdir", always_ghost)
    n_files = sum(len(fs) for _, _, fs in os.walk(t.data_dir))
    with pytest.raises(OSError, match="vanishing mid-scan"):
        t.expire_snapshots(keep_last=1)
    assert sum(len(fs) for _, _, fs in os.walk(t.data_dir)) == n_files
