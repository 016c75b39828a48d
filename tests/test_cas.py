"""CommitCAS seam (lake/cas.py): every atomicity decision — snapshot
commit, WAP stage, branch chain append, publish seal, catalog flip —
routes through one injectable primitive (exclusive create + conditional
pointer swing), with the posix implementation as default. An
object-store deployment swaps the implementation, not the callers.
Fault injection: a writer whose pointer swing loses to a rival that
committed mid-merge must converge via retry, exactly-once."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arlas_proc_spark.lake.cas import CasConflict, CommitCAS, PosixCAS
from arlas_proc_spark.lake.catalog import Catalog
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


class CountingCAS(CommitCAS):
    """Delegates to posix, counting calls — proves a code path actually
    rides the seam instead of raw filesystem calls."""

    def __init__(self):
        self.inner = PosixCAS()
        self.counts = {"read_pointer": 0, "swing_pointer": 0,
                       "create_exclusive": 0, "remove": 0}

    def read_pointer(self, path):
        self.counts["read_pointer"] += 1
        return self.inner.read_pointer(path)

    def swing_pointer(self, path, value, expected=None):
        self.counts["swing_pointer"] += 1
        self.inner.swing_pointer(path, value, expected)

    def create_exclusive(self, path, body):
        self.counts["create_exclusive"] += 1
        self.inner.create_exclusive(path, body)

    def remove(self, path):
        self.counts["remove"] += 1
        self.inner.remove(path)


class LosingCAS(CountingCAS):
    """Injects a rival commit right before this handle's FIRST attempt
    to claim a snapshot name — the rival takes the version first, so the
    exclusive create must lose. This is the exact interleaving an
    optimistic committer must survive on any backend (on S3 it is two
    If-None-Match puts racing for one key)."""

    def __init__(self, rival):
        super().__init__()
        self._rival = rival
        self.injected = 0

    def create_exclusive(self, path, body):
        if self._rival is not None and \
                os.path.basename(path).startswith("v"):
            rival, self._rival = self._rival, None
            rival()
            self.injected += 1
        super().create_exclusive(path, body)


def test_posix_cas_primitives(tmp_path):
    cas = PosixCAS()
    p = str(tmp_path / "obj")
    cas.create_exclusive(p, "hello")
    assert open(p).read() == "hello"
    with pytest.raises(CasConflict):
        cas.create_exclusive(p, "other")
    assert open(p).read() == "hello"   # loser never clobbers
    ptr = str(tmp_path / "PTR")
    cas.swing_pointer(ptr, "a", expected=None)
    assert cas.read_pointer(ptr) == "a"
    cas.swing_pointer(ptr, "b", expected="a")
    with pytest.raises(CasConflict) as ei:
        cas.swing_pointer(ptr, "c", expected="a")
    assert ei.value.found == "b"
    assert cas.read_pointer(ptr) == "b"
    # the bootstrap swing is create-only (If-None-Match: *): a second one
    # loses and leaves the live pointer and no tmp file behind
    with pytest.raises(CasConflict) as ei:
        cas.swing_pointer(ptr, "a", expected=None)
    assert ei.value.found == "b"
    assert cas.read_pointer(ptr) == "b"
    assert sorted(os.listdir(tmp_path)) == ["PTR", "obj"]
    cas.remove(p)
    cas.remove(p)  # idempotent


def test_every_commit_path_rides_the_seam(spark, tmp_path):
    cas = CountingCAS()
    t = LakeTable.create(spark, str(tmp_path / "t"), SCHEMA,
                         ["repo", "path"], "seq", n_buckets=4, cas=cas)
    t.merge_batch(_batch(spark, [
        (i, "insert", "r0", f"f{i}.py", "x") for i in range(6)]), 0)
    # WAP: stage is an exclusive create, publish is a snapshot commit
    t.merge_batch(_batch(spark, [(10, "update", "r0", "f0.py", "w")]),
                  1, wap_id="audit1")
    t.publish_wap("audit1")
    # branch chain: fork marker + chain append + seal + squash commit
    t.create_branch("b")
    t.merge_batch(_batch(spark, [(20, "update", "r0", "f1.py", "b")]),
                  2, branch="b")
    t.fast_forward("b")
    c = cas.counts
    # 4 snapshot commits (create, merge, publish, squash) + wap stage +
    # branch fork + chain append + seal — all exclusive creates
    assert c["create_exclusive"] >= 8
    assert c["swing_pointer"] >= 4     # one CURRENT swing per commit
    assert c["read_pointer"] > 0
    assert t.read().count() == 6

    cat = Catalog.create(spark, str(tmp_path / "cat"), cas=cas)
    before = cas.counts["swing_pointer"]
    cat.register("t", str(tmp_path / "t"))
    assert cas.counts["swing_pointer"] > before


def test_cas_loser_converges_exactly_once(spark, tmp_path):
    """The fault-injection drill the seam exists for: writer B's pointer
    swing loses because rival A committed between B's snapshot read and
    B's commit. B must fail the conditional swing (never clobber A),
    leave only GC-able orphans, and converge on retry with BOTH batches
    applied exactly once."""
    path = str(tmp_path / "t")
    LakeTable.create(spark, path, SCHEMA, ["repo", "path"], "seq",
                     n_buckets=4)
    a = LakeTable(spark, path)   # rival on the default posix CAS

    def rival_commit():
        a.merge_batch(_batch(spark, [
            (50, "insert", "rA", "a.py", "from-A")]), "batch-A")

    cas = LosingCAS(rival_commit)
    b = LakeTable(spark, path, cas=cas)
    b.merge_batch(_batch(spark, [
        (60, "insert", "rB", "b.py", "from-B")]), "batch-B",
        commit_retries=3)
    assert cas.injected == 1     # the race actually happened
    state = {(r.repo, r.path): r.content for r in b.read().collect()}
    assert state == {("rA", "a.py"): "from-A", ("rB", "b.py"): "from-B"}
    led = b.snapshot()["ledger"]
    recent = json.dumps(led)
    assert "batch-A" in recent and "batch-B" in recent
    # replaying the loser's batch is a ledgered no-op
    v = b.snapshot()["version"]
    b.merge_batch(_batch(spark, [
        (60, "insert", "rB", "b.py", "from-B")]), "batch-B")
    assert b.snapshot()["version"] == v


def test_cas_loser_without_retries_fails_clean(spark, tmp_path):
    path = str(tmp_path / "t")
    LakeTable.create(spark, path, SCHEMA, ["repo", "path"], "seq",
                     n_buckets=4)
    a = LakeTable(spark, path)

    cas = LosingCAS(lambda: a.merge_batch(_batch(spark, [
        (50, "insert", "rA", "a.py", "from-A")]), "batch-A"))
    b = LakeTable(spark, path, cas=cas)
    with pytest.raises(ConcurrentCommitError):
        b.merge_batch(_batch(spark, [
            (60, "insert", "rB", "b.py", "from-B")]), "batch-B")
    # the rival's commit is intact; the loser's version file was removed
    assert {r.repo for r in a.read().collect()} == {"rA"}
    names = sorted(f for f in os.listdir(os.path.join(path, "meta"))
                   if f.startswith("v") and f.endswith(".json"))
    assert names[-1] == f"v{a.snapshot()['version']:010d}.json"
