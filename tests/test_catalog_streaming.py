"""Streaming loop × catalog: per-micro-batch atomic multi-table
visibility (StreamingIngest(catalog=...)).

The guarantee under test: a catalog reader sees each micro-batch's table
merge AND its downstream view refreshes appear TOGETHER (one catalog
flip per committed batch), never the torn table-new/view-old state; a
crash between the table commit and the flip leaves catalog readers on
the previous consistent set and converges on resume; entries belonging
to other pipelines sharing the catalog are never touched."""

from __future__ import annotations

import pytest
from pyspark.sql import types as T

from arlas_proc_spark.lake.catalog import Catalog
from arlas_proc_spark.lake.ivm import IncrementalAggView
from arlas_proc_spark.lake.table import LakeTable
from arlas_proc_spark.sources.changefeed import write_changefeed_batches
from arlas_proc_spark.streaming.ingest import StreamingIngest

N = 1500


def _mk(spark, tmp_path, *, register=True):
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, N, n_batches=4)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8)
    view = IncrementalAggView(spark, str(tmp_path / "view"),
                              ing.engine.table, ["repo"],
                              {"sum_len": "length(content)"}, n_buckets=8)
    ing.views.append(view)
    cat = Catalog.create(spark, str(tmp_path / "cat"))
    if register:
        cat.register("src", ing.engine.table.path)
        cat.register("repo_stats", view.table.path)
    ing.catalog = cat
    return wal, ing, view, cat


def _consistent(spark, cat):
    """Assert the catalog's pinned (src, repo_stats) pair is internally
    consistent: the view state equals a recompute over the pinned src."""
    from pyspark.sql import functions as F
    src = cat.read("src")
    stats = {r.repo: (r.n_rows, r.sum_len)
             for r in cat.read("repo_stats").collect()}
    truth = {r.repo: (r.n_rows, r.sum_len)
             for r in src.groupBy("repo")
             .agg(F.count("*").alias("n_rows"),
                  F.sum(F.length("content")).alias("sum_len"))
             .collect()}
    assert stats == truth and len(stats) > 0
    return stats


def test_stream_flips_catalog_per_batch_and_ends_consistent(spark, tmp_path):
    wal, ing, view, cat = _mk(spark, tmp_path)
    v0 = cat.snapshot()["version"]
    ing.run_to_completion(wal, str(tmp_path / "ckpt"),
                          max_files_per_trigger=1)
    snap = cat.snapshot()
    # one flip per committed micro-batch (4 WAL segments, mfpt=1)
    assert snap["version"] - v0 == 4
    # pins match the single-writer tables' CURRENT
    assert snap["tables"]["src"]["version"] == \
        ing.engine.table.snapshot()["version"]
    assert snap["tables"]["repo_stats"]["version"] == \
        view.table.snapshot()["version"]
    _consistent(spark, cat)
    # every historical catalog version is ALSO a consistent pair
    for cv in range(v0 + 1, snap["version"] + 1):
        s = cat.snapshot_at(cv)
        assert s["tables"]["repo_stats"]["version"] >= 1


def test_crash_before_flip_leaves_old_set_then_converges(spark, tmp_path):
    """Fail the stream AFTER the table merge + view refresh of batch 2
    but BEFORE its catalog flip: catalog readers stay on batch 1's
    consistent pair; a resumed stream replays batch 2 (table/view merges
    no-op via their ledgers) and lands the flip exactly once."""
    wal, ing, view, cat = _mk(spark, tmp_path)
    ckpt = str(tmp_path / "ckpt")

    real_publish = ing._publish_catalog
    calls = {"n": 0}

    def boom(batch_id):
        if calls["n"] >= 2:
            raise RuntimeError("simulated crash before catalog flip")
        calls["n"] += 1
        return real_publish(batch_id)

    ing._publish_catalog = boom
    with pytest.raises(Exception):
        ing.run_to_completion(wal, ckpt, max_files_per_trigger=1)
    mid = cat.snapshot()
    # batch 2's table commit is AHEAD of the catalog — invisible through it
    assert mid["tables"]["src"]["version"] < \
        ing.engine.table.snapshot()["version"]
    _consistent(spark, cat)

    # resume with a fresh (unpatched) ingest on the same checkpoint
    ing2 = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8,
                           catalog=cat)
    ing2.views.append(view)
    ing2.run_to_completion(wal, ckpt, max_files_per_trigger=1)
    snap = cat.snapshot()
    assert snap["tables"]["src"]["version"] == \
        ing2.engine.table.snapshot()["version"]
    final = _consistent(spark, cat)
    assert sum(n for n, _ in final.values()) == \
        ing2.engine.table.read().count()
    # replaying the WHOLE drain again: merges no-op AND flips no-op —
    # the catalog version must not move
    v_before = snap["version"]
    ing3 = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8,
                           catalog=cat)
    ing3.views.append(view)
    ing3.run_to_completion(wal, ckpt, max_files_per_trigger=1)
    assert cat.snapshot()["version"] == v_before


def test_foreign_catalog_entries_never_touched(spark, tmp_path):
    """A shared catalog: this pipeline's flips advance only ITS entries;
    another pipeline's pin stays where its own transactions put it even
    though that table's CURRENT moved."""
    wal, ing, view, cat = _mk(spark, tmp_path)
    schema = T.StructType([
        T.StructField("k", T.StringType(), False),
        T.StructField("seq", T.LongType(), True),
    ])
    other = LakeTable.create(spark, str(tmp_path / "other"), schema,
                             ["k"], "seq", n_buckets=2)
    cat.register("other", other.path)          # pinned at v0
    pin0 = cat.tables()["other"]["version"]
    # other table advances OUTSIDE any catalog transaction
    other.merge_batch(
        spark.createDataFrame([("a", 1, "insert")], "k string, seq long, "
                              "op string"), "b0")
    ing.run_to_completion(wal, str(tmp_path / "ckpt"),
                          max_files_per_trigger=2)
    snap = cat.snapshot()
    assert snap["tables"]["other"]["version"] == pin0          # untouched
    assert snap["tables"]["src"]["version"] == \
        ing.engine.table.snapshot()["version"]                 # flipped


def test_no_registered_entries_is_a_noop(spark, tmp_path):
    """A catalog with no entries for this pipeline: the stream runs
    normally and never commits a catalog version."""
    wal, ing, view, cat = _mk(spark, tmp_path, register=False)
    v0 = cat.snapshot()["version"]
    ing.run_to_completion(wal, str(tmp_path / "ckpt"),
                          max_files_per_trigger=2)
    assert cat.snapshot()["version"] == v0
    assert ing.engine.table.read().count() > 0
