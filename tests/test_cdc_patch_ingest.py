"""Sparse-update (patch_cols) ingestion through the engine and the
streaming tail: null payload columns mean "unchanged" and fold to the
latest non-null donor event, with the derived content_sha256 folding
alongside its base column. Multi-batch streaming must converge to the
single-batch fold."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from arlas_proc_spark.cdc.engine import CdcEngine
from arlas_proc_spark.lake.table import LakeTable
from arlas_proc_spark.sources.changefeed import changefeed_df
from arlas_proc_spark.streaming import StreamingIngest

N = 1200


def _sparse_feed(spark, n=N):
    feed = changefeed_df(spark, n)
    return (feed
            .withColumn("lang", F.when(
                (F.col("op") == "update") & (F.col("seq") % 3 == 0),
                F.lit(None).cast("string")).otherwise(F.col("lang")))
            .withColumn("content", F.when(
                (F.col("op") == "update") & (F.col("seq") % 5 == 0),
                F.lit(None).cast("string")).otherwise(F.col("content"))))


def _state(engine):
    return {(r.repo, r.path):
            (r.seq, r.lang, r.content, r.content_sha256)
            for r in engine.state().collect()}


def test_engine_patch_folds_and_sha_tracks_content(spark, tmp_path):
    sparse = _sparse_feed(spark)
    eng = CdcEngine(spark, str(tmp_path / "t"), n_buckets=8,
                    patch_cols=["lang", "content"])
    assert eng.patch_cols == ["lang", "content", "content_sha256"]
    half = N // 2
    eng.apply_batch(sparse.where(F.col("seq") < half), 0)
    eng.apply_batch(sparse.where(F.col("seq") >= half), 1)
    got = _state(eng)

    one = CdcEngine(spark, str(tmp_path / "one"), n_buckets=8,
                    patch_cols=["lang", "content"])
    one.apply_batch(sparse, 0)
    assert got == _state(one)

    # the fold actually fired: some winners carried nulls yet read back
    # non-null, and sha256 always matches its content donor
    import hashlib
    n_filled = 0
    for (repo, path), (seq, lang, content, sha) in got.items():
        if content is None:
            assert sha is None, (repo, path)
        else:
            assert sha == hashlib.sha256(content.encode()).hexdigest()
        if seq % 3 == 0 or seq % 5 == 0:
            n_filled += int(lang is not None or content is not None)
    assert n_filled > 0


def test_engine_patch_requires_cow(spark, tmp_path):
    with pytest.raises(ValueError, match="cow"):
        CdcEngine(spark, str(tmp_path / "t"), write_mode="mor",
                  patch_cols=["lang"])


def _write_wal(spark, feed, wal_dir, cuts):
    os.makedirs(wal_dir, exist_ok=True)
    for i, (lo, hi) in enumerate(cuts):
        seg = feed.where((F.col("seq") >= lo) & (F.col("seq") < hi))
        tmp = f"{wal_dir}/.tmp{i}"
        seg.coalesce(1).write.parquet(tmp)
        part = [f for f in os.listdir(tmp) if f.endswith(".parquet")][0]
        shutil.move(f"{tmp}/{part}", f"{wal_dir}/seg{i:04d}.parquet")
        shutil.rmtree(tmp)


def test_streaming_patch_ingest_converges(spark, tmp_path):
    sparse = _sparse_feed(spark)
    wal = str(tmp_path / "wal")
    _write_wal(spark, sparse, wal,
               [(0, 300), (300, 600), (600, 900), (900, N)])
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8,
                          patch_cols=["lang", "content"])
    ing.run_to_completion(wal, str(tmp_path / "ckpt"),
                          max_files_per_trigger=2)
    got = _state(ing.engine)

    one = CdcEngine(spark, str(tmp_path / "one"), n_buckets=8,
                    patch_cols=["lang", "content"])
    one.apply_batch(sparse, 0)
    assert got == _state(one)

    # exactly-once: re-running the drained stream changes nothing
    v = ing.engine.table.snapshot()["version"]
    ing2 = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=8,
                           patch_cols=["lang", "content"])
    ing2.run_to_completion(wal, str(tmp_path / "ckpt"),
                           max_files_per_trigger=2)
    assert ing2.engine.table.snapshot()["version"] == v
    assert _state(ing2.engine) == got
