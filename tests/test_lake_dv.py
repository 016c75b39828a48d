"""Deletion-vector merges (merge_batch(dv=True) / CdcEngine
write_mode='dv'): logical semantics identical to copy-on-write, physical
shape = append changed rows + mask superseded (file, position) addresses
— Delta deletion vectors / Iceberg v2 positional deletes, expressed with
Spark's ``_metadata.row_index`` and a broadcast anti-join.

Reference analog: the keyed idempotent sink semantics of
``sql/WritableDataFrame.scala:83-86`` (S5/J3) — same MERGE contract,
third physical strategy next to cow and merge-on-read.
"""

from __future__ import annotations

import glob
import os
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arlas_proc_spark.lake.table import LakeTable, _DV_FILE, _DV_POS

SCHEMA = T.StructType([
    T.StructField("k", T.LongType(), False),
    T.StructField("seq", T.LongType(), True),
    T.StructField("v", T.StringType(), True),
])


def _batch(spark, rows):
    return spark.createDataFrame(rows,
                                 "k long, seq long, v string, op string")


def _state(t, **kw):
    return sorted((r.k, r.seq, r.v) for r in t.read(**kw).collect())


def _base(spark, path, n=10, n_buckets=2, **create_kw):
    t = LakeTable.create(spark, path, SCHEMA, ["k"], "seq",
                         n_buckets=n_buckets, **create_kw)
    t.merge_batch(_batch(spark, [(k, 0, f"v{k}", "insert")
                                 for k in range(n)]), "b1")
    return t


def test_dv_merge_upsert_delete_insert(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    m = t.merge_batch(_batch(spark,
                             [(k, 10, f"N{k}", "insert") for k in range(4)]
                             + [(5, 10, None, "delete"),
                                (10, 10, "v10", "insert")]), "b2", dv=True)
    assert m["rows_upserted"] == 5 and m["rows_deleted"] == 1
    assert m["rows_dv_masked"] == 5  # 4 updates + the delete victim
    assert _state(t) == sorted(
        [(k, 10, f"N{k}") for k in range(4)]
        + [(k, 0, f"v{k}") for k in (4, 6, 7, 8, 9)] + [(10, 10, "v10")])
    # physical shape: original files still referenced, dv refs attached,
    # appended files added — nothing rewritten
    snap = t.snapshot()
    ents = [e for b in snap["buckets"] for e in snap["buckets"][b]]
    old = [e for e in ents if e["file"].startswith("c1-")]
    assert old and all(e.get("dv") for e in old if e.get("dv") is not None)
    assert sum(int((e.get("dv") or {}).get("dead", 0)) for e in ents) == 5
    assert t.count_rows() == 10  # metadata-only count stays exact


def test_dv_stale_event_loses_and_tombstone_outranks(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    t.merge_batch(_batch(spark, [(3, 10, None, "delete")]), "b2", dv=True)
    # stale insert below the stored seq: no append, no mask
    m = t.merge_batch(_batch(spark, [(4, -5, "STALE", "insert")]),
                      "b3", dv=True)
    assert m["rows_dv_masked"] == 0 and m["rows_upserted"] == 0
    # zombie below the tombstone's seq: the tombstone row wins
    t.merge_batch(_batch(spark, [(3, 5, "ZOMBIE", "insert")]), "b4",
                  dv=True)
    assert (4, 0, "v4") in _state(t)
    assert 3 not in {k for k, _, _ in _state(t)}


def test_dv_converges_with_cow_twin(spark, tmp_path):
    """Same batched log applied dv vs cow: byte-identical final state,
    including out-of-order cross-batch delivery."""
    import random
    rng = random.Random(7)
    log = []
    for seq in range(200):
        k = rng.randrange(30)
        op = "delete" if rng.random() < 0.15 else "insert"
        log.append((k, seq, None if op == "delete" else f"s{seq}", op))
    batches = [log[i::5] for i in range(5)]  # interleaved => out of order
    tables = {}
    for mode in ("cow", "dv"):
        t = LakeTable.create(spark, str(tmp_path / mode), SCHEMA, ["k"],
                             "seq", n_buckets=4)
        for i, b in enumerate(batches):
            t.merge_batch(_batch(spark, b), f"b{i}", dv=mode == "dv")
        tables[mode] = t
    assert _state(tables["dv"]) == _state(tables["cow"])
    assert tables["dv"].count_rows() == tables["cow"].count_rows()


def test_cow_merge_onto_dv_masked_table(spark, tmp_path):
    """Mode mixing: a plain cow merge landing on a table carrying dv
    masks must read THROUGH the masks (a dv-dead row can't resurface as
    the merge's 'existing' side) and its bucket rewrite drops the dv
    refs — the touched buckets come out clean."""
    t = _base(spark, str(tmp_path / "t"), n=10, n_buckets=2)
    t.merge_batch(_batch(spark, [(k, 10, f"N{k}", "insert")
                                 for k in range(6)]), "b2", dv=True)
    t.merge_batch(_batch(spark, [(0, 20, "C0", "insert"),
                                 (5, 5, "stale", "insert"),
                                 (3, 20, None, "delete")]), "b3")
    # stale (5,5) loses to the dv-written (5,10,N5): the LIVE generation,
    # not the masked (5,0,v5), must be the existing side of the merge
    assert _state(t) == sorted(
        [(0, 20, "C0")] + [(k, 10, f"N{k}") for k in (1, 2, 4, 5)]
        + [(k, 0, f"v{k}") for k in (6, 7, 8, 9)])
    snap = t.snapshot()
    for b in snap["buckets"]:
        assert not any(e.get("dv") for e in snap["buckets"][b]), \
            f"bucket {b} kept dv refs through a cow rewrite"


def test_dv_replay_same_events_new_batch_id_stays_single(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    b = [(1, 10, "N1", "insert")]
    t.merge_batch(_batch(spark, b), "b2", dv=True)
    t.merge_batch(_batch(spark, b), "b3", dv=True)  # tie → batch wins
    assert _state(t).count((1, 10, "N1")) == 1
    # and the ledgered id replays as a no-op
    assert t.merge_batch(_batch(spark, b), "b2", dv=True).get("skipped")


def test_dv_filters_and_pruning_after_mask(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"), n=50, n_buckets=1)
    t.merge_batch(_batch(spark, [(k, 10, "NEW", "insert")
                                 for k in range(25)]), "b2", dv=True)
    # a filter matching ONLY masked rows returns nothing
    assert t.read(filters=[("v", "=", "v3")]).count() == 0
    got = t.read(filters=[("v", "=", "NEW"), ("k", "<", 5)])
    assert sorted(r.k for r in got.collect()) == list(range(5))


def test_dv_schema_evolution_mid_stream(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    b = spark.createDataFrame([(1, 10, "N1", 42, "insert")],
                              "k long, seq long, v string, w long, "
                              "op string")
    t.merge_batch(b, "b2", dv=True)
    rows = {r.k: (r.v, r.w) for r in t.read().collect()}
    assert rows[1] == ("N1", 42)
    assert rows[2] == ("v2", None)  # unrewritten old row, evolved column


def test_dv_compact_folds_masks(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    t.merge_batch(_batch(spark, [(k, 10, f"N{k}", "insert")
                                 for k in range(6)]), "b2", dv=True)
    before = _state(t)
    # low file counts: only the dead-ratio criterion selects the buckets
    m = t.compact(max_files_per_bucket=64, dv_dead_ratio=0.2)
    assert m["compacted_buckets"] > 0
    snap = t.snapshot()
    assert all(not e.get("dv")
               for b in snap["buckets"] for e in snap["buckets"][b])
    assert _state(t) == before
    assert t.count_rows() == len(before)


def test_rebucket_of_mor_and_dv_table_equals_prior_read(spark, tmp_path):
    """rebucket over dv-masked files and mor generations, tombstones
    included: the rewrite holds exactly the rows read() resolved before
    it — read() already applies the masks and the read-time LWW, so the
    rewrite adds no second LWW pass."""
    from arlas_proc_spark.lake.table import _TOMB
    t = _base(spark, str(tmp_path / "t"), n=40, n_buckets=4)
    t.merge_batch(_batch(spark, [(k, 10, f"D{k}", "update")
                                 for k in range(10)]
                         + [(k, 10, None, "delete")
                            for k in range(10, 15)]), "b2", dv=True)
    t.append_batch(_batch(spark, [(k, 20, f"M{k}", "update")
                                  for k in (0, 1, 2, 3, 20, 21, 22)]
                          + [(k, 20, None, "delete") for k in (4, 23, 24)]
                          + [(5, 5, "stale", "update")]), "m1")
    t.append_batch(_batch(spark, [(0, 30, "M2", "update"),
                                  (20, 30, None, "delete"),
                                  (11, 30, "back", "insert")]), "m2")
    snap = t.snapshot()
    assert snap["mor_buckets"] and any(
        e.get("dv") for b in snap["buckets"] for e in snap["buckets"][b])

    def rows():
        return sorted((r.k, r.seq, r.v, r[_TOMB])
                      for r in t.read(with_tombstones=True).collect())
    before = rows()
    assert any(r[3] for r in before)
    t.rebucket(3)
    snap = t.snapshot()
    assert snap["n_buckets"] == 3 and not snap["mor_buckets"]
    assert rows() == before


def test_dv_fully_dead_file_unreferenced_and_gc(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"), n=8, n_buckets=1)
    snap0 = t.snapshot()
    first = [e["file"] for b in snap0["buckets"]
             for e in snap0["buckets"][b]]
    assert len(first) == 1
    # supersede EVERY row of the first file → its entry must drop
    t.merge_batch(_batch(spark, [(k, 10, "N", "insert")
                                 for k in range(8)]), "b2", dv=True)
    snap = t.snapshot()
    ents = [e for b in snap["buckets"] for e in snap["buckets"][b]]
    assert first[0] not in {e["file"] for e in ents}
    assert _state(t) == [(k, 10, "N") for k in range(8)]
    # GC: retained snapshots still reference dv parts + the old file
    # (time travel window), nothing live is deleted at grace 0
    t.expire_snapshots(keep_last=3, orphan_grace_s=0)
    assert _state(t) == [(k, 10, "N") for k in range(8)]
    # collapse retention to the current snapshot: the fully-dead file
    # AND its dv parts become orphans
    t.merge_batch(_batch(spark, [(0, 20, "X", "insert")]), "b3", dv=True)
    t.compact(max_files_per_bucket=0, dv_dead_ratio=0.01)
    t.expire_snapshots(keep_last=1, orphan_grace_s=0)
    left = {os.path.relpath(os.path.join(r, f), t.data_dir)
            for r, _, fs in os.walk(t.data_dir) for f in fs}
    assert first[0] not in left
    assert not any("/dv/" in p for p in left)
    assert _state(t) == [(0, 20, "X")] + [(k, 10, "N") for k in range(1, 8)]


def test_dv_time_travel_reads_each_mask_state(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    v1 = t.snapshot()["version"]
    t.merge_batch(_batch(spark, [(0, 10, "A", "insert")]), "b2", dv=True)
    v2 = t.snapshot()["version"]
    t.merge_batch(_batch(spark, [(0, 20, "B", "insert")]), "b3", dv=True)
    assert {r.v for r in t.read_version(v1).where("k=0").collect()} == {"v0"}
    assert {r.v for r in t.read_version(v2).where("k=0").collect()} == {"A"}
    assert {r.v for r in t.read().where("k=0").collect()} == {"B"}


def test_dv_changefeed_matches_cow_twin(spark, tmp_path):
    ch = {}
    for mode in ("cow", "dv"):
        t = LakeTable.create(spark, str(tmp_path / mode), SCHEMA, ["k"],
                             "seq", n_buckets=2, changefeed=True)
        t.merge_batch(_batch(spark, [(k, 0, f"v{k}", "insert")
                                     for k in range(6)]), "b1")
        t.merge_batch(_batch(spark,
                             [(0, 10, "N0", "insert"),
                              (1, 10, None, "delete"),
                              (9, 10, "v9", "insert")]), "b2",
                      dv=mode == "dv")
        ch[mode] = sorted(
            (r.k, r.seq, r.v, r.change_type, r._change_version)
            for r in t.read_change_log(0, with_version=True).collect())
    assert ch["dv"] == ch["cow"]


def test_dv_read_changes_snapshot_diff(spark, tmp_path):
    """No changefeed: read_changes falls back to snapshot diffs — the
    dv mask must be applied per snapshot side."""
    t = _base(spark, str(tmp_path / "t"), n=6)
    v1 = t.snapshot()["version"]
    t.merge_batch(_batch(spark, [(0, 10, "N0", "insert"),
                                 (1, 10, None, "delete")]), "b2", dv=True)
    got = sorted((r.k, r.change_type)
                 for r in t.read_changes(v1, t.snapshot()["version"])
                 .collect())
    assert got == [(0, "update_postimage"), (1, "delete")]


def test_dv_refused_on_mor_buckets(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    t.append_batch(_batch(spark, [(0, 5, "gen2", "insert")]), "m1")
    with pytest.raises(ValueError, match="merge-on-read"):
        t.merge_batch(_batch(spark, [(0, 10, "X", "insert")]), "b2",
                      dv=True)
    # after compaction the same merge is accepted
    t.compact(max_files_per_bucket=0)
    t.merge_batch(_batch(spark, [(0, 10, "X", "insert")]), "b2", dv=True)
    assert (0, 10, "X") in _state(t)


def test_dv_lookup_and_bloom(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"), n=40, n_buckets=4,
              bloom_bits_per_key=10)
    t.merge_batch(_batch(spark, [(7, 10, "N7", "insert")]), "b2", dv=True)
    got = t.lookup(k=7).collect()
    assert [(r.k, r.v) for r in got] == [(7, "N7")]


def test_with_positions_addresses_physical_rows(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"), n=6, n_buckets=1)
    rows = t.read(with_positions=True).collect()
    snap = t.snapshot()
    files = {e["file"] for b in snap["buckets"] for e in snap["buckets"][b]}
    assert {r[_DV_FILE] for r in rows} <= files
    # positions are 0..rows-1 within each file, unique per row
    by_file: dict = {}
    for r in rows:
        by_file.setdefault(r[_DV_FILE], []).append(r[_DV_POS])
    for ps in by_file.values():
        assert sorted(ps) == list(range(len(ps)))


def test_dv_shallow_clone_diverges_only_clone(spark, tmp_path):
    src = _base(spark, str(tmp_path / "src"))
    src.merge_batch(_batch(spark, [(0, 10, "S0", "insert")]), "b2",
                    dv=True)
    clone = LakeTable.shallow_clone(spark, str(tmp_path / "src"),
                                    str(tmp_path / "cl"))
    assert _state(clone) == _state(src)
    # clone's own dv merge masks a SOURCE-stored row via a clone-local
    # dv part; the source must be byte-identical after
    before = _state(src)
    clone.merge_batch(_batch(spark, [(1, 10, "C1", "insert")]), "b3",
                      dv=True)
    assert (1, 10, "C1") in _state(clone)
    assert _state(src) == before
    # clone GC walks only its own storage
    clone.expire_snapshots(keep_last=1, orphan_grace_s=0)
    assert _state(src) == before
    assert (1, 10, "C1") in _state(clone)


def test_dv_wap_stage_then_publish(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"))
    t.merge_batch(_batch(spark, [(0, 10, "W0", "insert")]), "b2",
                  dv=True, wap_id="audit1")
    assert (0, 0, "v0") in _state(t)  # readers still pre-merge
    assert (0, 10, "W0") in sorted(
        (r.k, r.seq, r.v) for r in t.read_wap("audit1").collect())
    t.publish_wap("audit1")
    assert (0, 10, "W0") in _state(t)


def test_dv_delete_where(spark, tmp_path):
    t = _base(spark, str(tmp_path / "t"), n=20)
    m = t.delete_where("k % 2 = 0", "gdpr1", dv=True)
    assert m["rows_deleted"] == 10
    assert sorted(k for k, _, _ in _state(t)) == list(range(1, 20, 2))
    # physically masked, not rewritten: pre-delete files still referenced
    snap = t.snapshot()
    assert any(e.get("dv")
               for b in snap["buckets"] for e in snap["buckets"][b])


def test_engine_dv_mode_matches_cow(spark, tmp_path):
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources import changefeed_df
    feed = changefeed_df(spark, 30_000)
    states = {}
    for mode in ("cow", "dv"):
        eng = CdcEngine(spark, str(tmp_path / mode), n_buckets=4,
                        write_mode=mode)
        for i in range(3):
            eng.apply_batch(feed.where(
                (F.col("seq") % 3 == i)), f"b{i}")
        states[mode] = sorted(
            map(tuple, eng.state().select("repo", "path", "seq",
                                          "content_sha256").collect()))
    assert states["dv"] == states["cow"]
    assert len(states["dv"]) > 0


def test_streaming_dv_mode_kill_resume(spark, tmp_path):
    from arlas_proc_spark.sources import write_changefeed_batches
    from arlas_proc_spark.streaming import StreamingIngest
    wal = str(tmp_path / "wal")
    write_changefeed_batches(spark, wal, 8000, n_batches=4)
    ing = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                          write_mode="dv", compact_every=6)
    ing.run_to_completion(wal, str(tmp_path / "ck"),
                          max_files_per_trigger=1)
    n = ing.state().count()
    v = ing.engine.table.snapshot()["version"]
    # exactly-once: same checkpoint re-run changes nothing
    ing2 = StreamingIngest(spark, str(tmp_path / "t"), n_buckets=4,
                           write_mode="dv")
    ing2.run_to_completion(wal, str(tmp_path / "ck"),
                           max_files_per_trigger=1)
    assert ing2.state().count() == n
    assert ing2.engine.table.snapshot()["version"] == v
    # converges with the independent DuckDB final-state oracle
    import duckdb

    from arlas_proc_spark.sources.changefeed import final_state_sql
    got = {(r.repo, r.path): (r.seq, r.content_sha256)
           for r in ing2.state().collect()}
    exp = duckdb.sql(final_state_sql(8000, dialect="duckdb")).fetchdf()
    assert got == {(r.repo, r.path): (int(r.seq), r.content_sha256)
                   for r in exp.itertuples()}
