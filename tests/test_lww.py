"""The LWW window kernel (``lake/lww.py``) against the wide
``max(struct(seq, commit, every column…))`` it replaced, kept here as the
reference: on seeded feeds with exact (seq, commit) ties, null seq and
commit, duplicate deliveries and deletes, every caller picks the same
rows. Also pins the dedup and ANN indexes' tie-breaks (same seq,
different op)."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arlas_proc_spark.lake import table as table_mod
from arlas_proc_spark.lake.lww import latest_by_seq
from arlas_proc_spark.lake.table import LakeTable

KEYS = ["repo", "path"]
FEED = ("repo string, path string, commit string, seq long,"
        " content string, lang string, op string")
STATE = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
    T.StructField("seq", T.LongType(), True),
    T.StructField("content", T.StringType(), True),
    T.StructField("lang", T.StringType(), True)])


def argmax_reference(df, key_cols, seq_col, folds=None):
    """One row per key by ``max(struct(seq, commit, payload…))``, with
    ``folds`` riding the same aggregation."""
    first = [seq_col] + (["commit"] if "commit" in df.columns else [])
    ordered = first + [c for c in df.columns if c not in first]
    folds = folds or {}
    return (df.groupBy(*key_cols)
            .agg(F.max(F.struct(*ordered)).alias("_w"),
                 *[agg.alias(name) for name, agg in folds.items()])
            .select(*[F.col("_w")[c].alias(c) for c in df.columns], *folds))


def _feed(spark, seed, n=400):
    """Few keys, a 6-value seq and a 3-value commit domain (so exact
    (seq, commit) ties with different payloads are common), nulls in seq,
    commit and the payload, every op, and 10% duplicate deliveries."""
    rnd = random.Random(seed)
    rows = []
    for _ in range(n):
        rows.append((
            f"r{rnd.randrange(3)}", f"p{rnd.randrange(20)}",
            None if rnd.random() < 0.1 else f"c{rnd.randrange(3)}",
            None if rnd.random() < 0.1 else rnd.randrange(6),
            None if rnd.random() < 0.2 else f"v{rnd.randrange(5)}",
            rnd.choice([None, "py", "go"]),
            rnd.choice(["insert", "update", "delete"])))
    rows += rnd.sample(rows, n // 10)
    rnd.shuffle(rows)
    return spark.createDataFrame(rows, FEED).repartition(3)


def _same_rows(a, b):
    assert a.count() == b.count()
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def _rows(df):
    return sorted(map(tuple, df.collect()), key=repr)


@pytest.mark.parametrize("seed", [11, 12, 13])
def test_window_picks_the_reference_rows(spark, seed):
    feed = _feed(spark, seed)
    got = latest_by_seq(feed, KEYS, "seq")
    assert got.count() == feed.select(*KEYS).distinct().count()
    _same_rows(got, argmax_reference(feed, KEYS, "seq"))
    # without a commit column the rank is seq, then the payload
    nc = feed.drop("commit")
    _same_rows(latest_by_seq(nc, KEYS, "seq"),
               argmax_reference(nc, KEYS, "seq"))


@pytest.mark.parametrize("seed", [21, 22])
def test_merge_resolve_and_patch_fold_match_reference(spark, tmp_path,
                                                      monkeypatch, seed):
    """The merge's resolve stage, whole-row and with patch folds over a
    batch holding deletes: the window folds equal the aggregate folds."""
    snap = LakeTable.create(spark, str(tmp_path / "t"), STATE, KEYS, "seq",
                            n_buckets=4).snapshot()
    feed = _feed(spark, seed)
    kw = dict(op_col="op", delete_value="delete", batch_compacted=False)
    got = [LakeTable._merge_resolve(snap, feed, patch_cols=p, **kw)[1]
           for p in (None, ["content", "lang"])]
    monkeypatch.setattr(table_mod, "latest_by_seq", argmax_reference)
    want = [LakeTable._merge_resolve(snap, feed, patch_cols=p, **kw)[1]
            for p in (None, ["content", "lang"])]
    assert "_had_del" in got[1].columns
    for g, w in zip(got, want):
        _same_rows(g, w)


def test_writers_match_reference(spark, tmp_path, monkeypatch):
    """merge_batch, append_batch (and the mor read over its generations)
    and overwrite store the same rows under either formulation."""
    feed = _feed(spark, 31)
    later = _feed(spark, 32).withColumn("seq", F.col("seq") + 3)
    states = []
    for side in ("window", "argmax"):
        if side == "argmax":
            monkeypatch.setattr(table_mod, "latest_by_seq", argmax_reference)
        root = tmp_path / side
        m, a, o = (LakeTable.create(spark, str(root / n), STATE, KEYS,
                                    "seq", n_buckets=4)
                   for n in ("m", "a", "o"))
        m.merge_batch(feed, 0)
        a.append_batch(feed, 0)
        a.append_batch(later, 1)
        o.overwrite(feed.drop("op"))
        states.append([_rows(t.read(with_tombstones=True))
                       for t in (m, a, o)])
    assert states[0] == states[1]


def test_dedup_index_tie_breaks(spark, tmp_path):
    """Same seq, different op: the op ranks next ('update' > 'insert' >
    'delete'), then the text — the index equals one fed the winners."""
    from arlas_proc_spark.cdc.dedup_index import DedupIndex
    base = "the quick brown fox jumps over the lazy dog near the river"
    other = "completely different content about spark shuffle and joins"
    tied = [(1, base, 10, "insert"), (1, None, 10, "delete"),
            (2, other, 10, "update"), (2, base, 10, "insert"),
            (3, base, 10, "insert"), (3, other, 10, "insert")]
    winners = [(1, base, 10, "insert"), (2, other, 10, "update"),
               (3, base, 10, "insert")]  # 'the…' > 'comp…'
    sigs = []
    for name, rows in (("tied", tied), ("winners", winners)):
        idx = DedupIndex.create(spark, str(tmp_path / name), n=3, k=4,
                                bands=2)
        idx.update(spark.createDataFrame(
            rows, "doc_id long, text string, seq long, op string"), 0)
        sigs.append(_rows(idx.signatures()))
    assert len(sigs[0]) == 3 and sigs[0] == sigs[1]


def test_ann_index_tie_breaks(spark, tmp_path):
    """Same seq, different op: 'update' beats 'insert' beats 'delete';
    the index equals one fed the winners."""
    from arlas_proc_spark.cdc.ann_index import AnnIndex
    rnd = random.Random(41)
    v = [[rnd.uniform(-1, 1) for _ in range(8)] for _ in range(7)]
    v[1] = [1.0] * 8  # the losing insert outranks v[2] by vector alone
    vec = T.StructType([T.StructField("vec_id", T.LongType()),
                        T.StructField("embedding",
                                      T.ArrayType(T.FloatType()))])
    cents = spark.createDataFrame([(i, v[i]) for i in (4, 5, 6)], vec)
    tied = [(0, v[0], 10, "insert"), (0, None, 10, "delete"),
            (1, v[2], 10, "update"), (1, v[1], 10, "insert"),
            (3, v[3], 10, "delete"), (3, None, 10, "delete")]
    winners = [(0, v[0], 10, "insert"), (1, v[2], 10, "update")]
    entries = []
    for name, rows in (("tied", tied), ("winners", winners)):
        idx = AnnIndex.create(spark, str(tmp_path / name), cents,
                              id_col="vec_id", n_buckets=4)
        idx.update(spark.createDataFrame(rows, T.StructType(
            vec.fields + [T.StructField("seq", T.LongType()),
                          T.StructField("op", T.StringType())])), 0)
        entries.append(_rows(idx.entries()))
    assert [e[0] for e in entries[0]] == [0, 1]
    assert entries[0] == entries[1]
