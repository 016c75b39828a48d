"""DedupIndex — an incrementally-maintained MinHash-LSH near-dup index
over a CDC'd document corpus.

The one-shot operators (``operators.dedup_fuzzy.minhash_lsh_pairs``)
re-shingle and re-hash the ENTIRE corpus on every run — at 100-TB corpus
sizes that is the dominant cost, and it is pure waste when a batch
changes 0.01% of the documents. This class keeps the expensive artifact
(the per-doc MinHash signature) in a keyed lake table maintained by the
same exactly-once MERGE the main CDC tables use, so each batch pays:

- shingle + md5 minhash for the CHANGED docs only (the corpus-sized text
  pass shrinks to a batch-sized one);
- one keyed MERGE into the signature table (O(batch) with mor, O(touched
  buckets) with cow — the table holds k short hex strings per doc,
  ~0.1-1% of corpus bytes);
- candidate discovery as a BROADCAST join: the changed docs' band rows
  broadcast to the signature scan, so the index side is one
  column-pruned, shuffle-free pass and the output is exactly the pairs
  involving a changed doc. No all-pairs, no corpus shuffle anywhere.

Deletes retract the doc's signature (tombstone in the sig table), so a
deleted doc stops pairing immediately; updates replace the signature via
LWW on the batch sequence. Replayed batch ids are no-ops (the table
ledger), so crash/retry never double-indexes — ``update`` then returns
an empty pair frame.

Correctness contract (pinned by tests/test_dedup_index.py and the
``incremental_dedup_pairs`` driver query): after replaying any batch
sequence, ``pairs()`` equals ``minhash_lsh_pairs`` recomputed from
scratch on the corpus's final state, and the signature rows equal
``minhash_signatures`` of that state.

Reference analog: the keyed idempotent sink that makes replays converge
(``/root/reference/src/main/scala/io/arlas/data/sql/WritableDataFrame.scala:83-86``)
applied to a derived SEARCH artifact instead of the primary table — the
index is itself a CDC consumer.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from arlas_proc_spark.lake.lww import latest_per_key
from arlas_proc_spark.lake.table import LakeTable
from arlas_proc_spark.operators.base import require_columns
from arlas_proc_spark.operators.dedup_fuzzy import (
    banded_minhash,
    lsh_band_pairs,
    minhash_signatures,
)


class DedupIndex:
    """MinHash-LSH signature index over (id_col, text_col) documents,
    maintained incrementally from change batches."""

    LEDGER_SCOPE = "dedup-index"

    def __init__(self, spark: SparkSession, path: str, *,
                 id_col: str = "doc_id", n: int = 3, k: int = 8,
                 bands: int = 4,
                 broadcast_doc_limit: int = 500_000):
        """Opening an EXISTING index adopts the parameters persisted at
        create time (``dedup_params.json`` beside the table) — signatures
        are only comparable under one (shingle, k, bands) setting, so a
        caller-supplied mismatch is overridden, never mixed in (stale
        tuning flags on a scheduled job must not wedge a valid index, so
        validation runs AFTER the override).

        ``broadcast_doc_limit``: batches touching more docs than this run
        their candidate join as a plain shuffle join instead of
        broadcasting the changed side — a bootstrap or large backfill
        folds the whole corpus as one batch, and a corpus-sized forced
        broadcast would OOM the driver at exactly the scale this index
        exists for."""
        self.spark = spark
        self.id_col = id_col
        self.n, self.k, self.bands = n, k, bands
        self.broadcast_doc_limit = broadcast_doc_limit
        self.table = LakeTable(spark, path)
        self._params_path = os.path.join(path, "dedup_params.json")
        if os.path.exists(self._params_path):
            with open(self._params_path) as f:
                p = json.load(f)
            self.id_col = p["id_col"]
            self.n, self.k, self.bands = p["n"], p["k"], p["bands"]
        elif LakeTable.exists(spark, path):
            raise RuntimeError(
                f"index table exists at {path} but dedup_params.json is "
                f"missing — refusing to guess (n, k, bands): signatures "
                f"written under one setting are unreadable under another")
        if self.k % self.bands != 0:
            raise ValueError(
                f"k={self.k} must divide into bands={self.bands}")

    @classmethod
    def create(cls, spark: SparkSession, path: str, *,
               id_col: str = "doc_id", id_type: str = "long",
               n: int = 3, k: int = 8, bands: int = 4,
               n_buckets: int = 16,
               broadcast_doc_limit: int = 500_000) -> "DedupIndex":
        if k % bands != 0:
            raise ValueError(f"k={k} must divide into bands={bands}")
        id_types = {"long": T.LongType(), "int": T.IntegerType(),
                    "string": T.StringType()}
        if id_type not in id_types:
            raise ValueError(f"id_type must be one of {sorted(id_types)}")
        # params land DURABLY (tmp + atomic replace) BEFORE the table
        # commit: a live table must never be reopenable without its exact
        # (n, k, bands) — a crash between the two steps leaves only a
        # params file, and a retried create overwrites it consistently
        os.makedirs(path, exist_ok=True)
        params_path = os.path.join(path, "dedup_params.json")
        tmp = params_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"id_col": id_col, "n": n, "k": k, "bands": bands}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, params_path)
        id_field = T.StructField(id_col, id_types[id_type], False)
        schema = T.StructType(
            [id_field] +
            [T.StructField(f"m{i}", T.StringType(), True) for i in range(k)] +
            [T.StructField("seq", T.LongType(), True)])
        LakeTable.create(spark, path, schema, [id_col], "seq",
                         n_buckets=n_buckets)
        return cls(spark, path, id_col=id_col, n=n, k=k, bands=bands,
                   broadcast_doc_limit=broadcast_doc_limit)

    # ------------------------------------------------------------- maintain
    def update(self, batch: DataFrame, batch_id: int | str, *,
               text_col: str = "text", op_col: str = "op",
               seq_col: str = "seq",
               delete_value: str = "delete",
               set_properties: dict | None = None) -> DataFrame:
        """Fold one change batch (id, text, seq, op — dup delivery and
        out-of-order allowed) into the index; returns the NEW candidate
        pairs, i.e. every (id_a < id_b, n_bands_shared) pair of the
        post-merge index that involves at least one doc changed in this
        batch. A replayed ``batch_id`` is a ledgered no-op and returns an
        empty frame.

        Cost shape at scale: minhash over the batch only; one keyed MERGE
        of ~k hex strings per changed doc; candidate join with the
        changed side BROADCAST so the signature table never shuffles."""
        require_columns(batch, self.id_col, text_col, seq_col, op_col)
        idc = self.id_col
        # LWW-compact the batch per doc: max seq wins; ties (same seq
        # delivered twice, possibly with different op) break
        # deterministically by op then text so replays pick the same row
        winners = latest_per_key(batch, [idc], [seq_col, op_col, text_col])
        ups = winners.where(F.col(op_col) != delete_value)
        sigs = (minhash_signatures(ups, idc, text_col, self.n, self.k)
                .join(ups.select(idc, seq_col), idc)
                .withColumn("_op", F.lit("upsert")))
        dels = winners.where(F.col(op_col) == delete_value).select(
            F.col(idc),
            *[F.lit(None).cast("string").alias(f"m{i}")
              for i in range(self.k)],
            F.col(seq_col), F.lit(delete_value).alias("_op"))
        merged = self.table.merge_batch(
            sigs.unionByName(dels), batch_id, op_col="_op",
            delete_value=delete_value, batch_compacted=True,
            ledger_scope=self.LEDGER_SCOPE,
            set_properties=set_properties)
        # the touched docs' band rows come from the POST-merge index, not
        # from the batch signatures: a stale update (batch seq loses the
        # LWW against the table) keeps the table's signature, and pairs
        # emitted from the loser's bands could name pairs that don't
        # exist in the index. Cost: a broadcast semi-join of the batch's
        # ids against one more column-pruned, shuffle-free index scan.
        # Docs touched by a losing update re-emit their (unchanged)
        # current pairs — a superset that is idempotent for consumers.
        touched = winners.select(F.col(idc).alias("_id")).distinct()
        if merged.get("skipped"):
            touched = touched.where(F.lit(False))
        # a bootstrap / backfill batch can touch the whole corpus — above
        # broadcast_doc_limit the changed side no longer fits a driver
        # broadcast, so the candidate join degrades to a shuffle join
        # instead of dying (the steady-state batch path stays broadcast)
        small = touched.count() <= self.broadcast_doc_limit
        changed = F.broadcast(touched) if small else touched
        banded_new = banded_minhash(self.signatures(), idc,
                                    self.k, self.bands).join(changed, "_id")
        return self._pairs_touching(banded_new, broadcast=small)

    # --------------------------------------------------------------- query
    def signatures(self) -> DataFrame:
        """Current live signatures (id, m0..m{k-1}) — equals
        ``minhash_signatures`` of the corpus's current state."""
        return self.table.read().select(
            self.id_col, *[f"m{i}" for i in range(self.k)])

    def pairs(self) -> DataFrame:
        """ALL current candidate pairs, from signatures alone — no text
        rescan. Same output as ``minhash_lsh_pairs`` on the current
        corpus state: (id_a < id_b, n_bands_shared)."""
        return lsh_band_pairs(banded_minhash(
            self.signatures(), self.id_col, self.k, self.bands))

    def _pairs_touching(self, banded_new: DataFrame, *,
                        broadcast: bool = True) -> DataFrame:
        """Pairs of the current index involving any doc whose band rows
        are in ``banded_new`` (_id, _band, _sig). The changed side —
        batch-sized — is broadcast; the full index is scanned once,
        column-pruned, with no shuffle on the index side. A pair of two
        changed docs matches from both sides, so bands are counted
        DISTINCT per pair rather than per match. ``broadcast=False``
        (corpus-sized backfills) plans a shuffle join instead."""
        idx = banded_minhash(self.signatures(), self.id_col,
                             self.k, self.bands)
        changed = F.broadcast(banded_new) if broadcast else banded_new
        j = (idx.alias("a").join(
            changed.alias("b"),
            (F.col("a._band") == F.col("b._band")) &
            (F.col("a._sig") == F.col("b._sig")) &
            (F.col("a._id") != F.col("b._id"))))
        return (j.select(
                    F.least("a._id", "b._id").alias("id_a"),
                    F.greatest("a._id", "b._id").alias("id_b"),
                    F.col("a._band").alias("_band"))
                .groupBy("id_a", "id_b")
                .agg(F.countDistinct("_band").alias("n_bands_shared")))


class DedupIndexRefresher:
    """Keeps a :class:`DedupIndex` in sync with a source ``LakeTable``'s
    change feed — the near-dup index as a downstream CDC CONSUMER, the
    same shape as ``lake.ivm.IncrementalAggView``. Plugs straight into
    the streaming loop (``StreamingIngest(views=[refresher])``): after
    every committed micro-batch, ``refresh()`` folds the table's NET key
    changes since the cursor into the signature index.

    Net semantics on purpose: the index stores only each doc's CURRENT
    signature, so ``source.read_changes(cursor, v)`` — one manifest-diff-
    pruned snapshot diff, one row per net-changed key — is sufficient and
    strictly cheaper than replaying every per-commit transition. The
    index row's LWW sequence is the SOURCE SNAPSHOT VERSION the change
    was observed at (monotonic across refreshes; a delete row reuses its
    pre-image's data seq, so the source seq column cannot order a delete
    after the insert it retracts).

    Exactly-once mirrors IVM exactly: the cursor is committed ATOMICALLY
    with the index merge as a snapshot property of the index table, so no
    crash window separates "signatures merged" from "cursor advanced";
    empty windows advance a side cursor file (re-folding an empty window
    is a no-op by definition).

    Doc identity: ``id_expr`` (default ``concat_ws('|', <source key
    cols>)`` — key columns are NOT NULL by table contract, so the
    concatenation is collision-free for '|'-free keys)."""

    _CURSOR_PROP = "dedup_index.cursor"

    def __init__(self, spark: SparkSession, path: str, source, *,
                 text_col: str = "content", id_expr: str | None = None,
                 n: int = 3, k: int = 8, bands: int = 4,
                 n_buckets: int = 16,
                 broadcast_doc_limit: int = 500_000):
        self.spark = spark
        self.path = path
        self.source = source
        self.text_col = text_col
        key_cols = source.snapshot()["key_cols"]
        self.id_expr = id_expr or \
            "concat_ws('|', " + ", ".join(key_cols) + ")"
        self.cursor_path = os.path.join(path, "cursor.json")
        idx_path = os.path.join(path, "index")
        if LakeTable.exists(spark, idx_path):
            self.index = DedupIndex(
                spark, idx_path, id_col="doc_key", n=n, k=k, bands=bands,
                broadcast_doc_limit=broadcast_doc_limit)
        else:
            os.makedirs(path, exist_ok=True)
            self.index = DedupIndex.create(
                spark, idx_path, id_col="doc_key", id_type="string",
                n=n, k=k, bands=bands, n_buckets=n_buckets,
                broadcast_doc_limit=broadcast_doc_limit)

    def cursor(self) -> int:
        """Highest source version folded in (property ∨ side file — each
        states 'everything ≤ N is folded', so max is always safe)."""
        prop = int(self.index.table.snapshot().get("properties", {})
                   .get(self._CURSOR_PROP, 0))
        if not os.path.exists(self.cursor_path):
            return prop
        with open(self.cursor_path) as f:
            return max(prop, int(json.load(f)["version"]))

    def _advance_cursor(self, version: int) -> None:
        tmp = os.path.join(self.path, f".cursor.{uuid.uuid4().hex}")
        with open(tmp, "w") as f:
            json.dump({"version": version}, f)
        os.replace(tmp, self.cursor_path)

    def _cursor_snapshot_available(self, version: int) -> bool:
        try:
            self.source.snapshot_at(version)
            return True
        except ValueError:
            return False

    def lake_tables(self) -> list[LakeTable]:
        """The LakeTables this consumer commits to — the streaming loop's
        catalog publisher flips their pins atomically with the source."""
        return [self.index.table]

    def refresh(self) -> dict:
        """Fold all source commits past the cursor into the index.

        When the source has EXPIRED the snapshot at the cursor (a fresh
        index against a table that ever ran ``expire_snapshots``, or a
        refresh lag longer than the source's retention), a diff is
        impossible — instead of wedging permanently, the refresher
        RESEEDS: the source's current live state folds as upserts and
        index keys absent from it fold as deletes (docs dropped during
        the missed window must stop pairing). Same exactly-once merge,
        same atomic cursor; strictly a full-corpus batch, which
        ``update`` handles via its non-broadcast fallback."""
        src_v = self.source.snapshot()["version"]
        last = self.cursor()
        if src_v <= last:
            return {"skipped": True, "source_version": last}
        reseed = not self._cursor_snapshot_available(last)
        if reseed:
            live = self.source.read().select(
                F.expr(self.id_expr).alias("doc_key"),
                F.col(self.text_col).alias("text"),
                F.lit(src_v).cast("long").alias("seq"),
                F.lit("upsert").alias("op"))
            stale = (self.index.signatures()
                     .select(F.col(self.index.id_col).alias("doc_key"))
                     .join(live.select("doc_key"), "doc_key", "left_anti")
                     .select(F.col("doc_key"),
                             F.lit(None).cast("string").alias("text"),
                             F.lit(src_v).cast("long").alias("seq"),
                             F.lit("delete").alias("op")))
            batch = live.unionByName(stale)
        else:
            ch = self.source.read_changes(last, src_v)
            batch = ch.select(
                F.expr(self.id_expr).alias("doc_key"),
                F.col(self.text_col).alias("text"),
                F.lit(src_v).cast("long").alias("seq"),
                F.when(F.col("change_type") == "delete", F.lit("delete"))
                 .otherwise(F.lit("upsert")).alias("op"))
        pairs = self.index.update(
            batch, f"src-{src_v}",
            set_properties={self._CURSOR_PROP: src_v})
        # merge_batch commits (and stamps the property) even for an empty
        # net-change window; the side file additionally covers legacy /
        # belt-and-braces, mirroring IVM's cursor layering
        self._advance_cursor(src_v)
        return {"source_version": src_v, "pairs": pairs,
                "reseeded": reseed}

    def pairs(self) -> DataFrame:
        return self.index.pairs()
