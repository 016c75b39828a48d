"""AnnIndex — an incrementally-maintained quantized-IVF ANN index over a
CDC'd embedding corpus.

The one-shot operators (``operators.ann.cosine_topk_ivf_q8``) re-assign
and re-quantize the ENTIRE corpus on every run — at 100-TB embedding
sizes the assignment matmul plus the float-vector scan IS the dominant
cost, and it is pure waste when a batch changes 0.01% of the documents.
This class keeps the expensive per-document artifacts — the IVF centroid
assignment and the int8-quantized vector (plus scale and original norm)
— in a keyed lake table maintained by the same exactly-once MERGE the
main CDC tables use, so each batch pays:

- the assignment matmul + quantization for the CHANGED vectors only
  (map-only Arrow kernel, ``operators.ann._ivf_assign_kernel``);
- one keyed MERGE into the index table (int8 payload: ~1/4 of the float
  corpus bytes);
- nothing else — queries then scan the STORED assignments and int8
  payloads (one narrow column-pruned pass, 4x less IO than the float
  corpus) and join the broadcast probed query side; the corpus-sized
  float read and the corpus-sized matmul are gone from the steady state.

Centroids are FROZEN at create time (trained offline via
``train_ivf_centroids``, or any deterministic sample) and persisted
beside the table — signatures are only comparable under one centroid
set, so reopening adopts the stored centroids and parameters, never a
caller-supplied mismatch (same adoption rule as DedupIndex). Re-training
is a new index (build it, then swap paths — or publish the rebuild
through a branch/catalog for atomic cutover).

Deletes retract the document's entry (tombstone), so a deleted doc stops
appearing in results immediately; updates replace assignment + payload
via LWW on the batch sequence; replayed batch ids are ledgered no-ops.

Correctness contract (pinned by tests/test_ann_index.py and the
``incremental_ann_topk`` driver query): after replaying any batch
sequence, ``query(...)`` equals ``cosine_topk_ivf_q8`` recomputed from
scratch on the corpus's final state with the same frozen centroids.

Reference analog: the keyed idempotent sink that makes replays converge
(``/root/reference/src/main/scala/io/arlas/data/sql/WritableDataFrame.scala:83-86``)
applied to a derived SEARCH artifact — like cdc/dedup_index.py, the
index is itself a CDC consumer.
"""

from __future__ import annotations

import json
import os
import uuid

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from arlas_proc_spark.lake.lww import latest_per_key
from arlas_proc_spark.lake.table import LakeTable, _ledger_contains
from arlas_proc_spark.operators.ann import (
    _ivf_assign_kernel,
    q8_score,
    quantize_embeddings,
)
from arlas_proc_spark.operators.base import require_columns


class AnnIndex:
    """Quantized-IVF index over (id_col, vec_col) embeddings, maintained
    incrementally from change batches."""

    LEDGER_SCOPE = "ann-index"
    _PARAMS = "ann_params.json"
    _CENTROIDS = "ann_centroids.parquet"

    def __init__(self, spark: SparkSession, path: str):
        params_path = os.path.join(path, self._PARAMS)
        if not os.path.exists(params_path):
            raise ValueError(f"no AnnIndex at {path}: create() it first")
        with open(params_path) as f:
            p = json.load(f)
        self.spark = spark
        self.path = path
        self.id_col = p["id_col"]
        self.id_type = p.get("id_type", "long")
        self.vec_col = p["vec_col"]
        self.assign_round = int(p["assign_round"])
        self.table = LakeTable(spark, os.path.join(path, "table"))
        crows = sorted(
            (int(r["cid"]), [float(x) for x in r["cv"]])
            for r in spark.read.parquet(
                os.path.join(path, self._CENTROIDS)).collect())
        if not crows:
            raise ValueError(f"AnnIndex at {path} has no centroids")
        self._cids = np.array([c for c, _ in crows], dtype=np.int64)
        self._cent_mat = np.array([v for _, v in crows], dtype=np.float64)

    _ID_TYPES = {"long": T.LongType(), "int": T.IntegerType(),
                 "string": T.StringType()}

    @classmethod
    def create(cls, spark: SparkSession, path: str,
               centroids: DataFrame, *,
               id_col: str = "doc_id", id_type: str = "long",
               vec_col: str = "embedding",
               n_buckets: int = 16, assign_round: int = 6) -> "AnnIndex":
        """``centroids``: (id_col, vec_col) rows — a
        ``train_ivf_centroids`` result or any deterministic sample. They
        are frozen here; the index is only valid under this exact set."""
        require_columns(centroids, id_col, vec_col)
        if id_type not in cls._ID_TYPES:
            raise ValueError(f"id_type must be one of "
                             f"{sorted(cls._ID_TYPES)}")
        if centroids.where(F.col(id_col).cast("long").isNull()) \
                .limit(1).count():
            raise ValueError(
                "centroid ids must cast to long — they are internal "
                "inverted-list labels, independent of the corpus id type")
        os.makedirs(path, exist_ok=True)
        # centroids first, then params (the open() gate) — a crash
        # between the steps leaves no openable half-index; a retried
        # create overwrites both consistently
        (centroids.select(F.col(id_col).cast("long").alias("cid"),
                          F.transform(F.col(vec_col),
                                      lambda x: x.cast("double"))
                          .alias("cv"))
         .coalesce(1).write.mode("overwrite")
         .parquet(os.path.join(path, cls._CENTROIDS)))
        schema = T.StructType([
            T.StructField(id_col, cls._ID_TYPES[id_type], False),
            T.StructField("_cid", T.LongType(), True),
            T.StructField("q_vec", T.ArrayType(T.ByteType()), True),
            T.StructField("q_scale", T.DoubleType(), True),
            T.StructField("q_norm", T.DoubleType(), True),
            T.StructField("seq", T.LongType(), True),
        ])
        LakeTable.create(spark, os.path.join(path, "table"), schema,
                         [id_col], "seq", n_buckets=n_buckets)
        params_path = os.path.join(path, cls._PARAMS)
        tmp = params_path + f".tmp-{uuid.uuid4().hex}"
        with open(tmp, "w") as f:
            json.dump({"id_col": id_col, "id_type": id_type,
                       "vec_col": vec_col,
                       "assign_round": int(assign_round)}, f)
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, params_path)
        return cls(spark, path)

    # ------------------------------------------------------------- maintain
    def update(self, batch: DataFrame, batch_id: int | str, *,
               op_col: str = "op", seq_col: str = "seq",
               delete_value: str = "delete",
               set_properties: dict | None = None) -> dict:
        """Fold one change batch (id, vec, seq, op — dup delivery and
        out-of-order allowed) into the index. Cost shape at scale: the
        assignment matmul + quantization over the BATCH only (map-only
        Arrow kernel), then one keyed MERGE of an int8 payload. A
        replayed ``batch_id`` is a ledgered no-op. A null vector on an
        upsert fails loudly (an unindexable doc must be an explicit
        delete, never a silent drop).

        DRIFT MONITOR: frozen centroids decay silently on a drifting
        corpus — recall drops with no error anywhere. Each update also
        measures the batch's mean TOP-1 assignment cosine (how well the
        frozen set still covers the incoming vectors; read off the one
        assignment pass the merge uses, O(batch) never O(corpus)) and
        commits it ATOMICALLY with the merge into the index table's
        properties:
        ``ann_drift_baseline_sim`` (first upsert batch — the training-
        era coverage), ``ann_drift_last_sim`` / ``ann_drift_last_n``
        (this batch). ``drift()`` reads them back and trips when
        coverage fell more than a threshold below baseline; the
        remediation is a REBUILD with re-trained centroids published
        atomically via a catalog re-pin (the cutover drill in
        tests/test_ann_index.py::test_drift_monitor_trips_and_rebuild
        _cutover, recall-vs-drift numbers in its docstring)."""
        require_columns(batch, self.id_col, self.vec_col, seq_col, op_col)
        idc = self.id_col
        # fail-loudly contract: a NULL op would satisfy NEITHER split
        # predicate below (op != delete and op == delete both evaluate
        # to NULL) and the row would vanish silently — guard it the same
        # way the null-vector guard does
        batch = batch.withColumn(op_col, F.when(
            F.col(op_col).isNotNull(), F.col(op_col)).otherwise(
            F.raise_error(F.concat(
                F.lit("null op in AnnIndex batch for id "),
                F.col(idc).cast("string")))))
        # ONE Arrow assignment pass over the raw batch: the drift stat
        # and the winners' _cid both read it
        assign = _ivf_assign_kernel(self._cids, self._cent_mat, 1,
                                    self.assign_round, with_sim=True)
        assigned = batch.withColumn("_asg", assign(F.col(self.vec_col)))
        winners = latest_per_key(assigned, [idc],
                                 [seq_col, op_col, self.vec_col])
        idt = self._ID_TYPES[self.id_type].simpleString()
        guard = F.when(
            F.col(self.vec_col).isNotNull(), F.col(idc).cast(idt)) \
            .otherwise(F.raise_error(F.concat(
                F.lit("null embedding in AnnIndex upsert for id "),
                F.col(idc).cast("string"))))
        upserts = winners.where(F.col(op_col) != delete_value)
        ups = (quantize_embeddings(upserts, self.vec_col)
               .select(guard.alias(idc),
                       F.get(F.col("_asg.ids"), 0).alias("_cid"),
                       "q_vec", "q_scale", "q_norm",
                       F.col(seq_col).cast("long").alias("seq"),
                       F.lit("upsert").alias("_op")))
        dels = winners.where(F.col(op_col) == delete_value).select(
            F.col(idc).cast(idt),
            F.lit(None).cast("long").alias("_cid"),
            F.lit(None).cast("array<byte>").alias("q_vec"),
            F.lit(None).cast("double").alias("q_scale"),
            F.lit(None).cast("double").alias("q_norm"),
            F.col(seq_col).cast("long").alias("seq"),
            F.lit(delete_value).alias("_op"))
        props = dict(set_properties or {})
        # drift stat: only when this batch id is NOT already ledgered —
        # a replayed batch must stay a cheap no-op (the merge would skip
        # before running any job, so paying a batch-sized stat action
        # first would break the replay cost contract). Measured over the
        # RAW batch's upsert rows (no LWW window pass — duplicate
        # deliveries are deterministic for a given batch and barely move
        # a monitoring mean; the ledgered merge alone decides state).
        # The stat's action fills the cache the merge then reads.
        snap = self.table.snapshot()
        fresh = not _ledger_contains(snap["ledger"], str(batch_id),
                                     self.LEDGER_SCOPE)
        if fresh:
            assigned.persist()
        try:
            if fresh:
                stat = (assigned.where(F.col(op_col) != delete_value)
                        .agg(F.avg("_asg.sim").alias("s"),
                             F.count(F.lit(1)).alias("n")).collect()[0])
                if stat["n"]:
                    props["ann_drift_last_sim"] = round(float(stat["s"]), 6)
                    props["ann_drift_last_n"] = int(stat["n"])
                    if "ann_drift_baseline_sim" not in \
                            snap.get("properties", {}):
                        props["ann_drift_baseline_sim"] = \
                            round(float(stat["s"]), 6)
            return self.table.merge_batch(
                ups.unionByName(dels), batch_id, op_col="_op",
                delete_value=delete_value, batch_compacted=True,
                ledger_scope=self.LEDGER_SCOPE,
                set_properties=props or None)
        finally:
            assigned.unpersist()

    def drift(self, *, threshold: float = 0.05) -> dict:
        """Centroid-drift signal from the stats ``update`` maintains:
        ``drift`` = baseline mean assignment cosine minus the LAST
        batch's (positive = the frozen centroids cover new vectors
        worse than the training-era corpus), ``tripped`` when it
        exceeds ``threshold``. Tripped = schedule a rebuild: train new
        centroids on the current corpus, build a NEW index beside this
        one, and re-pin the serving name through a Catalog (one CAS —
        readers flip atomically, the old index stays for rollback)."""
        p = self.table.snapshot().get("properties", {})
        base = p.get("ann_drift_baseline_sim")
        last = p.get("ann_drift_last_sim")
        if base is None or last is None:
            return {"baseline_sim": base, "last_sim": last,
                    "drift": None, "tripped": False}
        d = round(float(base) - float(last), 6)
        return {"baseline_sim": float(base), "last_sim": float(last),
                "last_n": int(p.get("ann_drift_last_n", 0)),
                "drift": d, "tripped": d > threshold}

    def list_occupancy(self) -> dict:
        """The second drift lens (complements ``drift()``): inverted-list
        occupancy. A drifted corpus that scores ~0 against every frozen
        centroid COLLAPSES into one list (rounded ties pick the lowest
        cid) — recall can survive that degenerately, but every probe then
        scans the hot list: query cost decays to O(corpus) with no error
        anywhere. ``max_share`` near 1/n_lists is healthy; near 1.0 means
        the partitioning no longer partitions. O(n_centroids) driver rows
        — metadata-sized, same collect policy as bucket stats."""
        rows = (self.entries().groupBy("_cid")
                .agg(F.count(F.lit(1)).alias("n")).collect())
        total = sum(r["n"] for r in rows)
        mx = max((r["n"] for r in rows), default=0)
        return {"n_lists": len(rows), "rows": int(total),
                "max_share": round(mx / total, 6) if total else 0.0}

    # --------------------------------------------------------------- query
    def entries(self) -> DataFrame:
        """Current live index rows (id, _cid, q_vec, q_scale, q_norm) —
        equals assign+quantize of the corpus's current state."""
        return self.table.read().select(self.id_col, "_cid", "q_vec",
                                        "q_scale", "q_norm")

    def query(self, queries: DataFrame, *, k: int = 3, n_probe: int = 2,
              round_to: int = 3) -> DataFrame:
        """Top-k approximate-cosine neighbors from the STORED index:
        queries are assigned to their ``n_probe`` nearest centroids and
        quantized (batch-sized work), then joined broadcast against the
        index scan — the corpus-sized float read and matmul of the
        one-shot operator never happen. Output equals
        ``cosine_topk_ivf_q8(final_state, queries, frozen centroids)``
        (same columns: query_id, rank, neighbor_id, score)."""
        require_columns(queries, self.id_col, self.vec_col)
        assign = _ivf_assign_kernel(self._cids, self._cent_mat, n_probe,
                                    self.assign_round)
        q = (quantize_embeddings(queries, self.vec_col,
                                 out_col="_qv", scale_col="_qs",
                                 norm_col="_qn")
             .select(F.col(self.id_col).alias("query_id"),
                     "_qv", "_qs", "_qn",
                     F.explode(assign(F.col(self.vec_col))).alias("_cid")))
        c = self.entries().select(
            F.col(self.id_col).alias("neighbor_id"), F.col("_cid"),
            F.col("q_vec").alias("_cv"), F.col("q_scale").alias("_cs"),
            F.col("q_norm").alias("_cn"))
        sims = (c.join(F.broadcast(q), "_cid")
                .where(F.col("neighbor_id") != F.col("query_id"))
                .select("query_id", "neighbor_id",
                        q8_score(round_to).alias("score"))
                .groupBy("query_id", "neighbor_id")
                .agg(F.max("score").alias("score")))
        w = Window.partitionBy("query_id").orderBy(
            F.col("score").desc(), F.col("neighbor_id").asc())
        return (sims.withColumn("rank", F.row_number().over(w))
                .where(F.col("rank") <= k)
                .select("query_id", "rank", "neighbor_id", "score"))


class AnnIndexRefresher:
    """Downstream CDC consumer keeping an :class:`AnnIndex` in sync with
    a keyed ``LakeTable`` carrying an embedding column — the same
    consumer shape as ``DedupIndexRefresher``: per refresh it folds the
    source's NET changes since its cursor (snapshot diff, quiet buckets
    pruned driver-side) into the index, and the cursor commits
    ATOMICALLY with the index merge (snapshot property — the IVM
    pattern), so no crash window can separate "folded" from "advanced".
    Rides the streaming loop via ``StreamingIngest(views=[...])`` (it
    exposes the same ``refresh()`` / ``lake_tables()`` duck-type).

    An expired cursor snapshot (refresh lag beyond the source's
    retention, or a fresh index against a GC'd table) RESEEDS instead of
    wedging: the live state folds as upserts and index ids absent from
    it fold as deletes — strictly a full-corpus batch, exactly-once like
    any other."""

    _CURSOR_PROP = "ann_index_cursor"

    def __init__(self, spark: SparkSession, path: str, source, *,
                 centroids: DataFrame | None = None,
                 vec_col: str = "embedding", id_expr: str | None = None,
                 n_buckets: int = 16, assign_round: int = 6):
        """``centroids`` is required on FIRST build (it is frozen into
        the index); reopening adopts the stored set and ignores the
        argument. ``id_expr``: SQL expression deriving the index doc id
        from source columns (default: the source key columns joined with
        '|' — a string id)."""
        self.spark = spark
        self.path = path
        self.source = source
        self.vec_col = vec_col
        key_cols = source.snapshot()["key_cols"]
        self.id_expr = id_expr or \
            "concat_ws('|', " + ", ".join(key_cols) + ")"
        self.cursor_path = os.path.join(path, "cursor.json")
        idx_path = os.path.join(path, "index")
        if os.path.exists(os.path.join(idx_path, AnnIndex._PARAMS)):
            self.index = AnnIndex(spark, idx_path)
        else:
            if centroids is None:
                raise ValueError(
                    "first build needs centroids= (they are frozen into "
                    "the index; train offline via train_ivf_centroids)")
            os.makedirs(path, exist_ok=True)
            # centroid ids are internal list labels — relabel whatever
            # id column the trainer produced onto the index's own id name
            cid_col = [c for c in centroids.columns if c != vec_col][0]
            cent = centroids.select(
                F.col(cid_col).alias("doc_key"),
                F.col(vec_col).alias(vec_col))
            self.index = AnnIndex.create(
                spark, idx_path, cent, id_col="doc_key",
                id_type="string", vec_col=vec_col, n_buckets=n_buckets,
                assign_round=assign_round)

    def cursor(self) -> int:
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
        """For the streaming loop's catalog publisher."""
        return [self.index.table]

    def refresh(self) -> dict:
        src_v = self.source.snapshot()["version"]
        last = self.cursor()
        if src_v <= last:
            return {"skipped": True, "source_version": last}
        reseed = not self._cursor_snapshot_available(last)
        vc = self.vec_col
        if reseed:
            live = self.source.read().select(
                F.expr(self.id_expr).alias("doc_key"),
                F.col(vc).alias(vc),
                F.lit(src_v).cast("long").alias("seq"),
                # a live source row WITHOUT an embedding (not yet
                # embedded / scrubbed) cannot be indexed: fold it as a
                # delete — feeding it as an upsert would trip the
                # index's null-vector guard and wedge every refresh on
                # the same failing batch id
                F.when(F.col(vc).isNull(), F.lit("delete"))
                 .otherwise(F.lit("upsert")).alias("op"))
            stale = (self.index.entries()
                     .select(F.col(self.index.id_col).alias("doc_key"))
                     .join(live.select("doc_key"), "doc_key", "left_anti")
                     .select(F.col("doc_key"),
                             F.lit(None).cast("array<float>").alias(vc),
                             F.lit(src_v).cast("long").alias("seq"),
                             F.lit("delete").alias("op")))
            batch = live.unionByName(stale)
        else:
            ch = self.source.read_changes(last, src_v)
            batch = ch.select(
                F.expr(self.id_expr).alias("doc_key"),
                F.col(vc).alias(vc),
                F.lit(src_v).cast("long").alias("seq"),
                # null-embedding upserts fold as deletes (see reseed)
                F.when((F.col("change_type") == "delete")
                       | F.col(vc).isNull(), F.lit("delete"))
                 .otherwise(F.lit("upsert")).alias("op"))
        m = self.index.update(batch, f"src-{src_v}",
                              set_properties={self._CURSOR_PROP: src_v})
        self._advance_cursor(src_v)
        return {"source_version": src_v, "merge": m, "reseeded": reseed}
