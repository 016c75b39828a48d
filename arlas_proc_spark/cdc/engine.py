"""CdcEngine — the end-to-end ingest path.

feed (ordered change events) → prepare (normalize lang + sha256 content,
vectorized pandas/Arrow UDFs) → LakeTable.merge_batch (dedup by
(key, commit), deterministic LWW by seq, schema evolution, exactly-once
copy-on-write MERGE).

Reference analog of the whole path: the ARLAS batch pipeline
``readFromCsv → asArlasFormattedData → process(transformers) →
writeToElasticsearch`` (``/root/reference/README.md:193-404``,
``sql/WritableDataFrame.scala:83-86``), recast as CDC replay.
"""

from __future__ import annotations

import inspect

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.storagelevel import StorageLevel

from arlas_proc_spark.functions.content import with_content_hash, with_normalized_lang
from arlas_proc_spark.lake.lww import latest_by_max, max_per_key
from arlas_proc_spark.lake.table import LakeTable

KEY_COLS = ["repo", "path"]
SEQ_COL = "seq"

EVENT_SCHEMA = T.StructType([
    T.StructField("seq", T.LongType(), False),
    T.StructField("op", T.StringType(), False),
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), False),
    T.StructField("ts_s", T.LongType(), False),
    T.StructField("lang", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
])

TABLE_SCHEMA = T.StructType([
    T.StructField("repo", T.StringType(), False),
    T.StructField("path", T.StringType(), False),
    T.StructField("commit", T.StringType(), True),
    T.StructField("seq", T.LongType(), True),
    T.StructField("ts_s", T.LongType(), True),
    T.StructField("lang", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
    T.StructField("content_sha256", T.StringType(), True),
])


def prepare_events(events: DataFrame, *, normalize: bool = False) -> DataFrame:
    """Row-level transforms before merge, all Arrow-vectorized.

    ``normalize=False`` by default: the correctness oracle compares raw
    lang; pipelines wanting canonical tags opt in.
    """
    out = with_content_hash(events)
    if normalize:
        out = with_normalized_lang(out)
    return out


class CdcEngine:
    def __init__(self, spark: SparkSession, table_path: str, *,
                 n_buckets: int = 16,
                 broadcast_key_limit: int = 5_000_000,
                 ledger_scope: str = "default",
                 write_mode: str = "cow",
                 quarantine_dir: str | None = None,
                 table_io=None,
                 changefeed: bool = False,
                 bloom_bits_per_key: int = 0,
                 patch_cols: list[str] | None = None,
                 branch: str | None = None,
                 row_lineage: bool = False):
        """``broadcast_key_limit``: batches touching more distinct keys
        than this join the winners back unhinted, so the planner and AQE
        pick the join — the winner set must fit in every executor for a
        broadcast, and ~5M keys ≈ a few hundred MB build side, the edge of
        comfortable at typical executor memory.

        ``ledger_scope``: namespace for exactly-once batch ids (Delta's
        txnAppId). Batch ids only dedupe within their scope, so a stream
        restarted with a FRESH checkpoint — whose batch ids restart at 0 —
        must use a new scope or its first batches would be silently
        skipped as replays of the old stream's. StreamingIngest derives
        the scope from the checkpoint location automatically.

        ``write_mode``: 'cow' (default) MERGEs each batch into the touched
        buckets — write cost grows with touched table state, reads are
        single-generation fast. 'mor' APPENDs each batch's winners and
        resolves LWW at read time (LakeTable.append_batch) — ingest cost
        is O(batch) no matter how big the table gets; run
        ``table.compact()`` periodically to fold generations. At
        10^10-event scale with frequent micro-batches, 'mor' is the shape
        whose ingest does not degrade as the table grows. 'dv' is the
        third point on the curve (Delta deletion vectors / Iceberg v2
        positional deletes, LakeTable.merge_batch(dv=True)): writes are
        O(changed rows) like 'mor' — superseded rows are masked by
        (file, position) instead of rewritten — while reads stay
        LWW-free like 'cow' (one broadcast anti-join against the mask);
        ``table.compact(dv_dead_ratio=...)`` folds masks periodically.

        ``quarantine_dir``: when set, events violating the WAL contract
        (null key columns) are ROUTED to a side quarantine store —
        parquet under ``quarantine_dir/batch_id=<id>/`` with a _reason
        column — instead of failing the batch; the count rides the
        batch's ledger entry as ``rows_quarantined`` (lineage-visible).
        The per-batch overwrite makes redeliveries idempotent. Reference
        analog: ``filter/WithOutliersToStore.scala:40-94`` — flagged
        rows go to a separate keyed store, never silently dropped. When
        unset (default), a null key fails the batch loudly (strict WAL
        contract).

        ``patch_cols``: treat these payload columns as SPARSE UPDATES
        (null = "unchanged" — Debezium partial events); the merge folds
        each to its latest non-null value per key with delete-reset
        semantics (LakeTable.merge_batch(patch_cols=...)). 'content' in
        the set implies 'content_sha256' (the derived invariant must
        fold WITH its base column — same null pattern, same donor
        event). Requires write_mode='cow' (read-time LWW resolves whole
        rows, so 'mor' appends cannot fold columns), and disables the
        winners-broadcast fast path: losers may donate column values,
        so every event crosses prepare_events and the merge's own
        event-level fold does the compaction."""
        self.spark = spark
        self.quarantine_dir = quarantine_dir
        self.broadcast_key_limit = broadcast_key_limit
        self.ledger_scope = ledger_scope
        self.commit_retries = 2  # re-merge attempts on ConcurrentCommitError
        if write_mode not in ("cow", "mor", "dv"):
            raise ValueError(f"write_mode must be 'cow', 'mor' or 'dv', "
                             f"got {write_mode!r}")
        self.write_mode = write_mode
        if patch_cols and write_mode == "mor":
            raise ValueError(
                "patch_cols requires write_mode='cow': merge-on-read "
                "resolves whole rows at read time and cannot fold "
                "column-level sparse updates")
        self.patch_cols = list(patch_cols) if patch_cols else None
        if self.patch_cols and "content" in self.patch_cols \
                and "content_sha256" not in self.patch_cols:
            self.patch_cols.append("content_sha256")
        # branch ingest (audit branch / multi-commit WAP): every merge
        # and empty-batch ledger entry lands on the named branch chain;
        # main's CURRENT never moves until fast_forward. mor appends
        # bypass the branch machinery (append_batch commits to main), so
        # the combination is refused rather than silently split-brained.
        if branch is not None and write_mode == "mor":
            raise ValueError(
                "branch ingest requires write_mode='cow' or 'dv': "
                "merge-on-read appends commit to main, not the branch")
        self.branch = branch
        # Iceberg v3 row lineage (LakeTable.create(row_lineage=True)):
        # stable _row_id per key-row + _last_updated_version, maintained
        # by the merge join. Incompatible with mor appends by the same
        # argument as patch_cols (read-time LWW cannot inherit ids).
        if row_lineage and write_mode == "mor":
            raise ValueError(
                "row_lineage requires write_mode='cow' or 'dv': "
                "merge-on-read generations cannot inherit _row_id")
        # TableIO seam (SURVEY §7.1 Plan A): inject any TableIO —
        # e.g. lake.iceberg.IcebergTableIO over a real Iceberg runtime —
        # instead of the bundled snapshot backend
        # fail at construction, not at the first micro-batch: mor appends
        # emit no change rows, so a changefeed table ingested with mor
        # would silently starve CDF consumers (a mor commit on one only
        # stamps the log_gap_version marker downstream tailers refuse on
        # — too late to be the first line of defense). Checked BEFORE
        # create so a refused combination leaves no half-made table
        # behind; for a pre-existing table the authoritative flag is its
        # own snapshot (a failing snapshot() read propagates — masking it
        # could silently attach a mor writer to a changefeed table).
        _mor_cf_err = (
            "write_mode='mor' cannot be combined with a changefeed=True "
            "table: merge-on-read commits emit no change rows and "
            "downstream CDF consumers would silently diverge. Use "
            "write_mode='cow' for changefeed tables.")
        if write_mode == "mor" and changefeed:
            raise ValueError(_mor_cf_err)
        preexisting_lake = False
        if table_io is not None:
            if write_mode == "dv":
                params = inspect.signature(
                    table_io.merge_batch).parameters
                if "dv" not in params and not any(
                        p.kind == p.VAR_KEYWORD
                        for p in params.values()):
                    raise ValueError(
                        "write_mode='dv' requires a TableIO backend with "
                        "deletion-vector support (the bundled LakeTable); "
                        "Iceberg v2 runtimes apply positional deletes "
                        "inside their own MERGE INTO — use write_mode="
                        "'cow' there")
            self.table = table_io
        elif LakeTable.exists(spark, table_path):
            self.table = LakeTable(spark, table_path)
            preexisting_lake = True
        else:
            self.table = LakeTable.create(
                spark, table_path, TABLE_SCHEMA, KEY_COLS, SEQ_COL,
                n_buckets=n_buckets, changefeed=changefeed,
                bloom_bits_per_key=bloom_bits_per_key,
                row_lineage=row_lineage)
        if write_mode == "mor" and bool(
                self.table.snapshot().get("changefeed")):
            raise ValueError(_mor_cf_err)
        # An explicit bloom request must not be silently dropped just
        # because the table pre-exists (create-only flags are a silent
        # no-op trap): adopt it via a metadata-only commit so future data
        # commits write sidecars at the requested density.
        # bloom_bits_per_key=0 is the "unspecified" default and leaves the
        # table's own snapshot flag in charge. Runs AFTER every validation
        # above — a refused construction must not have mutated the table.
        if preexisting_lake and bloom_bits_per_key and int(
                self.table.snapshot().get("bloom_bits_per_key", 0)) \
                != int(bloom_bits_per_key):
            self.table.set_bloom_bits(bloom_bits_per_key)
        # delegate CAS retries to backends that take commit_retries (the
        # bundled LakeTable): inside merge_batch a disjoint-bucket loss
        # resolves by the metadata-only commit rebase; only non-disjoint
        # conflicts repay the full re-merge. VAR_KEYWORD does NOT count —
        # a **kwargs sink gives no evidence the backend implements retry.
        self._delegate_retries = "commit_retries" in inspect.signature(
            self.table.merge_batch).parameters

    def apply_batch(self, events: DataFrame, batch_id: int | str, *,
                    assume_all_buckets: bool = False) -> dict:
        """Compact + prepare + merge one micro-batch; exactly-once per
        batch_id. Compaction (in-batch LWW, keeping deletes) runs BEFORE the
        vectorized hash so the pandas UDF only touches winning rows — at
        10^10 events most rows lose LWW and never cross the Arrow boundary.

        Incremental path: the merge needs the touched-bucket set BEFORE it
        builds its join (to know which current-state files to read), and the
        MERGE join itself needs the compacted winners. Bucket = pmod(hash(
        key), N) depends on the KEY only — so instead of persisting the full
        payload winners (content strings dominate; the old bottleneck, see
        BENCH/BASELINE.md), persist just the NARROW max-seq winners (~40
        bytes/key), derive touched buckets from it, and reuse it as the
        broadcast build side of the join-back. The heavy payload pipeline
        (probe + sha256) then runs exactly ONCE, inside the merge's write
        action, with zero payload cached. Requires a replayable source
        (immutable WAL segments / deterministic generator): the feed is
        scanned twice (max pass, probe pass) and the winning (key, seq)
        rows must appear in both — the WAL contract guarantees it.

        Full replays (assume_all_buckets) take the same winners-persist
        path minus bucket discovery, so the broadcast_key_limit guard
        covers bootstrap too — the case most likely to carry a winner set
        too big to broadcast — at the same two feed scans."""
        extra_metrics: dict | None = None
        if self.quarantine_dir is not None:
            events, n_bad = self._quarantine_null_keys(events, batch_id)
            extra_metrics = {"rows_quarantined": n_bad}
        winners = (max_per_key(events, KEY_COLS, SEQ_COL)
                   .persist(StorageLevel.MEMORY_AND_DISK))
        try:
            snap = self.table.snapshot()
            from functools import reduce as _reduce

            from arlas_proc_spark.lake.table import bucket_expr
            # WAL contract check rides the winners action: the old
            # expression-level raise_error guard (still present in
            # lww_compact as a belt) is plan-shape-dependent — Catalyst
            # can push the join's IsNotNull filter beneath the guarded
            # projection, silently dropping a lone null-key row instead
            # of raising. A driver-side flag aggregated in the SAME job
            # as bucket discovery is deterministic and free.
            any_null = _reduce(lambda a, b: a | b,
                               [F.col(k).isNull() for k in KEY_COLS])
            null_flag = F.max(F.when(any_null, 1).otherwise(0)).alias("_nn")
            # Bucket metadata comes from the snapshot when the backend
            # records it (LakeTable) and falls back to the TableIO
            # object's own attributes (IcebergTableIO carries key_cols /
            # n_buckets directly; its snapshot() is just identifier +
            # properties). Backends exposing neither simply skip bucket
            # discovery — their merge_batch ignores touched_buckets.
            key_cols = snap.get("key_cols") or getattr(
                self.table, "key_cols", None)
            n_buckets = snap.get("n_buckets") or getattr(
                self.table, "n_buckets", None)
            has_bucket_meta = key_cols is not None and n_buckets is not None
            if (self.write_mode == "mor" or assume_all_buckets
                    or not has_bucket_meta):
                # append mode never reads current state, so bucket
                # discovery is unnecessary (the staged files define the
                # touched set); replays treat the batch as touching all
                touched = None
                row = winners.agg(F.count(F.lit(1)).alias("_n"),
                                  null_flag).collect()[0]
                n_keys, has_null_key = row["_n"], bool(row["_nn"])
            else:
                # ONE action answers four questions: which buckets the
                # batch touches, whether it is empty, how many distinct
                # keys it carries, and whether any key is null
                # (≤ n_buckets result rows — tiny collect)
                per_bucket = (winners.groupBy(
                    bucket_expr(key_cols, n_buckets).alias("_b"))
                    .agg(F.count(F.lit(1)).alias("count"), null_flag)
                    .collect())
                touched = [r["_b"] for r in per_bucket]
                n_keys = sum(r["count"] for r in per_bucket)
                has_null_key = any(r["_nn"] for r in per_bucket)
            if has_null_key:
                raise ValueError(
                    "null key column in change feed (key columns are NOT "
                    "NULL); configure quarantine_dir to route violators "
                    "to a side store instead")
            # empty micro-batch (availableNow drains often end with one):
            # nothing to merge. The id IS still ledgered (cheap data-free
            # snapshot commit) — otherwise the contiguous-prefix watermark
            # would stall at the gap and `pending` would grow unboundedly
            # on a long tail. n_keys==0 covers BOTH modes (touched is None
            # in mor mode, so it cannot stand in for emptiness).
            if n_keys == 0:
                return self.table.commit_empty_batch(
                    batch_id, scope=self.ledger_scope,
                    extra_metrics=extra_metrics,
                    **({"branch": self.branch} if self.branch else {}))
            if self.patch_cols:
                # sparse feed: losing events may donate column values, so
                # no pre-merge compaction — prepare every event (sha256 of
                # a null content is null, so the derived column folds with
                # its base) and let the merge's event-level fold compact
                compacted = events
            else:
                # a winner set too big to broadcast joins back unhinted
                compacted = lww_compact(events, winners=(
                    F.broadcast(winners)
                    if n_keys <= self.broadcast_key_limit else winners))
            prepared = prepare_events(compacted)
            if self.write_mode == "mor":
                return self.table.append_batch(
                    prepared, batch_id, batch_compacted=True,
                    ledger_scope=self.ledger_scope,
                    extra_metrics=extra_metrics)
            # optimistic-concurrency retry: a competing writer advancing
            # CURRENT mid-merge raises ConcurrentCommitError AFTER our
            # data files staged (they become GC-able orphans); re-running
            # merge_batch re-reads the new snapshot, re-checks the ledger,
            # and merges against the competitor's state — convergent
            # because the MERGE is keyed LWW. Touched buckets stay valid
            # (they depend only on keys and the fixed bucket count).
            # Backends exposing ``commit_retries`` (the bundled LakeTable)
            # get the retries DELEGATED so a disjoint-bucket loss resolves
            # by the metadata-only commit rebase instead of re-running the
            # merge pipeline; narrower TableIO backends keep the outer
            # re-merge loop.
            merge_kwargs = dict(
                assume_all_buckets=assume_all_buckets,
                touched_buckets=touched,
                batch_compacted=not self.patch_cols,
                patch_cols=self.patch_cols,
                ledger_scope=self.ledger_scope,
                extra_metrics=extra_metrics,
                **({"branch": self.branch} if self.branch else {}),
                # only passed in dv mode: TableIO backends without
                # deletion-vector support keep their narrower
                # merge_batch signature (construction validated it).
                # The key-set size is already counted, so the
                # broadcast decision reuses the same guard as the
                # winners-broadcast compaction.
                **({"dv": True,
                    "dv_prune": (
                        "broadcast"
                        if n_keys <= self.broadcast_key_limit
                        else "auto")}
                   if self.write_mode == "dv" else {}))
            if self._delegate_retries:
                return self.table.merge_batch(
                    prepared, batch_id,
                    commit_retries=self.commit_retries, **merge_kwargs)
            from arlas_proc_spark.lake.table import ConcurrentCommitError
            last_err: Exception | None = None
            for _ in range(self.commit_retries + 1):
                try:
                    return self.table.merge_batch(
                        prepared, batch_id, **merge_kwargs)
                except ConcurrentCommitError as e:
                    last_err = e
            raise last_err
        finally:
            winners.unpersist()

    def _quarantine_null_keys(self, events: DataFrame,
                              batch_id: int | str) -> tuple[DataFrame, int]:
        """Split WAL-contract violators (null key columns) out of the
        batch: write them to quarantine_dir/batch_id=<id>/ (per-batch
        overwrite → idempotent on redelivery) with a _reason column, and
        return (clean events, violator count). The count is observed on
        the write action itself — no extra pass."""
        from functools import reduce as _reduce

        from pyspark.sql import Observation
        null_cond = _reduce(lambda a, b: a | b,
                            [F.col(k).isNull() for k in KEY_COLS])
        obs = Observation()
        bad = (events.where(null_cond)
               .withColumn("_reason", F.lit("null_key"))
               .observe(obs, F.count(F.lit(1)).alias("n")))
        (bad.write.mode("overwrite")
         .parquet(f"{self.quarantine_dir}/batch_id={batch_id}"))
        return events.where(~null_cond), int(obs.get["n"] or 0)

    def quarantine(self) -> DataFrame:
        """All quarantined rows (batch_id as a partition column)."""
        if self.quarantine_dir is None:
            raise ValueError("engine was built without quarantine_dir")
        # mergeSchema: debezium dead-letter batches carry an extra
        # _raw_value column the null-key batches don't
        return (self.spark.read.option("mergeSchema", "true")
                .parquet(self.quarantine_dir))

    def replay(self, events: DataFrame, batch_id: str = "replay-0") -> dict:
        """Full-log batch replay (bootstrap): one big merge. For an empty
        table this is the fastest convergence path — a single global LWW
        pass, no per-batch read-modify-write; a full replay touches all
        buckets, so the bucket-discovery scan is skipped."""
        return self.apply_batch(events, batch_id, assume_all_buckets=True)

    def state(self) -> DataFrame:
        return self.table.read()

    def lineage(self) -> list[dict]:
        return self.table.lineage()


def lww_compact(events: DataFrame, key_cols: list[str] = KEY_COLS,
                seq_col: str = SEQ_COL,
                winners: DataFrame | None = None) -> DataFrame:
    """One row per key: the latest event by (seq, commit) — deletes kept
    (the merge needs them as tombstones). The scalable, deterministic
    formulation of the reference's arbitrary ``dropDuplicates``
    (``tools/DataFrameFormatter.scala:47-49``).

    The narrow LWW kernel (``lake.lww.latest_by_max``): max(seq) per key,
    then a left-semi join back to the winning rows. ``seq`` is the WAL
    position, unique per event, so a pure-numeric max fully determines
    the winner; a long-typed max is a HashAggregate with map-side
    partials inside whole-stage codegen, at ~40 bytes/key. The big side
    streams map-side with zero shuffle when the winners broadcast.

    ``winners``: a precomputed (persisted) ``lake.lww.max_per_key`` frame
    — lets a caller share one max pass between bucket discovery and this
    join-back (CdcEngine.apply_batch). Wrap it in ``F.broadcast`` to force
    the broadcast join; unhinted, the planner and AQE decide. Without it
    the winners are computed here and broadcast.
    """
    # WAL contract: key columns are NOT NULL. Without this guard a
    # null-key event would silently vanish in the equi-join below (null
    # never equals null) instead of failing the batch.
    for k in key_cols:
        events = events.withColumn(
            k, F.when(F.col(k).isNotNull(), F.col(k)).otherwise(
                F.raise_error(F.lit(
                    f"null key column '{k}' in change feed "
                    f"(key columns are NOT NULL)"))))
    if winners is None:
        winners = F.broadcast(max_per_key(events, key_cols, seq_col))
    # duplicate deliveries of the winning event survive the join; they are
    # byte-identical (same WAL position ⇒ same commit, same payload), so
    # distinct over ALL columns removes them — and unlike
    # dropDuplicates(key), which plans First() aggs over string buffers
    # (non-codegen SortAggregate), an all-column distinct is a zero-buffer
    # HashAggregate with map-side partials (tiny input: winners only)
    return (latest_by_max(events, key_cols, seq_col, winners)
            .select(*events.columns).dropDuplicates())


def lww_resolve(events: DataFrame, key_cols: list[str] = KEY_COLS,
                seq_col: str = SEQ_COL, op_col: str = "op",
                delete_value: str = "delete") -> DataFrame:
    """Pure-expression last-writer-wins over a change feed (no table):
    the batch oracle the replay-to-convergence test uses. Delete winners
    drop their key."""
    return (lww_compact(events, key_cols, seq_col)
            .where(F.col(op_col) != delete_value)
            .drop(op_col))
