"""Structured Streaming binlog/WAL tail → exactly-once lake upsert.

Pipeline::

    readStream (file source tailing the WAL segment dir, ordered discovery)
      → event-time watermark + dropDuplicatesWithinWatermark(repo,path,commit)
      → foreachBatch(batch_id, df):
            CdcEngine.apply_batch(df, batch_id)   # MERGE, LWW, evolution

Exactly-once is the composition of three idempotence layers:
1. Spark's checkpointed offset log re-delivers a micro-batch with the SAME
   batch_id after a crash;
2. the lake ledger (stored in the same atomic snapshot commit as the data)
   skips batch_ids it already committed;
3. the MERGE itself is keyed + LWW, so even a forced re-apply converges.

Reference analog: the idempotent Elasticsearch doc-id upsert
(``sql/WritableDataFrame.scala:83-86``) — the reference gets replay safety
from deterministic doc ids; we get it transactionally.

The watermark-dedup stage bounds state: with events carrying event-time
``ts_s``, duplicates arriving within the watermark horizon are dropped
stream-side (reference analog: ``DataFrameFormatter.withNoDuplicates``,
``tools/DataFrameFormatter.scala:47-49``); anything older is still handled
by the merge's (key, commit) dedup + LWW, so correctness never depends on
the watermark.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from arlas_proc_spark.cdc.engine import EVENT_SCHEMA, CdcEngine
from arlas_proc_spark.sources.readers import read_stream


class StreamingIngest:
    def __init__(self, spark: SparkSession, table_path: str, *,
                 n_buckets: int = 16, watermark: str = "1 hour",
                 stream_dedup: bool = True,
                 event_schema=None, wal_format: str = "parquet",
                 write_mode: str = "cow", compact_every: int | None = None,
                 quarantine_dir: str | None = None,
                 bloom_bits_per_key: int = 0,
                 views: list | None = None,
                 changefeed: bool = False,
                 state_partitions: int | None = None,
                 patch_cols: list[str] | None = None,
                 migrate_per_batch: int | None = None,
                 catalog=None, branch: str | None = None,
                 row_lineage: bool = False):
        """``event_schema`` lets a redeployed tail read a WIDENED feed
        schema (new columns added upstream): the file source reads older
        segments missing those columns as nulls, and the merge evolves the
        live table schema when the first batch carrying them arrives.
        ``wal_format`` ∈ {parquet, json, csv, debezium} — the segment
        encoding. ``json`` expects already-typed rows in the feed schema;
        ``debezium`` tails raw JSONL of standard Debezium envelopes
        (payload.op c/r/u/d, before/after images, source.lsn, ts_ms) and
        decodes them in-stream (sources/debezium.py, map-only);
        undecodable envelopes go to ``quarantine_dir`` with a ``_reason``
        (malformed / bad_op / missing_after / missing_before /
        missing_seq) and the raw line, or are dropped when no
        quarantine_dir is configured.
        ``compact_every``: fold a bucket's merge-on-read generations once
        it accumulates this many files — the operational companion of
        ``write_mode='mor'`` and ``'dv'`` (both append ~one file per
        touched bucket per batch; the rewrite also folds dv masks). Cow
        mode writes one file per bucket per merge, so it never fragments
        and this knob is a no-op there. The
        trigger is derived from the SNAPSHOT, not an in-memory counter,
        so periodic availableNow drains (each constructing a fresh
        StreamingIngest) still compact on schedule. Compaction commits
        its own ledgered snapshot; a crash between apply and compact
        loses only the compaction, never data.
        ``views``: IncrementalAggView instances over this table, refreshed
        after every committed micro-batch — the full production loop
        (WAL → table → rollups) stays O(delta) end to end. Each view's
        cursor/ledger makes the refresh exactly-once, so a crash between
        table commit and view refresh replays safely on resume.
        ``changefeed``: create the table with per-commit change-file
        emission (ignored for pre-existing tables) so downstream
        consumers — replicas, views — tail the merge-emitted log instead
        of snapshot diffs.
        ``state_partitions``: partition count for the WATERMARK-DEDUP
        state store only. Every state partition pays a fixed commit cost
        per micro-batch (store open + delta file + fsync into the
        checkpoint), so at small-batch cadence 32 state partitions of a
        few MB each are pure overhead. Spark pins the stateful operator's
        partitioning from ``spark.sql.shuffle.partitions`` AT FIRST QUERY
        START (recorded in checkpoint offset metadata and reused on every
        resume), while the foreachBatch merge plans against the LIVE
        session conf — so the conf is lowered for stream startup and
        restored inside the first micro-batch, giving the dedup stage
        ``state_partitions`` stores and the merge its full parallelism
        (and the merge's bucket-aligned join width, the smallest
        divisor of n_buckets that is >= P).
        Ignored when resuming an existing checkpoint (partitioning is
        already pinned there). ``run_to_completion`` always restores the
        session conf; a continuous ``start()`` stopped before its first
        micro-batch leaves it lowered until the next start/batch.
        ``patch_cols``: ingest the WAL as SPARSE updates (null payload
        = "unchanged"; see CdcEngine) — cow mode only. Stream dedup by
        (key, commit) stays safe: re-deliveries are identical rows, so
        dropping one never drops a column donor.
        ``migrate_per_batch``: when an incremental rebucket is armed on
        the table (``begin_rebucket``), advance its frontier by this
        many old buckets after every committed micro-batch — the full
        production loop for re-partitioning a live table: ingest and
        migration interleave in one single-writer stream until the
        migration finalizes itself, no separate maintenance window.
        Armed-state detection is a driver-side manifest-list read per
        batch; a table with no migration in progress pays only that.
        ``catalog``: a ``lake.catalog.Catalog`` — after every committed
        micro-batch (merge + auto-compaction + migration step + view/
        index refreshes), ONE catalog transaction flips the pins of every
        registered catalog entry belonging to this pipeline (the ingest
        table plus each view's ``lake_tables()``), so catalog readers see
        the batch's table AND its rollups/indexes appear together —
        never the torn table-new/view-old state. Which entries belong is
        derived by path match against the catalog's registry, so the only
        setup is registering the tables once; entries for OTHER pipelines
        sharing the catalog are never touched. The txn id is scoped by
        (checkpoint, batch_id) — a replayed micro-batch's flip no-ops via
        the catalog's own ledger, extending exactly-once to visibility.
        ``branch``: commit every micro-batch (and empty-drain ledger
        entry) onto this named branch — main's CURRENT never moves until
        ``fast_forward`` publishes the whole drained ingest atomically
        (the audit-branch / multi-commit-WAP workflow); incompatible
        with the main-acting options (mor, compact_every, views,
        catalog, migrate_per_batch).
        ``row_lineage``: create the table with Iceberg-v3 row lineage
        (stable ``_row_id`` + ``_last_updated_version`` per row,
        ``read(with_row_ids=True)``); ignored for pre-existing tables
        (the table's own flag governs)."""
        self.spark = spark
        self.table_path = table_path
        self.n_buckets = n_buckets
        self.write_mode = write_mode
        self.quarantine_dir = quarantine_dir
        self.changefeed = changefeed
        self.bloom_bits_per_key = bloom_bits_per_key
        self.patch_cols = list(patch_cols) if patch_cols else None
        if branch is not None and (compact_every or views or catalog
                                   or migrate_per_batch):
            # all four operate on MAIN's committed state — running them
            # against a stream whose merges land on an unpublished branch
            # would split-brain the pipeline (compact/migrate would churn
            # main, views/catalog would publish state main does not have).
            # Checked BEFORE the engine constructs so a refused
            # combination leaves no freshly created table behind (the
            # codebase-wide create-validation rule, see cdc/engine.py)
            raise ValueError(
                "branch ingest cannot be combined with compact_every, "
                "views, catalog or migrate_per_batch — they act on main, "
                "which a branch ingest never advances; fast_forward the "
                "branch first")
        self.branch = branch
        self.row_lineage = row_lineage
        self.engine = CdcEngine(spark, table_path, n_buckets=n_buckets,
                                write_mode=write_mode,
                                quarantine_dir=quarantine_dir,
                                changefeed=changefeed,
                                bloom_bits_per_key=bloom_bits_per_key,
                                patch_cols=patch_cols, branch=branch,
                                row_lineage=row_lineage)
        self.watermark = watermark
        self.stream_dedup = stream_dedup
        self.event_schema = event_schema or EVENT_SCHEMA
        self.wal_format = wal_format
        self.compact_every = compact_every
        self.views = list(views or [])
        self.state_partitions = state_partitions
        self.migrate_per_batch = migrate_per_batch
        self.catalog = catalog
        self._restore_partitions: str | None = None

    def events_stream(self, wal_dir: str, max_files_per_trigger: int = 1) -> DataFrame:
        if self.wal_format == "debezium":
            return self._debezium_stream(wal_dir, max_files_per_trigger)
        raw = read_stream(self.spark, wal_dir, self.event_schema,
                          fmt=self.wal_format,
                          max_files_per_trigger=max_files_per_trigger)
        if not self.stream_dedup:
            return raw
        with_time = raw.withColumn("_event_time",
                                   F.timestamp_seconds(F.col("ts_s")))
        deduped = (with_time.withWatermark("_event_time", self.watermark)
                   .dropDuplicatesWithinWatermark(["repo", "path", "commit"]))
        return deduped.drop("_event_time")

    def _debezium_stream(self, wal_dir: str,
                         max_files_per_trigger: int) -> DataFrame:
        """Tail JSONL segments of Debezium envelopes: decode (map-only)
        BEFORE the watermark dedup so the dedup keys on the decoded
        (repo, path, commit). Undecodable rows keep their ``_dlq_reason``
        marker through the stream and are split into the quarantine store
        inside foreachBatch. Their dedup identity is md5(raw envelope) —
        byte-identical redelivered garbage collapses, distinct garbage
        survives. Event time for the watermark stage: decoded ``ts_s``,
        else ``ts_ms`` regex-recovered from the RAW line (a truncated or
        op-corrupted envelope usually still carries its timestamp bytes —
        never processing time, which would race the watermark past every
        in-flight good row). A record with NO recoverable timestamp gets
        epoch 0 and is dedup-dropped once the watermark advances; run
        ``stream_dedup=False`` if such garbage must reach the DLQ."""
        import pyspark.sql.types as T

        from arlas_proc_spark.sources.debezium import (DLQ_REASON,
                                                       RAW_VALUE,
                                                       decode_debezium)
        row_schema = T.StructType(
            [f for f in self.event_schema.fields
             if f.name not in ("seq", "op", "ts_s")])
        raw = read_stream(self.spark, wal_dir,
                          T.StructType([T.StructField("value",
                                                      T.StringType())]),
                          fmt="text",
                          max_files_per_trigger=max_files_per_trigger)
        decoded = decode_debezium(raw, row_schema)
        if not self.stream_dedup:
            return decoded
        rx = F.regexp_extract(F.coalesce(F.col(RAW_VALUE), F.lit("")),
                              r'"ts_ms":\s*(\d{1,18})', 1)
        recovered_ms = F.when(rx == "", F.lit(None)).otherwise(
            rx.cast("long"))
        with_time = decoded.withColumn(
            "_event_time",
            F.coalesce(F.timestamp_seconds(F.col("ts_s")),
                       F.timestamp_seconds(
                           F.floor(recovered_ms / F.lit(1000))),
                       F.timestamp_seconds(F.lit(0))))
        with_fp = with_time.withColumn(
            "_dlq_fp",
            F.when(F.col(DLQ_REASON).isNotNull(),
                   F.md5(F.coalesce(F.col(RAW_VALUE), F.lit(""))))
            .otherwise(F.lit("")))
        deduped = (with_fp.withWatermark("_event_time", self.watermark)
                   .dropDuplicatesWithinWatermark(
                       ["repo", "path", "commit", "_dlq_fp"]))
        return deduped.drop("_event_time", "_dlq_fp")

    def start(self, wal_dir: str, checkpoint_dir: str, *,
              max_files_per_trigger: int = 1, available_now: bool = True):
        """Start the ingest query. ``available_now=True`` processes the
        backlog then stops (the replay mode the tests/bench use);
        ``False`` runs continuously tailing the WAL."""
        events = self.events_stream(wal_dir, max_files_per_trigger)
        # exactly-once batch ids are only meaningful WITHIN one checkpoint
        # lineage (a fresh checkpoint restarts ids at 0) — scope the lake
        # ledger by the checkpoint location so a redeployed stream cannot
        # have its first batches mistaken for replays of an old stream's
        # (Delta's txnAppId pattern)
        scope = hashlib.sha256(
            os.path.abspath(checkpoint_dir).encode()).hexdigest()[:16]
        if self.engine.ledger_scope != scope:
            self.engine = CdcEngine(
                self.spark, self.table_path, n_buckets=self.n_buckets,
                ledger_scope=scope,
                write_mode=self.write_mode,
                quarantine_dir=self.quarantine_dir,
                changefeed=self.changefeed,
                bloom_bits_per_key=self.bloom_bits_per_key,
                patch_cols=self.patch_cols, branch=self.branch,
                row_lineage=self.row_lineage)

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            # state_partitions: batch 0's stateful planning (which pinned
            # the dedup store's partition count into the checkpoint) has
            # already happened by the time foreachBatch runs — restore
            # the session conf HERE so this batch's own merge jobs, and
            # everything after, plan at full parallelism
            if self._restore_partitions is not None:
                self.spark.conf.set("spark.sql.shuffle.partitions",
                                    self._restore_partitions)
                self._restore_partitions = None
            # persist: apply_batch scans the batch twice (narrow LWW argmax,
            # then the merge's probe pass) and without a cache each scan
            # would re-execute the whole micro-batch plan INCLUDING the
            # state-store dedup scan
            batch_df.persist()
            try:
                events_df = batch_df
                if self.wal_format == "debezium":
                    # split the dead-letter rows out BEHIND the persist so
                    # the quarantine write doesn't re-execute the micro-
                    # batch's source + state-store plan
                    from arlas_proc_spark.sources.debezium import (
                        DLQ_REASON, split_debezium)
                    events_df, bad = split_debezium(batch_df)
                    events_df = events_df.select(
                        *[f.name for f in self.event_schema.fields])
                    if self.quarantine_dir is not None:
                        (bad.withColumnRenamed(DLQ_REASON, "_reason")
                         .write.mode("overwrite")
                         .parquet(f"{self.quarantine_dir}"
                                  f"/batch_id=dlq-{batch_id}"))
                # empty final batches are detected inside apply_batch from
                # the touched-bucket set — no separate isEmpty() job
                m = self.engine.apply_batch(events_df, batch_id)
            finally:
                batch_df.unpersist()
            if self.compact_every and not m.get("skipped") \
                    and not m.get("empty"):
                # state-derived trigger: compact when any bucket's file
                # count reaches the threshold (snapshot read is a cheap
                # driver-side JSON load). The batch_id is scope+version-
                # unique, so a redeployed stream can't collide with a
                # prior stream's compaction ids in the ledger.
                snap = self.engine.table.snapshot()
                # file_counts reads the manifest LIST only — with sharded
                # manifests this per-batch check never loads a bucket
                # manifest, so the trigger stays O(buckets) driver math
                if any(n >= self.compact_every
                       for n in self.engine.table.file_counts().values()):
                    self.engine.table.compact(
                        max_files_per_bucket=self.compact_every - 1,
                        batch_id=f"autocompact-{self.engine.ledger_scope[:8]}"
                                 f"-v{snap['version']}")
            if self.migrate_per_batch:
                # interleave an armed incremental rebucket with ingest:
                # one frontier step per committed micro-batch, in the
                # same single-writer loop (no CAS contention); the last
                # step finalizes and the check becomes a cheap no-op
                if self.engine.table.snapshot().get("rebucket"):
                    self.engine.table.migrate_buckets(
                        self.migrate_per_batch)
            # downstream rollups ride the same loop: each refresh folds
            # exactly this batch's change feed (O(delta)); skipped
            # redeliveries refresh as no-ops via the view cursor
            for v in self.views:
                v.refresh()
            # visibility commit point: everything this batch wrote —
            # table, rollups, indexes — becomes catalog-visible in ONE
            # CAS. A crash before this line leaves catalog readers on the
            # previous consistent set; the replayed batch re-runs the
            # (no-op) merges and lands the flip.
            if self.catalog is not None:
                self._publish_catalog(batch_id)

        if self.state_partitions and self.stream_dedup \
                and self._restore_partitions is None:
            # lower the conf for stream startup only; the first _apply
            # call restores it (see _apply). The stateful operator's
            # partitioning is recorded in the checkpoint's offset
            # metadata at batch 0 and reused on every resume. The
            # None-guard keeps a SECOND start() after a zero-batch run
            # (where _apply never fired) from re-capturing the already-
            # lowered conf as the "original" and pinning the session at
            # state_partitions forever.
            self._restore_partitions = self.spark.conf.get(
                "spark.sql.shuffle.partitions")
            self.spark.conf.set("spark.sql.shuffle.partitions",
                                str(self.state_partitions))
        writer = (events.writeStream
                  .foreachBatch(_apply)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, wal_dir: str, checkpoint_dir: str, *,
                          max_files_per_trigger: int = 1,
                          timeout_s: int = 600) -> None:
        """Drain the backlog (availableNow) and return when done. Raises
        TimeoutError if the backlog did not drain within ``timeout_s`` —
        a silently-stopped partial drain would be indistinguishable from
        completion to the caller."""
        q = self.start(wal_dir, checkpoint_dir,
                       max_files_per_trigger=max_files_per_trigger,
                       available_now=True)
        try:
            q.awaitTermination(timeout_s)
        finally:
            # an empty backlog processes zero batches, so _apply never
            # restores the state_partitions conf — do it here
            if self._restore_partitions is not None:
                self.spark.conf.set("spark.sql.shuffle.partitions",
                                    self._restore_partitions)
                self._restore_partitions = None
        if q.isActive:
            q.stop()
            raise TimeoutError(
                f"streaming ingest did not drain the WAL backlog within "
                f"{timeout_s}s; table state is partial (resume with the "
                f"same checkpoint to continue)")

    # ------------------------------------------------------------- catalog
    def _pipeline_table_paths(self) -> set:
        """Real paths of every LakeTable this pipeline commits to: the
        ingest table plus each view's ``lake_tables()`` (IncrementalAggView,
        DedupIndexRefresher, ContaminationMonitor all expose it; unknown
        view shapes without it simply aren't published)."""
        paths = {os.path.realpath(self.table_path)}
        for v in self.views:
            for t in (v.lake_tables() if hasattr(v, "lake_tables") else []):
                paths.add(os.path.realpath(t.path))
        return paths

    def _publish_catalog(self, batch_id: int) -> dict | None:
        """Flip this pipeline's catalog pins to the tables' CURRENT in one
        catalog transaction. Pin targets are each table's CURRENT version
        — this loop is the single writer for its tables, so CURRENT is
        exactly what this batch (plus any auto-compaction / migration
        step) committed. The catalog CAS itself may race OTHER pipelines
        sharing the catalog; those writers touch disjoint entries, so the
        flip is re-read and retried (``Catalog.commit`` re-reads CURRENT
        on every call; pins never move backward)."""
        from arlas_proc_spark.lake.table import (ConcurrentCommitError,
                                                 LakeTable)
        txn_id = f"ingest-{self.engine.ledger_scope[:8]}-b{batch_id}"
        mine = self._pipeline_table_paths()
        last_err = None
        for _ in range(8):
            registry = self.catalog.tables()
            versions = {
                name: int(LakeTable(self.spark,
                                    ent["path"]).snapshot()["version"])
                for name, ent in registry.items()
                if os.path.realpath(ent["path"]) in mine}
            if not versions:
                return None  # nothing registered for this pipeline
            try:
                return self.catalog.commit(txn_id, versions=versions)
            except ConcurrentCommitError as e:
                last_err = e  # a concurrent flip moved CURRENT; re-read
        raise last_err

    def state(self) -> DataFrame:
        return self.engine.state()
