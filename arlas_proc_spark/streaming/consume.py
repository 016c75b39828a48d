"""Generic change-feed consumption: the lake table as a streaming CDC
PRODUCER for arbitrary downstream logic.

``ChangeLogReplicator`` (replicate.py) and ``IncrementalAggView``
(lake/ivm.py) each tail the change feed with a hard-wired destination
(another lake table / an aggregate rollup). :class:`ChangeFeedConsumer`
factors the tailing itself into a public surface: a checkpointed
Structured Streaming file source over the table's emitted change files
that hands each micro-batch's transitions — optionally compacted to the
NET transition per key — to a caller-supplied apply function.
:class:`DebeziumStreamRelay` is the first consumer: it renders every
transition as a standard Debezium envelope and writes ordered JSONL
segments, so a lake table can feed ANY external CDC consumer (including
another ``StreamingIngest(wal_format='debezium')``) without that
consumer knowing this engine's change-file format.

Exactly-once composes per consumer: stream offsets live in the
checkpoint, and the delivered frame carries ``_change_version`` (the
producing commit) so the apply function can ledger its own idempotence
the way the replicator does (``merge_batch(ledger_scope=...)``). The
relay's segments are deterministic per micro-batch
(``txn_<batch_id>/``, overwritten on replay), and the envelopes carry
``source.txid`` — a downstream compact-by-txid merge dedups redelivery
end-to-end even across a relay checkpoint loss.

Feed-gap safety is the replicator's rule, re-checked per micro-batch: a
log-less source commit (append-mode / overwrite) emits no change files,
so a raw-file tailer would silently skip it — the consumer REFUSES at
the gap instead (``since_version`` at/after the gap waives it, for
consumers seeded from a full read). Like the replicator, the file
source's schema is pinned at construction; pass a widened
``change_schema`` after upstream column adds.

At scale: the source is O(changed rows) per trigger (change files are
append-only, never rewritten — no table scans, no snapshot diffs); the
net compaction is the narrow LWW kernel (``lake/lww.py``: map-side
long-max + semi join-back, AQE broadcasts the winner side when small);
the relay is map-only after that. Nothing here reads table data.

Reference analog: the reference pushes FINAL STATE out through
writeToElasticsearch / dynamic-index sinks
(``/root/reference/src/main/scala/io/arlas/data/sql/WritableDataFrame.scala:83-107``);
here the outbound boundary is the change feed itself, so external
consumers get ordered deltas, not snapshots.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from arlas_proc_spark.lake.lww import latest_by_max
from arlas_proc_spark.lake.table import LakeTable
from arlas_proc_spark.streaming.replicate import ChangeLogReplicator


class ChangeFeedConsumer:
    def __init__(self, spark: SparkSession, source: LakeTable, apply_fn, *,
                 net_only: bool = True,
                 change_schema: StructType | None = None,
                 since_version: int = -1):
        """``apply_fn(batch_df, batch_id)`` receives each micro-batch's
        transitions: table columns + ``change_type`` (insert /
        update_postimage / delete — pre-images are always dropped) +
        ``_change_version``.

        ``net_only=True`` compacts the batch to each key's newest
        transition by ``_change_version`` first (one commit emits at most
        one non-pre-image transition per key, so (key, version) is unique
        and the semi join keeps exactly one row) — what a state-applying
        consumer wants. ``net_only=False`` delivers every transition —
        what a log-forwarding consumer (the relay) wants.

        ``since_version``: skip transitions at or before this source
        version — for consumers whose destination was seeded from a full
        source read at that version; also waives feed-gap refusal for
        gaps at or before it (the seed already contains their effect)."""
        src = source.snapshot()
        if not src.get("changefeed"):
            raise ValueError(
                "source table was not created with changefeed=True; "
                "ChangeFeedConsumer tails the emitted change files")
        self.spark = spark
        self.source = source
        self.apply_fn = apply_fn
        self.net_only = net_only
        self.since_version = int(since_version)
        self.key_cols = list(src["key_cols"])
        table_schema = StructType.fromJson(src["schema"])
        self.change_schema = change_schema or StructType(
            list(table_schema.fields)
            + [StructField("change_type", StringType(), True),
               StructField("_change_version", LongType(), True)])
        ChangeLogReplicator._check_feed_gap(src, self.since_version)

    def start(self, checkpoint_dir: str, *, max_files_per_trigger: int = 8,
              available_now: bool = True):
        raw = (self.spark.readStream.schema(self.change_schema)
               .option("maxFilesPerTrigger", str(max_files_per_trigger))
               .parquet(self.source.changes_dir))

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            # one manifest read per micro-batch: fail AT a mid-stream
            # log-less commit instead of past it (replicator's rule)
            ChangeLogReplicator._check_feed_gap(self.source.snapshot(),
                                                self.since_version)
            batch_df = batch_df.where(
                F.col("change_type") != "update_preimage")
            if self.since_version >= 0:
                batch_df = batch_df.where(
                    F.col("_change_version") > F.lit(self.since_version))
            if self.net_only:
                batch_df = latest_by_max(batch_df, self.key_cols,
                                         "_change_version")
            self.apply_fn(batch_df, batch_id)

        writer = (raw.writeStream.foreachBatch(_apply)
                  .option("checkpointLocation", checkpoint_dir)
                  .outputMode("append"))
        if available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()

    def run_to_completion(self, checkpoint_dir: str, *,
                          max_files_per_trigger: int = 8,
                          timeout_s: int = 600) -> None:
        q = self.start(checkpoint_dir,
                       max_files_per_trigger=max_files_per_trigger,
                       available_now=True)
        q.awaitTermination(timeout_s)
        if q.isActive:
            q.stop()
            raise TimeoutError(
                f"change-feed consumption did not drain within "
                f"{timeout_s}s; resume with the same checkpoint to "
                f"continue")


class DebeziumStreamRelay:
    """Stream a lake table's change feed OUT as ordered JSONL segments of
    Debezium envelopes — the streaming form of
    ``sources/debezium.py emit_debezium`` (which renders one version
    range per call). Each drained micro-batch becomes one segment
    directory ``txn_<batch_id>/`` under ``out_dir``; the name is
    deterministic and the write is mode=overwrite, so a replayed
    micro-batch rewrites the same segment byte-for-byte instead of
    duplicating it. Every transition is forwarded (``net_only=False``) —
    a relay is a log forwarder, not a state applier; consumers compact
    by the envelopes' ``source.<txid_field>``
    (:func:`sources.debezium.compact_debezium_batch`).

    ``coalesce_segments``: files per segment (default 1 — WAL tailers
    pay per-file listing overhead, and a micro-batch's envelopes are
    O(changed rows)); ``None`` keeps the merge parallelism for
    backlog-drain batches too large for one file."""

    def __init__(self, spark: SparkSession, source: LakeTable,
                 out_dir: str, *, seq_field: str = "lsn",
                 txid_field: str = "txid", ts_col: str = "ts_s",
                 coalesce_segments: int | None = 1,
                 change_schema: StructType | None = None,
                 since_version: int = -1):
        snap = source.snapshot()
        self.out_dir = out_dir
        self.seq_col = snap["seq_col"]
        self.table_cols = [f.name for f in
                           StructType.fromJson(snap["schema"]).fields]
        self.seq_field = seq_field
        self.txid_field = txid_field
        self.ts_col = ts_col
        self.coalesce_segments = coalesce_segments
        self.consumer = ChangeFeedConsumer(
            spark, source, self._emit, net_only=False,
            change_schema=change_schema, since_version=since_version)

    def _emit(self, batch_df: DataFrame, batch_id: int) -> None:
        from arlas_proc_spark.sources.debezium import debezium_envelopes
        env = debezium_envelopes(
            batch_df, table_cols=self.table_cols, seq_col=self.seq_col,
            seq_field=self.seq_field, txid_field=self.txid_field,
            ts_col=self.ts_col)
        if self.coalesce_segments is not None:
            env = env.coalesce(self.coalesce_segments)
        env.write.mode("overwrite").text(
            os.path.join(self.out_dir, f"txn_{int(batch_id):010d}"))

    def start(self, checkpoint_dir: str, **kw):
        return self.consumer.start(checkpoint_dir, **kw)

    def run_to_completion(self, checkpoint_dir: str, **kw) -> None:
        self.consumer.run_to_completion(checkpoint_dir, **kw)
