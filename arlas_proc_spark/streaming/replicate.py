"""Lake-to-lake replication by tailing the change-data-feed.

A ``changefeed=True`` table's ``changes/`` directory is itself an ordered
WAL: one file set per commit, append-only, never rewritten. So the
DOWNSTREAM hop of a CDC chain is the same machinery as the upstream one —
a Structured Streaming file source tails the change files and a
``foreachBatch`` merges them into a replica ``LakeTable``:

    source lake  --merge_batch-->  changes/  --readStream-->  replica lake

Exactly-once composes the same three layers as ingest (checkpointed
offsets → replica ledger scoped by checkpoint → keyed LWW merge), so
redelivered change files converge. Ordering needs no coordination:
every change row carries the SOURCE row's seq (the delete row carries
the deleted winner's pre-image seq), and the replica's LWW rule makes
late/duplicated rows lose exactly when they should — an update at seq 9
arriving before a stale delete pre-image at seq 5 leaves the update in
place.

Reference analog: the reference pushes final state to an external store
(``sql/WritableDataFrame.scala:83-107``, Elasticsearch doc-id upsert);
here the downstream store is another lake table and the feed is the
table's own CDF, so a chain of tables stays in sync incrementally.
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from arlas_proc_spark.lake.lww import latest_by_max
from arlas_proc_spark.lake.table import LakeTable


def _compact_changes(batch_df: DataFrame, key_cols: list[str]) -> DataFrame:
    """One micro-batch may span several source commits touching the same
    key; keep each key's NEWEST transition by commit version — a delete
    row reuses its pre-image's (seq, commit), so the table's own LWW
    columns cannot order transitions within a batch (across batches the
    merge's tie-goes-to-batch rule handles it).

    Shape: the narrow LWW kernel (``lake/lww.py`` latest_by_max) —
    numeric max + left-semi join-back; the long-max compacts map-side in
    codegen and the winner frame is ~key+8B/row. The join is NOT
    hint-forced to broadcast: a catch-up
    drain over a long backlog can carry tens of millions of distinct
    keys, and a forced broadcast of that would hit Spark's broadcast
    hard limit where a shuffle join completes fine — AQE converts the
    semi join to broadcast at runtime whenever the winner side is
    actually small (the common per-commit case). (keys, _change_version)
    is unique after the pre-image filter — one commit emits at most one
    non-preimage transition per key — so the semi join keeps exactly one
    row per key.

    Post-images upsert; delete pre-images delete; update pre-images are
    retraction bookkeeping, not state."""
    batch = (batch_df
             .where(F.col("change_type") != "update_preimage")
             .withColumn("op", F.when(
                 F.col("change_type") == "delete",
                 F.lit("delete")).otherwise(F.lit("upsert")))
             .drop("change_type"))
    cols = [c for c in batch.columns if c != "_change_version"]
    return latest_by_max(batch, key_cols, "_change_version").select(*cols)


class ChangeLogReplicator:
    SEED_PROP = "replica_seed_version"

    def __init__(self, spark: SparkSession, source: LakeTable,
                 target_path: str, *, n_buckets: int | None = None,
                 change_schema: StructType | None = None,
                 seeded_at_version: int | None = None):
        """``n_buckets`` defaults to the source's (buckets need not match
        — the replica re-buckets by its own transform). ``change_schema``
        pins the file-source schema; pass a WIDENED one after upstream
        schema evolution, like StreamingIngest's ``event_schema`` (a file
        source cannot discover new columns mid-stream).

        ``seeded_at_version``: asserts the replica already holds the full
        source state as of that source version (e.g. loaded out-of-band),
        so change rows at or before it are skipped and log-less source
        commits (``log_gap_version``) at or before it are harmless. The
        durable marker ``seed()`` stamps into the replica's own snapshot
        properties serves the same role across restarts — pass this only
        for replicas seeded outside ``seed()``."""
        self.spark = spark
        self.source = source
        src = source.snapshot()
        if not src.get("changefeed"):
            raise ValueError(
                "source table was not created with changefeed=True; "
                "replication tails the emitted change files")
        table_schema = StructType.fromJson(src["schema"])
        self.key_cols = list(src["key_cols"])
        self.change_schema = change_schema or StructType(
            list(table_schema.fields)
            + [StructField("change_type", StringType(), True),
               StructField("_change_version", LongType(), True)])
        if LakeTable.exists(spark, target_path):
            self.target = LakeTable(spark, target_path)
        else:
            self.target = LakeTable.create(
                spark, target_path, table_schema, src["key_cols"],
                src["seq_col"], n_buckets=n_buckets or src["n_buckets"])
        recorded = (self.target.snapshot().get("properties") or {}) \
            .get(self.SEED_PROP)
        self._seed_version = max(
            int(seeded_at_version or -1),
            int(recorded if recorded is not None else -1))
        self._check_feed_gap(src, self._seed_version)

    def seed(self, batch_id: str = "seed") -> int:
        """Load the replica from a FULL source read and durably record
        the source version it captures (in the replica's own snapshot
        properties, atomically with the data). This is the recovery path
        for a feed gap: log-less source commits (append/overwrite) emit
        no change files, so a raw-file tailer can only resume from a
        point-in-time copy taken AT or AFTER the gap. Change rows at or
        before the seed version are skipped on replay (they are already
        folded into the seed — replaying pre-seed rows could resurrect
        keys an overwrite dropped). Returns the seed version. Start (or
        restart) the stream AFTER seeding; an existing checkpoint may be
        kept (already-processed files stay processed; their rows would
        be skipped anyway)."""
        src = self.source.snapshot()
        version = int(src["version"])
        self.target.overwrite(
            self.source.read(snapshot=src), batch_id,
            set_properties={self.SEED_PROP: version})
        self._seed_version = max(self._seed_version, version)
        return version

    @staticmethod
    def _check_feed_gap(src: dict, seed_version: int = -1) -> None:
        """A changefeed table may carry LOG-LESS commits (append-mode /
        overwrite steps — allowed, and served correctly by
        ``read_change_log``'s snapshot-diff fallback), but a raw-file
        tailer like this replicator would silently SKIP them. Such
        commits stamp a durable ``log_gap_version`` marker (and mor
        generations are visible in ``mor_buckets`` until compacted) —
        refuse rather than diverge, UNLESS the replica was seeded from a
        full source read at/after the gap (``seed()``), which already
        contains the gap commit's effect."""
        gap = src.get("log_gap_version")
        if gap is not None and int(gap) > seed_version:
            raise ValueError(
                f"source change feed has a log-less commit at version "
                f"{gap} (append-mode or overwrite step emits no change "
                f"files): tailing the raw feed would silently skip it. "
                f"Call replicator.seed() (full source read + durable "
                f"seed marker), or use read_change_log (snapshot-diff "
                f"fallback) consumers like IncrementalAggView instead.")
        if src.get("mor_buckets") and seed_version < 0:
            # legacy belt: tables written before the gap marker existed
            # (modern mor commits stamp log_gap_version, caught above)
            raise ValueError(
                "source table has merge-on-read generations "
                f"(mor_buckets={src['mor_buckets']}): those commits carry "
                "no change files, so tailing the feed would silently "
                "diverge. Compact the source and seed() the replica from "
                "a full read, or re-ingest with write_mode='cow'.")

    def start(self, checkpoint_dir: str, *, max_files_per_trigger: int = 8,
              available_now: bool = True):
        scope = "replica-" + hashlib.sha256(
            os.path.abspath(checkpoint_dir).encode()).hexdigest()[:16]
        raw = (self.spark.readStream.schema(self.change_schema)
               .option("maxFilesPerTrigger", str(max_files_per_trigger))
               .parquet(self.source.changes_dir))

        def _apply(batch_df: DataFrame, batch_id: int) -> None:
            # a log-less source commit can land MID-stream; one manifest
            # read per micro-batch (driver-side JSON, negligible next to
            # the merge) fails the stream at the gap instead of past it
            self._check_feed_gap(self.source.snapshot(), self._seed_version)
            if self._seed_version >= 0:
                # pre-seed change rows are already folded into the seed;
                # replaying them could resurrect keys the seeding
                # overwrite dropped (their last feed transition was an
                # upsert), so a seeded replica skips them
                batch_df = batch_df.where(
                    F.col("_change_version") > F.lit(self._seed_version))
            batch = _compact_changes(batch_df, self.key_cols)
            self.target.merge_batch(batch, batch_id, ledger_scope=scope,
                                    batch_compacted=True)

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
                f"replication did not drain the change backlog within "
                f"{timeout_s}s; replica is partial (resume with the same "
                f"checkpoint to continue)")

    def state(self) -> DataFrame:
        return self.target.read()
