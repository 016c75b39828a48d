"""Incremental materialized-view maintenance over the snapshot change feed.

The reference recomputes its summary tables from scratch on every run
(e.g. ``fragments/FragmentSummaryTransformer.scala`` re-aggregates the
whole fragment set per pipeline execution). At CDC scale the downstream
half of the engine cannot afford O(table) recomputes per micro-batch:
this module keeps grouped ADDITIVE aggregates (count / sum — and
anything derivable from them, e.g. avg = sum/count) in sync with the
source ``LakeTable`` in **O(changed rows)** using the retraction
pattern from Delta CDF / Flink changelog streams:

    insert, update_postimage  ->  +1 contribution
    delete, update_preimage   ->  -1 contribution

One ``refresh()`` = one pass over ``source.read_changes(cursor, v,
include_update_preimages=True)`` (itself pruned to the buckets whose
manifests changed), a tiny per-group delta aggregation, a key-partitioned
join against ONLY the touched view buckets for the old values, and a
bucket-pruned LWW merge of the new group rows (groups whose count drops
to zero are deleted). Refreshes are exactly-once because the cursor (the
highest source version folded in) is committed ATOMICALLY with the merge
itself, as a snapshot property of the view table
(``merge_batch(set_properties={"ivm.cursor": v})``) — no crash window can
separate "delta applied" from "cursor advanced", so a replayed or
re-derived window is never re-folded even if OTHER source commits landed
in between (the hole a side cursor file + batch-id-only dedup left open:
batch id ``src-{v'}`` ≠ ``src-{v}`` would not be ledger-skipped).

Null measures: ``SUM`` over an all-null group is defined as 0.0 here
(a running additive state has no way to distinguish "no non-null values
yet" from "contributions cancelled out"); document-side oracles must
``coalesce(sum(x), 0)``.
"""

from __future__ import annotations

import json
import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from arlas_proc_spark.lake.table import LakeTable, bucket_expr


class IncrementalAggView:
    """A grouped count/sum rollup of ``source``, maintained incrementally.

    ``measures``: {output_column: SQL expression over source rows}; each
    is summed per group (cast to double). ``count_col`` always carries
    the live row count per group.
    """

    def __init__(self, spark: SparkSession, path: str, source: LakeTable,
                 group_cols: list[str], measures: dict[str, str], *,
                 count_col: str = "n_rows", n_buckets: int = 16,
                 derived: dict[str, str] | None = None):
        """``derived``: {output_column: SQL expression over the stored
        columns} projected at READ time (``df()``/``recompute_df()``) —
        how non-additive aggregates that decompose into additive state
        are expressed (avg = sum/count, rates, ratios). Derived columns
        are never stored, so they can be added or changed without
        touching view state."""
        self.spark = spark
        self.path = path
        self.source = source
        self.group_cols = list(group_cols)
        self.measures = dict(measures)
        self.count_col = count_col
        self.derived = dict(derived or {})
        self.cursor_path = os.path.join(path, "cursor.json")
        state_path = os.path.join(path, "state")
        if LakeTable.exists(spark, state_path):
            self.table = LakeTable(spark, state_path)
        else:
            src_fields = {f.name: f for f in source.schema.fields}
            missing = [c for c in self.group_cols if c not in src_fields]
            if missing:
                raise ValueError(f"group column(s) {missing} not in source "
                                 f"schema {sorted(src_fields)}")
            schema = StructType(
                [src_fields[c] for c in self.group_cols]
                + [StructField(count_col, LongType(), True)]
                + [StructField(m, DoubleType(), True) for m in self.measures]
                + [StructField("_src_version", LongType(), True)])
            os.makedirs(path, exist_ok=True)
            self.table = LakeTable.create(spark, state_path, schema,
                                          self.group_cols, "_src_version",
                                          n_buckets=n_buckets)

    # ----------------------------------------------------------------- state
    _CURSOR_PROP = "ivm.cursor"

    def cursor(self) -> int:
        """Last source version folded into the view (0 = nothing yet).

        Authoritative record: the ``ivm.cursor`` snapshot property of the
        view table, written atomically with each refresh's merge commit.
        The side cursor file remains as (a) the record for EMPTY windows
        (no merge happens, so no snapshot to stamp — and an empty window
        re-fold is harmless by definition) and (b) a legacy fallback for
        views written before the property existed. Taking the max of the
        two is always safe: each states "everything ≤ N is folded in"."""
        prop = int(self.table.snapshot().get("properties", {})
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

    def _with_derived(self, df: DataFrame) -> DataFrame:
        for name, expr in self.derived.items():
            df = df.withColumn(name, F.expr(expr))
        return df

    def df(self) -> DataFrame:
        """Current view state (group cols + count + measures + derived)."""
        return self._with_derived(self.table.read().drop("_src_version"))

    def lake_tables(self) -> list[LakeTable]:
        """The LakeTables this consumer commits to — the streaming loop's
        catalog publisher flips their pins atomically with the source."""
        return [self.table]

    # --------------------------------------------------------------- refresh
    def refresh(self) -> dict:
        """Fold all source commits past the cursor into the view."""
        src_v = self.source.snapshot()["version"]
        last = self.cursor()
        if src_v <= last:
            return {"skipped": True, "source_version": last}

        # prefer the per-commit change files emitted at merge time
        # (source created with changefeed=True): an O(changed rows) file
        # read; read_changes (two-snapshot diff over changed buckets) is
        # the fallback for tables without an emitted log
        reader = getattr(self.source, "read_change_log",
                         self.source.read_changes)
        ch = reader(last, src_v, include_update_preimages=True)
        sign = F.when(F.col("change_type").isin("insert", "update_postimage"),
                      F.lit(1)).otherwise(F.lit(-1))
        delta = ch.groupBy(*self.group_cols).agg(
            F.sum(sign).cast("long").alias("_d_rows"),
            *[F.sum(sign.cast("double") * F.expr(expr).cast("double"))
              .alias(f"_d_{name}") for name, expr in self.measures.items()])

        # delta is O(touched groups) — small; persist so the touched-bucket
        # discovery does not recompute the change-feed read
        n_b = self.table.snapshot()["n_buckets"]
        delta = delta.withColumn(
            "_b", bucket_expr(self.group_cols, n_b)).persist()
        try:
            # one tiny aggregation over the persisted delta yields both
            # the touched view buckets and the group count
            bstats = (delta.groupBy("_b").count().collect())
            touched = [int(r["_b"]) for r in bstats]
            n_groups = int(sum(r["count"] for r in bstats))
            if not touched:
                self._advance_cursor(src_v)
                return {"source_version": src_v, "groups_touched": 0,
                        "view_buckets_touched": 0}

            # single-join refresh: the deltas go straight into the merge
            # as ADDITIVE columns — merge_batch's own full-outer join
            # supplies the old values (tombstone-guarded), and the
            # count-folds-to-zero deletion is its delete_condition. No
            # pre-join against the view state.
            batch = delta.select(
                *self.group_cols,
                F.col("_d_rows").alias(self.count_col),
                *[F.col(f"_d_{m}").alias(m) for m in self.measures],
                F.lit(src_v).cast("long").alias("_src_version"),
                F.lit("upsert").alias("op"))
            res = self.table.merge_batch(
                batch, f"src-{src_v}", batch_compacted=True,
                touched_buckets=touched, ledger_scope="ivm",
                additive_cols=[self.count_col, *self.measures],
                delete_condition=lambda v: v[self.count_col] <= 0,
                # the cursor advances IN the merge's own snapshot commit —
                # a crash anywhere around this call either leaves both
                # behind (retry re-folds the identical window, ledger- or
                # cursor-skipped) or lands both together
                set_properties={self._CURSOR_PROP: src_v})
        finally:
            delta.unpersist()
        return {"source_version": src_v, "groups_touched": n_groups,
                "view_buckets_touched": len(touched),
                **{k: v for k, v in res.items() if k != "batch_id"}}

    # ------------------------------------------------------------ validation
    def recompute_df(self) -> DataFrame:
        """The same rollup from a full scan of the source — O(table); the
        ground truth ``refresh()`` must converge to (test/audit path)."""
        return self._with_derived(
            self.source.read()
            .groupBy(*self.group_cols)
            .agg(F.count(F.lit(1)).alias(self.count_col),
                 *[F.coalesce(F.sum(F.expr(expr).cast("double")),
                              F.lit(0.0)).alias(name)
                   for name, expr in self.measures.items()]))
