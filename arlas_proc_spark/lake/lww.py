"""Last-writer-wins: the one home of the winner rule.

A change feed converges by keeping, per key, the latest event by
(seq, commit). Every LWW in the package calls one of two kernels:

- :func:`latest_per_key` — a ``row_number()`` window over explicit rank
  columns. Spark plans its ``rn == 1`` filter as a partial
  ``WindowGroupLimit`` below the exchange, so each task ships at most one
  row per key. It carries the whole row through one shuffle and needs no
  join. The table's writers, the mor read, the dedup and ANN indexes use
  it.
- :func:`latest_by_max` — ``max(order_col)`` per key (:func:`max_per_key`,
  a narrow codegen hash aggregate), then a left-semi join back to the rows
  at that maximum. The winners frame is about key + 8 bytes per key, so a
  caller can share it (CdcEngine persists it for bucket discovery) and
  broadcast it. It scans its input twice. The engine, the change-log
  replicator, the net-only consumer and the Debezium compaction use it.

The window beat the wide ``max(struct(seq, commit, payload…))`` it
replaced on the replay WAL and the mor read and tied it on a small batch;
the narrow form wins large batches. So these two stay (README, "No
per-row Python").
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_RN = "_lww_rn"


def latest_per_key(df: DataFrame, key_cols: list[str],
                   rank_cols: list[str],
                   folds: dict[str, Column] | None = None) -> DataFrame:
    """One row per key: the first by ``rank_cols``, each descending with
    nulls last (a null rank loses to any value). Rows tied on every rank
    column are interchangeable to the caller; one of them is kept.

    ``folds`` ({name: aggregate Column}) are evaluated over all of a
    key's rows, not only the winner, and come out as extra columns."""
    w = Window.partitionBy(*key_cols).orderBy(
        *[F.col(c).desc_nulls_last() for c in rank_cols])
    out = df.withColumn(_RN, F.row_number().over(w))
    if folds:
        whole = Window.partitionBy(*key_cols)
        out = out.select("*", *[agg.over(whole).alias(name)
                                for name, agg in folds.items()])
    return out.where(F.col(_RN) == 1).drop(_RN)


def latest_by_seq(df: DataFrame, key_cols: list[str], seq_col: str,
                  folds: dict[str, Column] | None = None) -> DataFrame:
    """:func:`latest_per_key` in the table's rank order: ``seq``,
    ``commit`` (when present), then every other non-key column in frame
    order. Exact (seq, commit) ties with different payloads — a
    WAL-contract violation — still pick the same row on every input and
    every retry."""
    first = [seq_col] + (["commit"] if "commit" in df.columns else [])
    ranks = first + [c for c in df.columns
                     if c not in first and c not in key_cols]
    return latest_per_key(df, key_cols, ranks, folds)


def max_per_key(df: DataFrame, key_cols: list[str],
                order_col: str) -> DataFrame:
    """The narrow winners frame ``[*key_cols, order_col]``: each key's
    largest ``order_col``."""
    return df.groupBy(*key_cols).agg(F.max(order_col).alias(order_col))


def latest_by_max(df: DataFrame, key_cols: list[str], order_col: str,
                  winners: DataFrame | None = None) -> DataFrame:
    """The rows of ``df`` that carry their key's largest ``order_col``.
    Every row at the maximum survives, so the caller needs ``order_col``
    unique per key or the tied rows identical. A null key never joins.

    ``winners``: a precomputed :func:`max_per_key` frame, plain or
    wrapped in ``F.broadcast``; unhinted, the planner and AQE pick the
    join."""
    if winners is None:
        winners = max_per_key(df, key_cols, order_col)
    return df.join(winners, [*key_cols, order_col], "left_semi")
