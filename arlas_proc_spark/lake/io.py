"""TableIO — the engine-facing lake-table contract (SURVEY §7.1 Plan A).

``CdcEngine`` talks to its table ONLY through this interface, so the
bundled snapshot implementation (``LakeTable``, Plan B — no Iceberg jar
in this environment) and a real Iceberg runtime backend
(``IcebergTableIO``, Plan A) are interchangeable:

    engine = CdcEngine(spark, path)                       # Plan B default
    engine = CdcEngine(spark, path,
                       table_io=IcebergTableIO(spark, "cat.db.t"))  # Plan A

Contract semantics every implementation must honor (the properties the
engine's correctness rests on):
- ``merge_batch`` / ``append_batch``: keyed LWW upsert+delete,
  exactly-once per (ledger_scope, batch_id) — a replayed id is a no-op
  returning ``{"skipped": True}``; the returned metrics (also what
  ``lineage`` reports) are whatever the backend observes for free — the
  bundled ``LakeTable`` always counts rows on the write action itself,
  so there is no switch to turn them off;
- schema evolution: a batch carrying new/widened columns evolves the
  live schema without rewriting existing data;
- ``commit_empty_batch``: ledger a data-free batch id (keeps the
  exactly-once watermark contiguous across empty micro-batches);
- ``read``: current committed state as a lazy DataFrame;
- ``lineage``: per-batch ingest metrics, newest last.
"""

from __future__ import annotations

import abc

from pyspark.sql import DataFrame


class TableIO(abc.ABC):
    """Abstract lake table: exactly-once keyed MERGE target."""

    @abc.abstractmethod
    def merge_batch(self, batch: DataFrame, batch_id: int | str, *,
                    op_col: str = "op", delete_value: str = "delete",
                    assume_all_buckets: bool = False,
                    batch_compacted: bool = False,
                    touched_buckets: list[int] | None = None,
                    ledger_scope: str = "default",
                    extra_metrics: dict | None = None) -> dict:
        """Copy-on-write keyed MERGE of one change batch. Returns the
        batch's metrics (batch id plus row counts where the backend has
        them)."""

    @abc.abstractmethod
    def append_batch(self, batch: DataFrame, batch_id: int | str, *,
                     op_col: str = "op", delete_value: str = "delete",
                     batch_compacted: bool = False,
                     ledger_scope: str = "default",
                     extra_metrics: dict | None = None) -> dict:
        """Merge-on-read append of one change batch's winners. Returns
        the batch's metrics, like ``merge_batch``."""

    @abc.abstractmethod
    def commit_empty_batch(self, batch_id: int | str,
                           scope: str = "default",
                           extra_metrics: dict | None = None) -> dict:
        """Ledger a data-free batch id."""

    @abc.abstractmethod
    def read(self, buckets: list[int] | None = None, *args,
             **kwargs) -> DataFrame:
        """Current committed state (optionally bucket-restricted)."""

    @abc.abstractmethod
    def compact(self, **kwargs) -> dict:
        """Fold merge-on-read generations / small files."""

    @abc.abstractmethod
    def lineage(self) -> list[dict]:
        """Per-batch ingest metrics recorded at commit, newest last."""

    @abc.abstractmethod
    def snapshot(self) -> dict:
        """Current table metadata (version, schema, ledger state)."""
