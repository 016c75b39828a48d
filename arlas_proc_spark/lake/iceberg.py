"""IcebergTableIO — Plan A backend: a REAL Iceberg runtime behind TableIO.

This environment has no Iceberg jar (SURVEY §7.1), so this backend can
only be exercised where ``org.apache.iceberg:iceberg-spark-runtime`` is
on the classpath and ``IcebergSparkSessionExtensions`` is configured.
Construction fails fast with setup instructions otherwise; the SQL this
module GENERATES is pure-function and unit-tested offline (the same
split the reference uses between query construction and execution).

Semantics mapping (mirrors lake/table.py, which mirrors Iceberg):
- MERGE          → ``MERGE INTO`` with the engine's LWW condition
                   (seq desc, commit desc; ties go to the batch);
- exactly-once   → the batch ledger watermark rides each commit as a
                   snapshot summary property
                   (``spark.wap``-style commit metadata), checked before
                   re-applying;
- evolution      → ``ALTER TABLE ... ADD COLUMN`` driven by the same
                   evolve_schema used by the bundled backend, plus
                   Iceberg's own ``mergeSchema`` write option;
- bucketing      → ``PARTITIONED BY (bucket(N, key...))`` at create.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from arlas_proc_spark.lake.io import TableIO

_EXT = "org.apache.iceberg.spark.extensions.IcebergSparkSessionExtensions"


def iceberg_available(spark: SparkSession) -> bool:
    try:
        ext = spark.conf.get("spark.sql.extensions", "") or ""
    except Exception:
        ext = ""
    if _EXT not in ext:
        return False
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.extensions."
            "IcebergSparkSessionExtensions")
        return True
    except Exception:
        return False


def create_table_sql(identifier: str, schema_ddl: str, key_cols: list[str],
                     n_buckets: int) -> str:
    """CREATE TABLE with Iceberg bucket partitioning on the full key —
    the same skew defense as LakeTable's bucket transform."""
    bucket = f"bucket({n_buckets}, {', '.join(key_cols)})"
    return (f"CREATE TABLE IF NOT EXISTS {identifier} ({schema_ddl}) "
            f"USING iceberg PARTITIONED BY ({bucket}) "
            f"TBLPROPERTIES ('format-version'='2', "
            f"'write.merge.mode'='merge-on-read')")


def merge_sql(identifier: str, source_view: str, key_cols: list[str],
              seq_col: str, op_col: str = "op",
              delete_value: str = "delete",
              has_commit: bool = True) -> str:
    """MERGE INTO with the engine's deterministic LWW winner rule
    (lake/table.py merge_batch docstring): newer (seq, commit) wins,
    ties go to the batch; delete winners delete."""
    on = " AND ".join(f"t.{k} = s.{k}" for k in key_cols)
    newer = f"s.{seq_col} > t.{seq_col}"
    if has_commit:
        newer = (f"({newer} OR (s.{seq_col} = t.{seq_col} "
                 f"AND s.commit >= t.commit))")
    return (
        f"MERGE INTO {identifier} t USING {source_view} s ON {on} "
        f"WHEN MATCHED AND {newer} AND s.{op_col} = '{delete_value}' "
        f"THEN DELETE "
        f"WHEN MATCHED AND {newer} AND s.{op_col} <> '{delete_value}' "
        f"THEN UPDATE SET * "
        f"WHEN NOT MATCHED AND s.{op_col} <> '{delete_value}' "
        f"THEN INSERT *")


def create_branch_ddl(identifier: str, name: str) -> str:
    """Iceberg branch ref DDL (the bundled backend's analog —
    LakeTable.create_branch, lake/table.py branches section)."""
    return f"ALTER TABLE {identifier} CREATE BRANCH `{name}`"


def drop_branch_ddl(identifier: str, name: str) -> str:
    return f"ALTER TABLE {identifier} DROP BRANCH `{name}`"


def fast_forward_call(catalog: str, identifier: str, name: str) -> str:
    """Iceberg's fast_forward procedure: advance main to the branch head
    (the WAP publish — the bundled backend's LakeTable.fast_forward)."""
    return (f"CALL {catalog}.system.fast_forward("
            f"table => '{identifier}', branch => 'main', to => '{name}')")


def ledger_property(scope: str) -> str:
    return f"cdc.ledger.watermark.{scope}"


class IcebergTableIO(TableIO):
    """TableIO over a catalog-managed Iceberg table (requires the
    Iceberg Spark runtime — unavailable in this sandbox)."""

    def __init__(self, spark: SparkSession, identifier: str,
                 key_cols: list[str] | None = None,
                 seq_col: str = "seq", n_buckets: int = 16):
        if not iceberg_available(spark):
            raise RuntimeError(
                "Iceberg runtime not available in this Spark session. "
                "Launch with --packages org.apache.iceberg:iceberg-spark-"
                "runtime-3.5_2.12:<version> --conf spark.sql.extensions="
                f"{_EXT} and a configured catalog, or use the bundled "
                "LakeTable backend (the default).")
        self.spark = spark
        self.identifier = identifier
        self.key_cols = key_cols or ["repo", "path"]
        self.seq_col = seq_col
        self.n_buckets = n_buckets

    # --- ledger: batch-id watermark in table properties -----------------
    def _committed(self, batch_id: int | str, scope: str) -> bool:
        props = {r["key"]: r["value"] for r in self.spark.sql(
            f"SHOW TBLPROPERTIES {self.identifier}").collect()}
        wm = props.get(ledger_property(scope))
        return wm is not None and str(batch_id).isdigit() \
            and int(batch_id) <= int(wm)

    def _advance(self, batch_id: int | str, scope: str) -> None:
        if str(batch_id).isdigit():
            self.spark.sql(
                f"ALTER TABLE {self.identifier} SET TBLPROPERTIES "
                f"('{ledger_property(scope)}'='{batch_id}')")

    # --- TableIO ---------------------------------------------------------
    def merge_batch(self, batch: DataFrame, batch_id: int | str, *,
                    op_col: str = "op", delete_value: str = "delete",
                    assume_all_buckets: bool = False,
                    batch_compacted: bool = False,
                    touched_buckets: list[int] | None = None,
                    ledger_scope: str = "default",
                    branch: str | None = None,
                    extra_metrics: dict | None = None) -> dict:
        """``branch``: route the MERGE's writes onto an Iceberg branch
        via the ``spark.wap.branch`` session conf (Iceberg's own WAP
        mechanism) — main stays frozen until ``fast_forward``. Caveat vs
        the bundled backend: Iceberg table properties (this ledger) are
        TABLE-global, not branch-scoped, so a branch merge advances the
        shared watermark — after ``drop_branch`` a re-merge of the same
        batch ids onto main would be skipped; re-merge under fresh ids
        (the bundled LakeTable carries the ledger inside each branch
        snapshot and has no such caveat)."""
        if self._committed(batch_id, ledger_scope):
            return {"batch_id": str(batch_id), "skipped": True}
        view = f"_cdc_batch_{abs(hash(str(batch_id))) % 10**9}"
        batch.createOrReplaceTempView(view)
        prior = None
        if branch is not None:
            # save-and-restore, never unset: a user may run Iceberg's
            # documented session-wide WAP routing (spark.wap.branch set
            # for the whole session) — blowing it away here would
            # silently redirect their later writes to main
            prior = self.spark.conf.get("spark.wap.branch", None)
            self.spark.conf.set("spark.wap.branch", branch)
        try:
            self.spark.sql(merge_sql(
                self.identifier, view, self.key_cols, self.seq_col,
                op_col=op_col, delete_value=delete_value,
                has_commit="commit" in batch.columns))
        finally:
            if branch is not None:
                if prior is None:
                    self.spark.conf.unset("spark.wap.branch")
                else:
                    self.spark.conf.set("spark.wap.branch", prior)
        self._advance(batch_id, ledger_scope)
        return {"batch_id": str(batch_id),
                **({"branch": branch} if branch else {}),
                **(extra_metrics or {})}

    def append_batch(self, batch: DataFrame, batch_id: int | str, *,
                     op_col: str = "op", delete_value: str = "delete",
                     batch_compacted: bool = False,
                     ledger_scope: str = "default",
                     extra_metrics: dict | None = None) -> dict:
        # Iceberg v2 merge-on-read: the MERGE writes equality/position
        # deletes instead of rewriting files (write.merge.mode above), so
        # append-mode maps onto the same MERGE
        return self.merge_batch(
            batch, batch_id, op_col=op_col, delete_value=delete_value,
            ledger_scope=ledger_scope,
            extra_metrics=extra_metrics)

    def commit_empty_batch(self, batch_id: int | str,
                           scope: str = "default",
                           extra_metrics: dict | None = None,
                           branch: str | None = None) -> dict:
        # the property ledger is table-global (see merge_batch's branch
        # caveat), so an empty drain on a branch ingest just advances it
        # — accepted here so CdcEngine(branch=...) over this backend
        # survives the empty micro-batch every availableNow drain ends
        # with, instead of dying on an unexpected kwarg
        if self._committed(batch_id, scope):
            return {"batch_id": str(batch_id), "skipped": True}
        self._advance(batch_id, scope)
        return {"batch_id": str(batch_id), "empty": True,
                **({"branch": branch} if branch else {}),
                **(extra_metrics or {})}

    def read(self, buckets: list[int] | None = None, *args,
             **kwargs) -> DataFrame:
        return self.spark.table(self.identifier)

    def compact(self, **kwargs) -> dict:
        self.spark.sql(
            f"CALL system.rewrite_data_files(table => '{self.identifier}')")
        return {"compacted_buckets": -1}

    def delete_where(self, condition, batch_id: int | str,
                     **kwargs) -> dict:
        """Predicate delete via Iceberg's own DELETE FROM, idempotent per
        batch id through the same property ledger as merges (the bundled
        backend's tombstone-merge analog — LakeTable.delete_where).
        Iceberg has no LWW seq rank, so re-delivered victim events are
        the caller's concern here; the bundled backend out-ranks them."""
        scope = kwargs.get("ledger_scope", "default")
        if self._committed(batch_id, scope):
            return {"batch_id": str(batch_id), "skipped": True}
        cond = condition if isinstance(condition, str) else None
        if cond is None:
            raise ValueError("IcebergTableIO.delete_where takes a SQL "
                             "string condition")
        self.spark.sql(f"DELETE FROM {self.identifier} WHERE {cond}")
        self._advance(batch_id, scope)
        return {"batch_id": str(batch_id), "deleted_where": cond}

    def rename_column(self, old: str, new: str) -> dict:
        """Metadata-only rename via Iceberg's own field-id indirection
        (the bundled backend's rename-log analog — LakeTable.rename_column,
        lake/table.py)."""
        self.spark.sql(
            f"ALTER TABLE {self.identifier} RENAME COLUMN {old} TO {new}")
        return {"renamed": {"from": old, "to": new}}

    def add_column(self, name: str, dtype) -> dict:
        """Explicit metadata-only add via Iceberg's own ADD COLUMN (the
        bundled backend's analog — LakeTable.add_column)."""
        ddl = dtype if isinstance(dtype, str) else dtype.simpleString()
        self.spark.sql(
            f"ALTER TABLE {self.identifier} ADD COLUMN {name} {ddl}")
        return {"added": {"name": name, "type": ddl}}

    def drop_column(self, name: str) -> dict:
        """Metadata-only drop via Iceberg's own field-id retirement (the
        bundled backend's drop-log analog — LakeTable.drop_column,
        lake/table.py): old files keep the bytes, readers mask them, and
        a re-used name is a brand-new field id."""
        self.spark.sql(
            f"ALTER TABLE {self.identifier} DROP COLUMN {name}")
        return {"dropped": name}

    # --- branches (Iceberg branch refs; bundled analog: LakeTable
    # create_branch / read_branch / fast_forward / drop_branch) ---------
    def create_branch(self, name: str,
                      version: int | None = None) -> dict:
        ddl = create_branch_ddl(self.identifier, name)
        if version is not None:
            ddl += f" AS OF VERSION {int(version)}"
        self.spark.sql(ddl)
        return {"branch": name, "parent": version}

    def read_branch(self, name: str) -> DataFrame:
        # Iceberg serves branch heads through VERSION AS OF by ref name
        return self.spark.sql(
            f"SELECT * FROM {self.identifier} VERSION AS OF '{name}'")

    def fast_forward(self, name: str) -> dict:
        catalog = self.identifier.split(".", 1)[0] \
            if "." in self.identifier else "spark_catalog"
        self.spark.sql(fast_forward_call(catalog, self.identifier, name))
        self.spark.sql(drop_branch_ddl(self.identifier, name))
        return {"branch": name, "published": True}

    def drop_branch(self, name: str) -> None:
        self.spark.sql(drop_branch_ddl(self.identifier, name))

    def lineage(self) -> list[dict]:
        rows = self.spark.sql(
            f"SELECT snapshot_id, committed_at, operation, summary "
            f"FROM {self.identifier}.snapshots ORDER BY committed_at") \
            .collect()
        return [r.asDict() for r in rows]

    def snapshot(self) -> dict:
        props = {r["key"]: r["value"] for r in self.spark.sql(
            f"SHOW TBLPROPERTIES {self.identifier}").collect()}
        return {"identifier": self.identifier, "properties": props}
