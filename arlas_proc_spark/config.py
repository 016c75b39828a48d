"""SparkSession factory tuned for the CDC engine.

Defaults follow the public Spark performance guidance: AQE on, Arrow on,
UTC session tz, and shuffle partitions equal to the task slots (not the
200 default). A micro-batch does little per-row work, so every task is
mostly fixed cost: at local[N] a stage of N tasks runs in one wave, one
of more than N in several.

Local masters also run Python tasks under ``worker_daemon``, which stops
each task from re-reading ``pyspark.zip``'s directory. The package root
goes on the workers' ``PYTHONPATH`` so that the daemon, and UDFs pickled
by reference, import from any driver working directory.
Other masters keep PySpark's stock daemon: their executors need not have
this package installed.

Note: ``getOrCreate`` returns any ALREADY-RUNNING session unchanged —
master, driver memory, and shuffle width from a prior ``build_session``
win (standard Spark semantics). One JVM per parallelism level; the bench
scripts spawn a fresh process per level for exactly this reason.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def build_session(
    app_name: str = "arlas_proc_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # in local[N], shuffle width = task slots: one wave per stage
    shuffle_partitions = shuffle_partitions or _master_threads(master, cpus)
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "snappy")
        # no-data micro-batches exist only to advance the watermark for
        # state eviction; the ingest's dedup emits rows immediately and the
        # merge's LWW never depends on eviction, so the extra empty batch
        # (measured 1.3-4 s: a state-store scan + an empty-ledger snapshot
        # commit per drain) buys nothing here
        .config("spark.sql.streaming.noDataMicroBatches.enabled", "false")
        # state-store full snapshots are expensive relative to deltas at
        # micro-batch cadence; take them an order of magnitude less often
        .config("spark.sql.streaming.stateStore.minDeltasForSnapshot", "30")
        .config("spark.ui.enabled", "false")
        # PySpark's per-Column call-site capture (a stack walk plus py4j
        # calls per Column built) was about 1,900 of the 3,200 py4j calls
        # of a small stream trigger; ingest errors raise with their own
        # messages, so only the "== DataFrame ==" call-site note is lost
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # local mode = driver-only: the heap must hold every concurrent
        # task's agg/sort state, so size it to the host, not the default 1g
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
    )
    if master == "local" or master.startswith("local["):
        b = (b.config("spark.python.daemon.module",
                      "arlas_proc_spark.worker_daemon")
             .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT))
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _master_threads(master: str, default: int) -> int:
    """Task slots of a local master (``local``, ``local[N]``,
    ``local[N,F]``, ``local[*]``); ``default`` for any other master."""
    if master == "local":
        return 1
    if master.startswith("local[") and master.endswith("]"):
        inner = master[6:-1].split(",")[0]
        if inner == "*":
            return default
        try:
            return int(inner)
        except ValueError:
            return default
    return default
