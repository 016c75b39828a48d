"""Micro-profile of the INCREMENTAL merge path (STATUS.md next-step #2).

Replays a base feed into a fresh lake table, then times apply_batch of a
10%-size increment, min of REPS. Compares engine variants if given.

Usage: python BENCH/profile_incremental.py [n_events] [cpus]
"""
from __future__ import annotations

import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arlas_proc_spark.config import build_session  # noqa: E402


def main() -> None:
    n_events = int(sys.argv[1]) if len(sys.argv) > 1 else 16_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    reps = int(os.environ.get("BENCH_REPS", "3"))
    GEN = dict(n_repos=200, files_per_repo=2000)

    spark = build_session(app_name="profile-incremental",
                          master=f"local[{cpus}]", shuffle_partitions=cpus)
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import changefeed_df

    tmp = tempfile.mkdtemp(prefix="prof_inc_")
    try:
        warm = CdcEngine(spark, f"{tmp}/warm", n_buckets=cpus)
        warm.replay(changefeed_df(spark, 200_000, parallelism=cpus, **GEN))

        best = float("inf")
        for r in range(reps):
            engine = CdcEngine(spark, f"{tmp}/t{r}", n_buckets=cpus)
            engine.replay(changefeed_df(spark, n_events,
                                        parallelism=cpus * 2, **GEN))
            inc = changefeed_df(spark, n_events // 10,
                                parallelism=cpus, **GEN)
            inc = inc.withColumn("seq", inc.seq + n_events)
            t0 = time.time()
            engine.apply_batch(inc, f"inc-{r}")
            wall = time.time() - t0
            print(f"rep {r}: incremental merge {wall:.2f}s "
                  f"({n_events // 10 / wall:,.0f} ev/s)", flush=True)
            best = min(best, wall)
        print(f"BEST: {best:.2f}s ({n_events // 10 / best:,.0f} ev/s)")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
