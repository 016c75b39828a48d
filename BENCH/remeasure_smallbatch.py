"""Interleaved A/B of the streaming small-batch lens (r2 VERDICT Next
#10): does sizing the dedup state store (state_partitions) shrink the
~3.5s/micro-batch fixed cost at mfpt=2?

Variants drain the SAME 2M-event 8-segment WAL at mfpt=2 (4 batches of
~500k — the r01 cadence the lens exists to stress), interleaved
round-robin, min-of-rounds. Baseline = 32 state partitions (the session
shuffle setting); candidates = 8 and 4.

Usage: python BENCH/remeasure_smallbatch.py [rounds]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arlas_proc_spark.config import build_session  # noqa: E402


def main() -> None:
    rounds = int(sys.argv[1]) if len(sys.argv) > 1 else 3
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n = int(os.environ.get("BENCH_EVENTS", "2000000"))
    GEN = dict(n_repos=200, files_per_repo=2000)
    spark = build_session(app_name="remeasure-smallbatch",
                          master=f"local[{cpus}]", shuffle_partitions=cpus)
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import (
        changefeed_df,
        write_changefeed_batches,
    )
    from arlas_proc_spark.streaming.ingest import StreamingIngest

    tmp = tempfile.mkdtemp(prefix="remeasure_sb_")
    variants = {"sp32_baseline": None, "sp8": 8, "sp4": 4}
    walls: dict[str, list[float]] = {k: [] for k in variants}
    try:
        write_changefeed_batches(spark, f"{tmp}/wal", n, n_batches=8, **GEN)
        warm = CdcEngine(spark, f"{tmp}/warm", n_buckets=cpus)
        warm.replay(changefeed_df(spark, 200_000, parallelism=cpus, **GEN))

        for r in range(rounds):
            for tag, sp in variants.items():
                ing = StreamingIngest(spark, f"{tmp}/{tag}{r}",
                                      n_buckets=cpus,
                                      state_partitions=sp)
                t0 = time.time()
                ing.run_to_completion(f"{tmp}/wal", f"{tmp}/ck_{tag}{r}",
                                      max_files_per_trigger=2)
                walls[tag].append(round(time.time() - t0, 3))
            print(json.dumps({"round": r, **{k: v[-1] for k, v in
                                             walls.items()}}), flush=True)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    print(json.dumps({
        "protocol": f"interleaved x{rounds}, min-of-rounds, mfpt=2, "
                    f"{n} events / 8 segments, local[{cpus}]",
        "walls": walls,
        **{f"{k}_min_s": min(v) for k, v in walls.items()},
        **{f"{k}_ev_per_s": round(n / min(v), 1) for k, v in walls.items()},
        "r2_driver_singleshot": {"smallbatch_s": 16.476, "ev_s": 121_386},
    }), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
