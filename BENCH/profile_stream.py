"""Decompose streaming-ingest overhead along two axes: state-store dedup
on/off and micro-batch count (max_files_per_trigger).

Usage: python BENCH/profile_stream.py [n_events] [cpus]
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
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    GEN = dict(n_repos=200, files_per_repo=2000)
    spark = build_session(app_name="profile-stream",
                          master=f"local[{cpus}]", shuffle_partitions=cpus)
    from arlas_proc_spark.sources.changefeed import write_changefeed_batches
    from arlas_proc_spark.streaming.ingest import StreamingIngest

    tmp = tempfile.mkdtemp(prefix="prof_stream_")
    try:
        write_changefeed_batches(spark, f"{tmp}/wal", n, n_batches=4, **GEN)

        def run(tag, *, dedup, mfpt):
            ing = StreamingIngest(spark, f"{tmp}/t_{tag}", n_buckets=cpus,
                                  stream_dedup=dedup)
            t0 = time.time()
            ing.run_to_completion(f"{tmp}/wal", f"{tmp}/ck_{tag}",
                                  max_files_per_trigger=mfpt)
            w = time.time() - t0
            print(f"{tag}: {w:.2f}s ({n / w:,.0f} ev/s)", flush=True)
            return w

        run("warm", dedup=True, mfpt=1)  # warmup: codegen/JIT/Arrow
        run("dedup_mfpt1", dedup=True, mfpt=1)
        run("dedup_mfpt4", dedup=True, mfpt=4)
        run("nodedup_mfpt1", dedup=False, mfpt=1)
        run("nodedup_mfpt4", dedup=False, mfpt=4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
