"""Deletion-vector design-point profile: sparse-batch merge cost, cow vs
dv, over the SAME base table (zero-copy shallow clones) and the SAME
batch.

cow pays O(touched-bucket rows): every bucket holding a batch key is
fully rewritten. dv pays O(changed rows): the batch's winners are
appended, superseded rows are masked by (file, position), and — with
dv_prune — untouched existing rows die at a broadcast semi-join instead
of being shuffled wide through the merge. The gap therefore widens with
base-table size at fixed batch size; this profile measures both modes at
two base sizes to show the trend the 100-TB tier extrapolates from.

Usage: python BENCH/profile_dv.py [n_events_base ...]   (default 4M 16M)
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from arlas_proc_spark.config import build_session  # noqa: E402


def _du(path: str) -> int:
    import os
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def main() -> None:
    sizes = [int(a) for a in sys.argv[1:]] or [4_000_000, 16_000_000]
    cpus = 32
    spark = build_session(app_name="profile_dv", master=f"local[{cpus}]",
                          shuffle_partitions=cpus)
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.lake.table import LakeTable
    from arlas_proc_spark.sources.changefeed import changefeed_df

    # wide key space: the base table's LIVE row count (what cow must
    # rewrite per sparse merge) approaches the event count instead of
    # saturating at 400k — the regime a 100-TB table lives in
    GEN = dict(n_repos=2000, files_per_repo=2000)  # ~4M keys
    SPARSE = dict(n_repos=4, files_per_repo=1000)  # ~4k keys, all buckets

    for n in sizes:
        tmp = tempfile.mkdtemp(prefix="profile_dv_")
        try:
            base = CdcEngine(spark, f"{tmp}/base", n_buckets=cpus,
                             write_mode="dv")
            base.replay(changefeed_df(spark, n, parallelism=cpus * 2,
                                      **GEN))
            rows = base.table.count_rows()
            sparse = changefeed_df(spark, n // 100, parallelism=cpus,
                                   **SPARSE)
            sparse = sparse.withColumn("seq", sparse.seq + n * 8)
            out, written = {}, {}
            for rep in range(3):
                for mode in ("cow", "dv"):
                    path = f"{tmp}/{mode}{rep}"
                    LakeTable.shallow_clone(spark, f"{tmp}/base", path)
                    eng = CdcEngine(spark, path,
                                    write_mode=mode)
                    b0 = _du(path)
                    t0 = time.time()
                    eng.apply_batch(sparse, "sparse-1")
                    out[mode] = min(out.get(mode, 9e9), time.time() - t0)
                    written[mode] = _du(path) - b0
            print(f"base={n} ({rows} live rows): sparse merge "
                  f"cow={out['cow']:.2f}s dv={out['dv']:.2f}s "
                  f"wall_ratio={out['cow'] / out['dv']:.2f}x | bytes "
                  f"written cow={written['cow']:,} dv={written['dv']:,} "
                  f"amplification={written['cow'] / max(written['dv'], 1):.0f}x")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
