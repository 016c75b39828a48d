"""Commit-metadata scaling probe (r2 VERDICT Next #5): how much driver
work does one commit cost at a 1,000-file commit size?

The r2 layout renamed every staged file onto the driver (os.replace per
file) and read every parquet footer driver-side. The r3 layout writes
files at their final (relative) names — zero renames — and reads footer
stats as a distributed job above _STATS_DISTRIBUTED_OVER files. This
probe measures, on one ~1,024-file commit:

  a) merge wall (whole merge_batch, for context)
  b) footer-stats wall, driver loop vs distributed job (the toggle)
  c) a synthetic rename pass over the committed files — what the old
     layout would have ADDED per commit

Usage: python BENCH/profile_commit.py [n_files] [cpus]
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from arlas_proc_spark.config import build_session  # noqa: E402


def main() -> None:
    n_files = int(sys.argv[1]) if len(sys.argv) > 1 else 1024
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    spark = build_session(app_name="profile-commit",
                          master=f"local[{cpus}]",
                          # shuffle.partitions == n_buckets -> aligned
                          # shuffle-once write, one file per bucket
                          shuffle_partitions=n_files)
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.lake.table import LakeTable
    from arlas_proc_spark.sources.changefeed import changefeed_df

    tmp = tempfile.mkdtemp(prefix="prof_commit_")
    out: dict = {"n_buckets": n_files}
    try:
        # n_buckets = n_files -> the merge commit stages ~n_files files
        eng = CdcEngine(spark, f"{tmp}/t", n_buckets=n_files)
        feed = changefeed_df(spark, 2_000_000, parallelism=cpus,
                             n_repos=200, files_per_repo=2000)
        t0 = time.time()
        eng.replay(feed)
        out["merge_wall_s"] = round(time.time() - t0, 3)

        t = eng.table
        snap = t.snapshot()
        entries = [e for fs in snap["buckets"].values() for e in fs]
        paths = [os.path.join(t.data_dir, e["file"]) for e in entries]
        out["files_committed"] = len(paths)

        # footer stats: driver loop vs distributed job on the SAME files
        saved = LakeTable._STATS_DISTRIBUTED_OVER
        try:
            LakeTable._STATS_DISTRIBUTED_OVER = 10**9   # force driver loop
            t0 = time.time()
            t._footer_stats(paths)
            out["footer_stats_driver_s"] = round(time.time() - t0, 3)
            LakeTable._STATS_DISTRIBUTED_OVER = 0       # force distributed
            t0 = time.time()
            t._footer_stats(paths)
            out["footer_stats_distributed_s"] = round(time.time() - t0, 3)
        finally:
            LakeTable._STATS_DISTRIBUTED_OVER = saved

        # what the old layout would ADD: one rename per file on the driver
        # (rename to a sibling name and back — same dir, same syscall cost)
        t0 = time.time()
        for p in paths:
            os.replace(p, p + ".mv")
        for p in paths:
            os.replace(p + ".mv", p)
        out["rename_pass_s"] = round((time.time() - t0) / 2, 3)

        # directory-listing cost the new layout keeps (glob per commit)
        t0 = time.time()
        n = sum(len(glob.glob(os.path.join(d, "part-*.parquet")))
                for d in glob.glob(os.path.join(t.data_dir, "c*", "*")))
        out["listing_s"] = round(time.time() - t0, 3)
        out["listing_files_seen"] = n

        # ---- sharded-manifest probe (r3 VERDICT Next #1): commit
        # metadata IO must be O(touched buckets), not O(table files).
        # On this ~n_files-file table, run a ONE-bucket merge and count
        # (a) manifest files written, (b) manifest bytes written, vs what
        # the r3 whole-table-JSON layout would have serialized.
        snap = t.snapshot()
        whole_table_bytes = sum(
            os.path.getsize(os.path.join(t.meta_dir, ref["manifest"]))
            for ref in snap["buckets"]._listing.values()
            if ref.get("manifest"))
        out["table_manifest_bytes_total"] = whole_table_bytes
        before = {f: os.path.getmtime(os.path.join(t.meta_dir, f))
                  for f in os.listdir(t.meta_dir)}
        one = changefeed_df(spark, 64, parallelism=1, n_repos=2,
                            files_per_repo=1)
        t0 = time.time()
        eng.apply_batch(one, 1)
        out["one_bucket_commit_wall_s"] = round(time.time() - t0, 3)
        new_manifests = [
            f for f in os.listdir(t.meta_dir)
            if f.startswith("m-") and f not in before]
        out["one_bucket_commit_manifests_written"] = len(new_manifests)
        out["one_bucket_commit_manifest_bytes"] = sum(
            os.path.getsize(os.path.join(t.meta_dir, f))
            for f in new_manifests)
        snap2 = t.snapshot()
        out["snapshot_json_bytes"] = os.path.getsize(
            os.path.join(t.meta_dir, t._current_name()))
        out["buckets_total"] = len(snap2["buckets"])
        out["metadata_io_ratio_vs_whole_table"] = round(
            (out["one_bucket_commit_manifest_bytes"]
             + out["snapshot_json_bytes"]) / max(1, whole_table_bytes), 4)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
