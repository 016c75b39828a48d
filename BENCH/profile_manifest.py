"""Sharded-manifest scaling probe (r3 VERDICT Next #1).

Claim under test: with per-bucket manifest files + a manifest list,
commit metadata IO is O(touched buckets), not O(table files) — the r3
layout rewrote ONE whole-table JSON holding every file entry per commit.

Shape: a 256-bucket table grown to >=10,000 data files (one bootstrap
merge + 39 append_batch generations, each adding one file per bucket —
the merge-on-read fragmentation a real high-frequency stream produces).
Then ONE merge touching a couple of buckets, counting exactly what
metadata the commit wrote:

  - manifests_written        (only the touched buckets)
  - manifest_bytes_written   (those buckets' entries only)
  - snapshot_json_bytes      (the manifest list: O(buckets), NOT O(files))
  - vs old_layout_bytes_per_commit (the whole-table serialize the r3
    layout paid on EVERY commit: every file entry, every time)

Usage: python BENCH/profile_manifest.py [n_buckets] [files_per_bucket] [cpus]
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
    n_buckets = int(sys.argv[1]) if len(sys.argv) > 1 else 256
    files_per_bucket = int(sys.argv[2]) if len(sys.argv) > 2 else 40
    cpus = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = build_session(app_name="profile-manifest",
                          master=f"local[{cpus}]",
                          shuffle_partitions=n_buckets)
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import changefeed_df

    tmp = tempfile.mkdtemp(prefix="prof_manifest_")
    out: dict = {"n_buckets": n_buckets,
                 "target_files": n_buckets * files_per_bucket}
    try:
        eng = CdcEngine(spark, f"{tmp}/t", n_buckets=n_buckets)
        feed = changefeed_df(spark, 1_000_000, parallelism=cpus,
                             n_repos=200, files_per_repo=2000)
        t0 = time.time()
        eng.replay(feed)
        out["bootstrap_merge_wall_s"] = round(time.time() - t0, 3)
        t = eng.table

        # fragment: each append adds ~one generation file per bucket
        gen = changefeed_df(spark, 50_000, parallelism=cpus,
                            n_repos=200, files_per_repo=2000)
        t0 = time.time()
        for i in range(files_per_bucket - 1):
            t.append_batch(gen, f"gen-{i}")
        out["append_rounds_wall_s"] = round(time.time() - t0, 3)

        snap = t.snapshot()
        listing = snap["buckets"]._listing
        out["files_committed"] = sum(ref["files"] for ref in listing.values())
        out["table_manifest_bytes_total"] = sum(
            os.path.getsize(os.path.join(t.meta_dir, ref["manifest"]))
            for ref in listing.values() if ref.get("manifest"))

        before = set(os.listdir(t.meta_dir))
        one = changefeed_df(spark, 64, parallelism=1, n_repos=2,
                            files_per_repo=1)
        t0 = time.time()
        eng.apply_batch(one, "probe-one-bucket")
        out["small_commit_wall_s"] = round(time.time() - t0, 3)
        new_manifests = [f for f in os.listdir(t.meta_dir)
                         if f.startswith("m-") and f not in before]
        out["buckets_touched"] = len(new_manifests)
        out["manifests_written"] = len(new_manifests)
        out["manifest_bytes_written"] = sum(
            os.path.getsize(os.path.join(t.meta_dir, f))
            for f in new_manifests)
        out["snapshot_json_bytes"] = os.path.getsize(
            os.path.join(t.meta_dir, t._current_name()))
        out["commit_metadata_bytes"] = (out["manifest_bytes_written"]
                                        + out["snapshot_json_bytes"])
        out["old_layout_bytes_per_commit"] = (
            out["table_manifest_bytes_total"] + out["snapshot_json_bytes"])
        out["metadata_io_ratio"] = round(
            out["commit_metadata_bytes"]
            / max(1, out["old_layout_bytes_per_commit"]), 4)

        # count_rows: merge-on-read buckets force the LWW-scan fallback;
        # after compaction the count is pure manifest-list math (no Spark
        # job, no data IO) and must equal the full scan exactly
        t0 = time.time()
        c_mor = t.count_rows()
        out["count_rows_mor_fallback_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        t.compact(max_files_per_bucket=1)
        out["compact_wall_s"] = round(time.time() - t0, 3)
        t0 = time.time()
        c_meta = t.count_rows()
        out["count_rows_metadata_s"] = round(time.time() - t0, 4)
        meta_only, fallback = t._count_rows_detail()
        t0 = time.time()
        c_scan = t.read().count()
        out["count_rows_full_scan_s"] = round(time.time() - t0, 3)
        assert c_meta == c_scan == c_mor and not fallback, \
            (c_meta, c_scan, c_mor, fallback)
        out["count_rows_live"] = c_meta
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
