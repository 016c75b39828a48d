"""Row-lineage overhead + at-scale id integrity (round 4, session 13).

A/B the SAME multi-batch replay into a plain vs a row_lineage=True
table (interleaved, min-of-rounds): lineage adds two long columns
through the merge join + per-file range assignment (driver-side dict
math) — the expected overhead is a few percent of merge wall, not a new
shuffle. Then verify id integrity AT SCALE on the lineage table:
distinct(_row_id) == rows, max < next_row_id, and update-stability on a
sampled key set across an extra batch.

Usage: python BENCH/profile_lineage.py [n_events] [rounds]
Prints one JSON line.
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
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    rounds = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    GEN = dict(n_repos=200, files_per_repo=2000)
    spark = build_session(app_name="profile-lineage",
                          master=f"local[{cpus}]", shuffle_partitions=cpus)
    from pyspark.sql import functions as F

    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import changefeed_df

    tmp = tempfile.mkdtemp(prefix="profile_lineage_")
    walls: dict[str, list[float]] = {"plain": [], "lineage": []}
    keep = None
    try:
        feed = changefeed_df(spark, n, parallelism=cpus, **GEN)
        feed.persist().count()  # generation cost out of the measurement
        for r in range(rounds):
            for tag, lin in (("plain", False), ("lineage", True)):
                eng = CdcEngine(spark, f"{tmp}/{tag}{r}", n_buckets=cpus,
                                row_lineage=lin)
                t0 = time.time()
                for i in range(3):
                    eng.apply_batch(feed.where(feed.seq % 3 == i), i)
                walls[tag].append(round(time.time() - t0, 3))
                if lin:
                    keep = eng.table
                else:
                    shutil.rmtree(f"{tmp}/{tag}{r}", ignore_errors=True)
            print(json.dumps({"round": r,
                              **{k: v[-1] for k, v in walls.items()}}),
                  flush=True)

        # integrity at scale, on the last lineage table
        lin_df = keep.read(with_row_ids=True)
        stats = lin_df.agg(
            F.count(F.lit(1)).alias("rows"),
            F.countDistinct("_row_id").alias("ids"),
            F.max("_row_id").alias("hi")).collect()[0]
        assert stats.ids == stats.rows, (stats.ids, stats.rows)
        assert stats.hi < keep.snapshot()["next_row_id"]
        sample = [(r.repo, r.path, r._row_id)
                  for r in lin_df.limit(500).collect()]
        upd = spark.createDataFrame(
            [(10 ** 9 + i, "update", rp, p, f"z{i}", 1700000000, "py", "U")
             for i, (rp, p, _) in enumerate(sample)],
            "seq long, op string, repo string, path string, commit string,"
            " ts_s long, lang string, content string")
        eng2 = CdcEngine(spark, keep.path, n_buckets=cpus,
                         row_lineage=True)
        eng2.apply_batch(upd, "stability-probe")
        after = {(r.repo, r.path): r._row_id
                 for r in keep.read(with_row_ids=True)
                 .join(spark.createDataFrame(
                     [(rp, p) for rp, p, _ in sample], "repo string, path string"),
                     ["repo", "path"], "left_semi").collect()}
        stable = sum(1 for rp, p, rid in sample if after.get((rp, p)) == rid)
        print(json.dumps({
            "protocol": f"interleaved x{rounds}, min-of-rounds, {n} events"
                        f" / 3 batches, local[{cpus}]",
            "walls": walls,
            "plain_min_s": min(walls["plain"]),
            "lineage_min_s": min(walls["lineage"]),
            "overhead_ratio": round(min(walls["lineage"])
                                    / min(walls["plain"]), 4),
            "rows": int(stats.rows), "distinct_row_ids": int(stats.ids),
            "stable_ids_after_update": f"{stable}/{len(sample)}",
        }), flush=True)
        assert stable == len(sample)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
