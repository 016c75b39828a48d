"""Per-micro-batch attribution of streaming-ingest wall time.

Two lenses on the same drain:
1. Spark's own StreamingQueryProgress durationMs (addBatch / getBatch /
   commitOffsets / walCommit / latestOffset) + state-operator commit times;
2. wall-clock phases instrumented inside the foreachBatch body
   (persist+argmax action, merge write action, snapshot commit).

Usage: python BENCH/profile_stream_phases.py [n_events] [cpus] [mode]
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
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    mode = sys.argv[3] if len(sys.argv) > 3 else "cow"
    GEN = dict(n_repos=200, files_per_repo=2000)
    spark = build_session(app_name="profile-stream-phases",
                          master=f"local[{cpus}]", shuffle_partitions=cpus)
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.sources.changefeed import write_changefeed_batches
    from arlas_proc_spark.streaming.ingest import StreamingIngest

    tmp = tempfile.mkdtemp(prefix="prof_sp_")
    try:
        write_changefeed_batches(spark, f"{tmp}/wal", n, n_batches=4, **GEN)

        # instrument apply_batch wall per call
        calls: list[dict] = []
        real_apply = CdcEngine.apply_batch

        def timed_apply(self, events, batch_id, **kw):
            t0 = time.time()
            m = real_apply(self, events, batch_id, **kw)
            calls.append({"batch": str(batch_id),
                          "apply_wall_s": round(time.time() - t0, 3)})
            return m
        CdcEngine.apply_batch = timed_apply

        def drain(tag, **ing_kw):
            calls.clear()
            ing = StreamingIngest(spark, f"{tmp}/t_{tag}", n_buckets=cpus,
                                  write_mode=mode,
                                  **ing_kw)
            t0 = time.time()
            q = ing.start(f"{tmp}/wal", f"{tmp}/ck_{tag}",
                          max_files_per_trigger=1, available_now=True)
            q.awaitTermination(600)
            wall = time.time() - t0
            prog = [json.loads(p.json) for p in q.recentProgress]
            print(f"\n=== {tag}: {wall:.2f}s total ({n/wall:,.0f} ev/s), "
                  f"{len(prog)} progress entries ===")
            apply_total = sum(c["apply_wall_s"] for c in calls)
            print(f"apply_batch walls: "
                  f"{[c['apply_wall_s'] for c in calls]} "
                  f"(sum {apply_total:.2f}s)")
            for p in prog:
                d = p.get("durationMs", {})
                rows = p.get("numInputRows", 0)
                so = p.get("stateOperators", [])
                st = ""
                if so:
                    s0 = so[0]
                    st = (f" state[commit={s0.get('allUpdatesTimeMs',0)}+"
                          f"{s0.get('commitTimeMs',0)}ms rows="
                          f"{s0.get('numRowsTotal',0)} "
                          f"mem={s0.get('memoryUsedBytes',0)//1048576}MB]")
                print(f"  batch {p.get('batchId')}: rows={rows} "
                      f"addBatch={d.get('addBatch')}ms "
                      f"getBatch={d.get('getBatch')}ms "
                      f"latestOffset={d.get('latestOffset')}ms "
                      f"commitOffsets={d.get('commitOffsets')}ms "
                      f"walCommit={d.get('walCommit')}ms{st}")
            return wall

        drain("warm")
        drain("dedup")
        drain("nodedup", stream_dedup=False)
    finally:
        CdcEngine.apply_batch = real_apply
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
