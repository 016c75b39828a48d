"""Interleaved stage profiler: runs each (level, stage) several times in
alternating order and reports the MIN, so slow drift in external host load
can't bias one level. One process per level, run sequentially."""

from __future__ import annotations

import json
import subprocess
import sys

CHILD = r"""
import json, sys, time, tempfile, shutil
sys.path.insert(0, "/root/repo")
from arlas_proc_spark.config import build_session
from arlas_proc_spark.cdc.engine import CdcEngine, lww_compact, prepare_events
from arlas_proc_spark.sources.changefeed import changefeed_df

cpus = int(sys.argv[1]); N = int(sys.argv[2]); reps = int(sys.argv[3])
GEN = dict(n_repos=200, files_per_repo=2000)
spark = build_session(master=f"local[{cpus}]", shuffle_partitions=cpus)
feed = changefeed_df(spark, N, parallelism=cpus * 2, **GEN)

def noop(df): df.write.format("noop").mode("overwrite").save()

stages = {
    "gen": lambda: noop(feed),
    "compact": lambda: noop(lww_compact(feed)),
    "compact_sha": lambda: noop(prepare_events(lww_compact(feed))),
}
def full_replay():
    tmp = tempfile.mkdtemp()
    eng = CdcEngine(spark, tmp + "/t", n_buckets=cpus)
    t0 = time.time()
    eng.replay(feed)
    dt = time.time() - t0
    shutil.rmtree(tmp, ignore_errors=True)
    return dt

# warmup all paths once
for f in stages.values(): f()
full_replay()

best = {k: 1e9 for k in stages}; best["replay"] = 1e9
for r in range(reps):
    for k, f in stages.items():
        t0 = time.time(); f(); best[k] = min(best[k], time.time() - t0)
    best["replay"] = min(best["replay"], full_replay())
print("RESULT " + json.dumps({k: round(v, 2) for k, v in best.items()}))
spark.stop()
"""

def run(cpus, n, reps=3):
    out = subprocess.run([sys.executable, "-c", CHILD, str(cpus), str(n), str(reps)],
                         capture_output=True, text=True, timeout=3600)
    for ln in out.stdout.splitlines():
        if ln.startswith("RESULT "):
            return json.loads(ln[7:])
    raise RuntimeError(out.stdout[-2000:] + out.stderr[-2000:])

if __name__ == "__main__":
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 24_000_000
    for cpus in (8, 32):
        print(cpus, json.dumps(run(cpus, n)))
