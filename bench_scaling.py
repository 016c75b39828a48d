"""Scaling-efficiency protocol (north rule: ≥0.8 from N to 4N executors).

No real cluster exists in this sandbox, so per the driver instruction the
same job runs at two parallelism levels — local[8] (N) and local[32] (4N)
— on the same deterministic input; we report events/sec at both and
efficiency = (throughput_4N / throughput_N) / 4.

Measurement protocol (the sandbox shares physical CPUs with neighbors, so
single-shot timings drift badly — observed 10x wall-time variance on
identical jobs):
- each level runs in its own JVM (no GC/codegen leakage),
- each child warms up first (a small replay compiles every codegen path),
- levels run INTERLEAVED (N, 4N, N, 4N) and each level's throughput is the
  MIN wall time across rounds, so slow external drift cannot bias one level.

The job is the engine's headline path: generate the change feed (~400k
distinct keys, hot-repo skew, duplicate deliveries), LWW-compact, sha256
via Arrow UDF, MERGE into a fresh snapshot lake table.

Appends results to BENCH/BASELINE.md and prints a JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

N_EVENTS = int(os.environ.get("SCALE_EVENTS", "48000000"))
ROUNDS = int(os.environ.get("SCALE_ROUNDS", "2"))
TIMED_PER_ROUND = 2
LEVELS = [int(x) for x in os.environ.get("SCALE_LEVELS", "8,32").split(",")]

# Job shape is IDENTICAL at every level: same bucket count, same range-TVF
# slice count — only the thread pool changes, exactly like adding executors.
N_BUCKETS = int(os.environ.get("SCALE_BUCKETS", "32"))
SLICES = int(os.environ.get("SCALE_SLICES", "64"))

_CHILD = r"""
import json, shutil, sys, tempfile, time
sys.path.insert(0, "/root/repo")
from arlas_proc_spark.config import build_session
from arlas_proc_spark.cdc.engine import CdcEngine
from arlas_proc_spark.sources.changefeed import changefeed_df

cpus, n_events, reps = int(sys.argv[1]), int(sys.argv[2]), int(sys.argv[3])
n_buckets, slices = int(sys.argv[4]), int(sys.argv[5])
GEN = dict(n_repos=200, files_per_repo=2000)   # ~400k keys: real merge work
spark = build_session(app_name=f"scale-{cpus}", master=f"local[{cpus}]",
                      shuffle_partitions=max(cpus, 8))
root = tempfile.mkdtemp(prefix=f"scale{cpus}_")

def replay(tag, n):
    eng = CdcEngine(spark, f"{root}/{tag}", n_buckets=n_buckets)
    feed = changefeed_df(spark, n, parallelism=slices, **GEN)
    t0 = time.time()
    eng.replay(feed)
    return time.time() - t0, eng

# warmup compiles all codegen/JIT paths before any timing
replay("warm", 200_000)

best = 1e18
rows = None
for r in range(reps):
    dt, eng = replay(f"t{r}", n_events)
    best = min(best, dt)
    rows = eng.state().count()
shutil.rmtree(root, ignore_errors=True)
print("RESULT " + json.dumps({"cpus": cpus, "wall_s": round(best, 2),
    "events_per_sec": round(n_events / best, 1), "rows": rows}))
spark.stop()
"""


def run_level(cpus: int, reps: int) -> dict:
    out = subprocess.run(
        [sys.executable, "-c", _CHILD, str(cpus), str(N_EVENTS), str(reps),
         str(N_BUCKETS), str(SLICES)],
        capture_output=True, text=True, timeout=3600)
    for ln in out.stdout.splitlines():
        if ln.startswith("RESULT "):
            return json.loads(ln[7:])
    raise RuntimeError(f"child local[{cpus}] failed:\n"
                       f"{out.stdout[-1500:]}\n{out.stderr[-1500:]}")


def main() -> None:
    best: dict[int, dict] = {}
    for _ in range(ROUNDS):
        for c in LEVELS:
            r = run_level(c, TIMED_PER_ROUND)
            if c not in best or r["wall_s"] < best[c]["wall_s"]:
                best[c] = r
    t_n, t_4n = (best[LEVELS[0]]["events_per_sec"],
                 best[LEVELS[1]]["events_per_sec"])
    eff = round((t_4n / t_n) / (LEVELS[1] / LEVELS[0]), 3)
    assert best[LEVELS[0]]["rows"] == best[LEVELS[1]]["rows"], \
        "parallelism changed the result!"
    summary = {
        "metric": "cdc_replay_scaling_efficiency",
        "n_events": N_EVENTS,
        f"events_per_sec_local[{LEVELS[0]}]": t_n,
        f"events_per_sec_local[{LEVELS[1]}]": t_4n,
        "scaling_efficiency": eff,
        "rows_converged": best[LEVELS[0]]["rows"],
    }
    print(json.dumps(summary))
    os.makedirs("/root/repo/BENCH", exist_ok=True)
    stamp = time.strftime("%Y-%m-%d %H:%M:%S")
    with open("/root/repo/BENCH/BASELINE.md", "a") as f:
        f.write(
            f"\n## Scaling run {stamp}\n\n"
            f"Job: changefeed({N_EVENTS:,} events, ~400k keys, 30% hot-repo "
            f"skew, dup delivery) → LWW compact → sha256 (Arrow UDF) → lake "
            f"MERGE (fresh table). Interleaved rounds, min wall per level, "
            f"warmed JVMs (see bench_scaling.py docstring for why).\n\n"
            f"| level | events/sec | wall s |\n|---|---|---|\n"
            f"| local[{LEVELS[0]}] (N) | {t_n:,} | {best[LEVELS[0]]['wall_s']} |\n"
            f"| local[{LEVELS[1]}] (4N) | {t_4n:,} | {best[LEVELS[1]]['wall_s']} |\n\n"
            f"**Scaling efficiency = ({t_4n:,} / {t_n:,}) / "
            f"{LEVELS[1] // LEVELS[0]} = {eff}**"
            f" (target ≥ 0.8; single shared-memory host — all levels share "
            f"one memory/IO subsystem, unlike real 4N executors)\n")


if __name__ == "__main__":
    main()
