"""CDC ingest benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload replay --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository. The run builds a
Spark session with the engine's ``build_session`` at local[<=2 cores]
with a driver heap sized to the host, generates the workload's inputs
from the seed (set-up, repeated and reported as a median), measures a
closed loop of operations for ``--seconds`` seconds (and at least the
workload's timed ops, ``timed_ops`` in workloads.py), checks every output
against an independent oracle and prints a report followed, as the last
line, by one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
BENCHMARK.json, measured with tracing off. With ``--trace 1`` spans are
recorded around the layers' public functions on every other operation
and the metrics are the per-layer metrics; the ops without spans give
the tracing overhead. A traced replay or stream run then also runs the
workload it folds in (``FOLDS`` in workloads.py) for the layers only
that one exercises. Every scratch file lives under ``.perfbench_work/``
in the checkout and is removed at exit; traces are kept in
``.perfbench_out/``.

Workloads, metrics and the layer each per-layer metric should move are
described in perfbench/README.md.
"""

from __future__ import annotations

import argparse
import dataclasses
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
from collections import Counter

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
HARD_LIMIT_S = 170


# Spark task threads. Each Arrow UDF task also keeps a python worker busy,
# and the JIT compiler and GC threads run beside them. At local[4] on 4
# vCPUs those oversubscribed the host: replay op times kept falling
# through a run as the JIT caught up, and a run that fitted one op fewer
# had its median on the slower early ops. At local[2] replay ops took up
# to 50% longer, and after the warm-up (workloads.WARM_OPS) their times
# no longer fell.
MAX_CORES = 2


def _cores() -> int:
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, min(MAX_CORES, n))


def _heap() -> str:
    """A quarter of physical memory, 1-4 GiB: the shipped default (48g)
    does not fit a small host."""
    try:
        mem = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    except (ValueError, OSError):
        mem = 8 << 30
    return f"{max(1, min(4, mem // (4 << 30)))}g"


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=("full", "tiny"), default="full",
                    help="tiny: the self-tests' smoke size")
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "arlas_proc_spark")):
        print("perfbench: run from the root of a repository checkout "
              "(arlas_proc_spark/ not found)", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, HERE]
    import workloads as W
    if args.workload not in W.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(W.WORKLOADS)}", file=sys.stderr)
        return 2

    cores = _cores()
    work = os.path.join(ROOT, ".perfbench_work", f"{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    heap = _heap()
    os.environ.update({
        "TMPDIR": tmp, "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores), "SPARK_DRIVER_MEMORY": heap,
        "PYSPARK_PYTHON": sys.executable})
    _watchdog(HARD_LIMIT_S)

    # DuckDB connects before pyspark loads its native stack (a DuckDB
    # created afterwards can fail to spawn worker threads)
    import duckdb
    con = duckdb.connect()
    # the oracle runs outside the timed region: give it the whole host
    con.execute(f"PRAGMA threads={os.cpu_count() or 1}")
    con.execute(f"SET temp_directory='{tmp}'")

    from arlas_proc_spark.config import build_session

    def session(n: int):
        return build_session(
            app_name=f"perfbench-{args.workload}", master=f"local[{n}]",
            extra_conf={"spark.ui.showConsoleProgress": "false",
                        # a heap committed up front: a growing heap keeps
                        # early ops in frequent GC, which the median sees
                        "spark.driver.extraJavaOptions":
                            f"-Djava.io.tmpdir={tmp} -Xms{heap}",
                        "spark.sql.warehouse.dir":
                            os.path.join(work, "warehouse")})

    t0 = time.perf_counter()
    spark = session(cores)
    session_s = time.perf_counter() - t0
    try:
        from spans import SparkCounters, SpanRecorder
        scale = W.SCALES[args.scale][args.workload]
        rec = SpanRecorder(f"{args.workload}-{args.seed}-{os.getpid()}") \
            if args.trace else None
        if rec is not None:
            install_spans(rec)
        ctx = W.Ctx(spark=spark, con=con, work=work, seed=args.seed,
                    seconds=args.seconds, cores=cores, scale=scale,
                    rec=rec, counters=SparkCounters(spark),
                    trace=bool(args.trace))
        t_setup = time.perf_counter()
        cpu0 = _host_cpu()
        res = W.WORKLOADS[args.workload](ctx)
        t_done = time.perf_counter()
        res.detail["host_cpu_steal_pct"] = _steal_pct(cpu0, _host_cpu())
        res.detail["phases_s"] = {
            "session": round(session_s, 1),
            "setup_and_warmup": round(res.loop_start - t_setup, 1),
            "loop_and_checks": round(t_done - res.loop_start, 1)}
        fold = None
        if args.trace and args.workload in W.FOLDS:
            name = W.FOLDS[args.workload]
            # one unit of the folded workload (an upsert batch across the
            # three modes, an index_refresh round): its figures are
            # per-layer only, and the run must end within its time limit
            fold = name, W.WORKLOADS[name](dataclasses.replace(
                ctx, scale=W.SCALES[args.scale][name], seconds=0,
                work=os.path.join(work, "fold")))
            res.detail["phases_s"][f"fold_{name}"] = round(
                time.perf_counter() - t_done, 1)
        for r in [res] + ([fold[1]] if fold else []):
            account_spark_failures(ctx, r)
        if not res.batch_s:
            print("perfbench: no operation completed", file=sys.stderr)
            return 1
        e2e = end_to_end(res)
        layers = None
        if args.trace:
            layers = per_layer(ctx, res, fold, session)
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            rec.write(os.path.join(
                out_dir, f"trace_{args.workload}_{args.seed}.jsonl"))
        if fold:
            # the fold's ops and checks count like the run's own
            res.ops += fold[1].ops
            res.checks += fold[1].checks
            res.detail[fold[0]] = fold[1].detail
        report(args, cores, session_s, res, e2e, layers)
        metrics = layers if args.trace else e2e
        print(json.dumps({
            "correct": all(ok for _, ok, _ in res.checks) and bool(res.checks),
            "attempted": res.attempted, "failed": res.failed,
            "metrics": {k: {"value": v, "unit": UNITS[k]}
                        for k, v in metrics.items()}}))
        return 0
    finally:
        gateway = spark.sparkContext._gateway
        spark.stop()
        _stop_jvm(gateway)
        con.close()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass  # another run is still using it


def _host_cpu() -> list[int] | None:
    """The host's aggregate CPU counters from /proc/stat (Linux), or None."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def _steal_pct(a, b) -> float | None:
    """Share of CPU time the hypervisor gave to other guests between two
    readings: other tenants' load, which slows every timed figure."""
    if not a or not b or len(a) < 8:
        return None
    d = [y - x for x, y in zip(a, b)]
    return round(100.0 * d[7] / max(sum(d[:8]), 1), 1)


def _stop_jvm(gateway) -> None:
    """End the Spark JVM now rather than at interpreter exit: it exits on
    EOF on its stdin, and the run waits for it."""
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _watchdog(limit_s: float) -> None:
    """A run that hangs must still end within its time limit (180 s);
    the Spark JVM exits with its parent."""
    def fire():
        print(f"perfbench: run exceeded {limit_s}s, aborting",
              file=sys.stderr, flush=True)
        os._exit(3)
    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


# ------------------------------------------------------------ metrics
E2E_UNITS = {"setup_s": "s", "events_per_s": "1/s", "batch_s_p50": "s",
             "write_bytes_per_event": "B"}


def end_to_end(res) -> dict:
    return {
        "setup_s": statistics.median(res.setup_s),
        "events_per_s": statistics.median(res.op_rate),
        "batch_s_p50": statistics.median(res.batch_s),
        "write_bytes_per_event": res.bytes / max(res.events, 1),
    }


def tail(samples: list[float]) -> tuple[float, float, int] | None:
    """Highest percentile with at least ten samples beyond it:
    (percentile, value, sample count). None below 20 samples, where that
    percentile would fall under the median."""
    n = len(samples)
    if n < 20:
        return None
    s = sorted(samples)
    idx = n - 11
    return 100.0 * (idx + 1) / n, s[idx], n


# span name -> (metric of its total time, metric of its self time)
SPANS = {
    "cdc.apply": ("cdc.apply_s", "cdc.resolve_s"),
    "lake.merge": ("lake.merge_s", "lake.merge_self_s"),
    "lake.append": ("lake.append_s", None),
    "lake.snapshot": ("lake.snapshot_s", None),
    "cas.commit": ("cas.commit_s", None),
}
CALLS = {"lake.snapshot": "lake.snapshot_calls", "cas.commit": "cas.calls"}
COUNTS = {"rows_upserted": "lake.rows_upserted",
          "rows_deleted": "lake.rows_deleted",
          "rows_dv_masked": "lake.rows_dv_masked",
          "buckets_touched": "lake.buckets_touched",
          "cas_conflicts": "cas.conflicts"}

LAYER_UNITS = {
    "sources.wal_scan_s": "s", "cdc.lww_compact_s": "s",
    "functions.sha256_s": "s", "functions.rows_hashed": "count",
    "cdc.apply_s": "s", "cdc.resolve_s": "s", "cdc.keys_per_event": "ratio",
    "lake.merge_s": "s", "lake.merge_self_s": "s", "lake.append_s": "s",
    "lake.compact_s": "s", "lake.compactions": "count",
    "lake.read_s": "s",
    "lake.rows_upserted": "count", "lake.rows_deleted": "count",
    "lake.rows_dv_masked": "count", "lake.buckets_touched": "count",
    "lake.bytes_written": "B", "lake.files_per_bucket_max": "count",
    "lake.snapshot_s": "s", "lake.snapshot_calls": "count",
    "cas.commit_s": "s", "cas.calls": "count", "cas.conflicts": "count",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.overhead_ms": "ms", "streaming.state_commit_ms": "ms",
    "streaming.state_update_ms": "ms", "streaming.state_rows": "count",
    "streaming.state_bytes": "B", "streaming.dup_rows_dropped": "count",
    "cdc.dedup_index.refresh_s": "s",
    "cdc.contamination_monitor.refresh_s": "s",
    "cdc.ann_index.refresh_s": "s", "lake.ivm.refresh_s": "s",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count",
    "replay.speedup_vs_1core": "ratio", "trace.overhead_pct": "%",
    **{f"lake.{m}.{x}": u for m in ("cow", "dv", "mor")
       for x, u in (("commit_s", "s"), ("read_s", "s"),
                    ("bytes_per_event", "B"))},
}
UNITS = {**E2E_UNITS, **LAYER_UNITS}


def install_spans(rec) -> None:
    """Wrap the public functions of each layer with spans."""
    from arlas_proc_spark.cdc import engine
    from arlas_proc_spark.lake import cas
    from arlas_proc_spark.lake.table import LakeTable

    def counts(sp, out):
        if isinstance(out, dict):
            for k in COUNTS:
                if isinstance(out.get(k), (int, float)):
                    sp.count(k, out[k])

    def conflict(sp, err):
        if isinstance(err, cas.CasConflict):
            sp.count("cas_conflicts")

    rec.wrap(engine.CdcEngine, "apply_batch", "cdc.apply")
    rec.wrap(LakeTable, "merge_batch", "lake.merge", on_result=counts)
    rec.wrap(LakeTable, "append_batch", "lake.append", on_result=counts)
    rec.wrap(LakeTable, "snapshot", "lake.snapshot")
    for fn in ("swing_pointer", "create_exclusive"):
        rec.wrap(cas.PosixCAS, fn, "cas.commit", on_error=conflict)


# metrics a traced run takes from the workload it folds in (FOLDS in
# workloads.py): the layers only that workload runs
FOLD_METRICS = {
    "upsert": ("lake.append_s", "lake.compact_s", "lake.compactions",
               "lake.rows_dv_masked",
               *(f"lake.{m}.{x}" for m in ("cow", "dv", "mor")
                 for x in ("commit_s", "read_s", "bytes_per_event"))),
    "index_refresh": ("cdc.dedup_index.refresh_s",
                      "cdc.contamination_monitor.refresh_s",
                      "cdc.ann_index.refresh_s", "lake.ivm.refresh_s"),
}


def per_layer(ctx, res, fold, session) -> dict:
    """The run's per-layer metrics; those of ``fold`` ((name, Result) or
    None) are taken from the folded workload."""
    out = _layers(ctx, res)
    out["trace.overhead_pct"] = _overhead(res.ops)
    if fold is not None:
        name, fres = fold
        got = _layers(ctx, fres)
        out.update({k: got[k] for k in FOLD_METRICS[name]})
    if "wal" in res.detail:
        out["replay.speedup_vs_1core"] = _speedup(ctx, res, session)
    return out


def _layers(ctx, res) -> dict:
    """Medians over the traced, successful ops of ``res`` of each op's
    span totals, self times, counts and Spark work, then the workload's
    own per-layer figures."""
    from spans import self_times
    rec = ctx.rec
    traced = [o for o in res.ops if o["traced"] and "fail" not in o]
    selfs = self_times(rec.spans)
    per_op: dict[int, dict[str, float]] = {o["op"]: {} for o in traced}
    for s in rec.spans:
        acc = per_op.get(s["op"])
        if acc is None:
            continue
        total_m, self_m = SPANS[s["name"]]
        acc[total_m] = acc.get(total_m, 0.0) + s["end"] - s["start"]
        if self_m:
            acc[self_m] = acc.get(self_m, 0.0) + selfs[s["id"]]
        if s["name"] in CALLS:
            acc[CALLS[s["name"]]] = acc.get(CALLS[s["name"]], 0) + 1
        for k, v in s.get("counts", {}).items():
            acc[COUNTS[k]] = acc.get(COUNTS[k], 0) + v
    for o in traced:
        for k, v in ctx.counters.between(*o["marks"]).items():
            per_op[o["op"]][f"spark.{k}"] = v

    out = {k: 0.0 for k in LAYER_UNITS}
    names = {k for acc in per_op.values() for k in acc}
    for k in names:
        vals = [acc[k] for acc in per_op.values() if k in acc]
        out[k] = statistics.median(vals)
    if res.read_s:
        out["lake.read_s"] = statistics.median(res.read_s)
    ok_ops = [o for o in res.ops if "fail" not in o]
    out["lake.bytes_written"] = res.bytes / max(len(ok_ops), 1)
    out.update(res.layers)
    return out


def _overhead(ops: list[dict]) -> float:
    ratios = []
    for kind in {o["kind"] for o in ops}:
        ok = [o for o in ops if o["kind"] == kind and "fail" not in o]
        on = [o["wall"] for o in ok if o["traced"]]
        off = [o["wall"] for o in ok if not o["traced"]]
        if on and off:
            ratios.append(statistics.median(on) / statistics.median(off))
    return 100.0 * (statistics.median(ratios) - 1.0) if ratios else 0.0


def _speedup(ctx, res, session) -> float:
    """This run's untraced replay rate over the rate of one replay of the
    same WAL at local[1]. The single-core session is built in the same,
    already warm JVM after the run's own session has stopped, so this must
    be the last Spark work of the run."""
    import workloads as W
    rates = [o["rate"] for o in res.ops
             if "rate" in o and "fail" not in o and not o["traced"]]
    if not rates:
        return 0.0
    ctx.spark.stop()
    one = session(1)
    try:
        wall = W._timed(lambda: W.bootstrap(
            one, f"{ctx.work}/replay/one_core", res.detail["wal"]))
    finally:
        one.stop()
    return statistics.median(rates) / (ctx.scale["events"] / wall)


def account_spark_failures(ctx, res) -> None:
    """An op during which a Spark task failed counts as failed even when
    it finally succeeded."""
    from workloads import fail
    fail([o for o in res.ops
          if ctx.counters.between(*o["marks"])["failed_tasks"] > 0],
         "spark_task")


def report(args, cores, session_s, res, e2e, layers) -> None:
    print(f"workload {args.workload}  seed {args.seed}  "
          f"local[{cores}]  measured {args.seconds:g}s  "
          f"trace {args.trace}  session start {session_s:.2f}s")
    for k, v in e2e.items():
        print(f"  {k:<28} {v:>14.6g} {E2E_UNITS[k]}")
    print(f"  {'read_s_p50 (not gated)':<28} "
          f"{statistics.median(res.read_s):>14.6g} s")
    t = tail(res.batch_s)
    if t is None:
        print(f"  batch_s tail: n/a ({len(res.batch_s)} batches, "
              f"needs 20)")
    else:
        print(f"  batch_s_p{t[0]:.0f}: {t[1]:.4f} s over {t[2]} batches")
    for k, v in res.detail.items():
        print(f"  {k}: {v}")
    share = res.failed / max(res.attempted, 1)
    causes = Counter(o["fail"] for o in res.ops if "fail" in o)
    print(f"  ops failed {res.failed}/{res.attempted} ({100 * share:.1f}%)"
          + "".join(f"  {k}: {v}" for k, v in sorted(causes.items())))
    bad = [name for name, ok, _ in res.checks if not ok]
    print(f"  oracle: {'PASS' if not bad else 'FAIL ' + ', '.join(bad)} "
          f"({len(res.checks)} checks)")
    if layers is not None:
        for k, v in layers.items():
            print(f"  {k:<40} {v:>14.6g} {LAYER_UNITS[k]}")


if __name__ == "__main__":
    sys.exit(main())
