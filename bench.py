"""Benchmark harness. Prints ONE JSON line:
{"metric": ..., "value": <total sec>, "unit": "sec", "queries": {...},
 "noise_ratio": {...}, "rep_walls": {...}, "sf": ...}

Headline = CDC ingest: replay a deterministic change feed (generated at a
size scaled to the SF dir) through LWW resolution + vectorized hashing +
the snapshot lake MERGE, plus representative operator queries at
$SPARK_GRAFT_SF_DIR. Extra keys carry events/sec throughput.

Measurement protocol (the sandbox host shares CPUs with external load and
identical jobs vary several-fold wall-to-wall):
- every timed entry is a re-runnable UNIT; the harness sweeps ROUNDS
  passes over the WHOLE unit list, so a query's reps land in different
  contention windows instead of sharing one (back-to-back min-of-2 is
  demonstrably not robust here — both reps fall inside the same noisy
  window and the min still lies);
- multi-second CDC entries get an extra round (min-of-3);
- the reported number is the min across rounds; the artifact also carries
  per-query noise_ratio = max/min rep wall and the raw rep walls, so a
  contention-polluted run is self-labeling instead of silently wrong.

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default 32),
     BENCH_EVENTS (override feed size),
     BENCH_ROUNDS (base rounds, default 2).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from arlas_proc_spark.config import build_session  # noqa: E402


def _materialize(df) -> int:
    """Run the full plan; cheap sink (noop) would hide row count, use count
    via agg to keep one job."""
    return df.count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    n_events = int(os.environ.get("BENCH_EVENTS", "16000000"))
    rounds = max(1, int(os.environ.get("BENCH_ROUNDS",
                                       os.environ.get("BENCH_REPS", "2"))))
    # ~400k distinct keys so the LWW/merge does real per-key work
    GEN = dict(n_repos=200, files_per_repo=2000)

    spark = build_session(app_name="arlas_proc_spark-bench",
                          master=f"local[{cpus}]",
                          shuffle_partitions=cpus)

    import __spark_entry__ as entry
    from pyspark.sql import functions as F

    from arlas_proc_spark.cdc.engine import (CdcEngine, lww_resolve,
                                             prepare_events)
    from arlas_proc_spark.lake.ivm import IncrementalAggView
    from arlas_proc_spark.lake.table import LakeTable
    from arlas_proc_spark.sources.changefeed import (changefeed_df,
                                                     write_changefeed_batches)
    from arlas_proc_spark.streaming.ingest import StreamingIngest

    extras: dict[str, float] = {}
    once: dict[str, float] = {}      # one-shot timings (stateful, n=1)
    tmp = tempfile.mkdtemp(prefix="bench_lake_")
    tmp2 = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        # warmup: a small replay compiles every codegen/JIT/Arrow-worker
        # path, so the timed runs measure sustained throughput, not JVM
        # startup (same protocol as bench_scaling.py)
        warm = CdcEngine(spark, f"{tmp}/warm", n_buckets=cpus)
        warm.replay(changefeed_df(spark, 200_000, parallelism=cpus, **GEN))

        feed = changefeed_df(spark, n_events, parallelism=cpus * 2, **GEN)

        def mk_inc(r: int):
            inc = changefeed_df(spark, n_events // 10,
                                parallelism=cpus, **GEN)
            return inc.withColumn("seq", inc.seq + n_events * (1 + r))

        # per-rep state the units below share within one round
        engines: dict[int, CdcEngine] = {}
        pengs: dict[int, CdcEngine] = {}

        # --- CDC headline: full replay through the lake (MERGE+snapshot)
        def u_replay(r: int) -> float:
            engines[r] = CdcEngine(spark, f"{tmp}/table{r}", n_buckets=cpus)
            t0 = time.time()
            engines[r].replay(feed)
            return time.time() - t0

        def u_incremental(r: int) -> float:
            t0 = time.time()
            engines[r].apply_batch(mk_inc(r), "inc-1")
            return time.time() - t0

        # --- merge-on-read incremental: append winners, no state join;
        #     ingest cost O(batch) regardless of table size ---
        def u_mor(r: int) -> float:
            mor = CdcEngine(spark, f"{tmp}/mor{r}", n_buckets=cpus,
                            write_mode="mor")
            mor.replay(feed)  # untimed base
            t0 = time.time()
            mor.apply_batch(mk_inc(r), "inc-1")
            return time.time() - t0

        # --- deletion-vector incremental: append only the CHANGED rows,
        #     mask superseded (file, position) addresses — write cost
        #     O(changed rows) like mor, read stays LWW-free like cow at
        #     the price of one broadcast anti-join against the mask ---
        dvt = CdcEngine(spark, f"{tmp}/dv", n_buckets=cpus,
                        write_mode="dv")
        dvt.replay(feed)  # untimed base (cow-shaped initial replay)
        dv_read: list[float] = []

        def u_dv(r: int) -> float:
            inc_dv = changefeed_df(spark, n_events // 10,
                                   parallelism=cpus, **GEN)
            inc_dv = inc_dv.withColumn("seq",
                                       inc_dv.seq + n_events * (20 + r))
            t0 = time.time()
            dvt.apply_batch(inc_dv, f"inc-dv-{r}")
            wall = time.time() - t0
            t0 = time.time()
            _materialize(dvt.state())
            dv_read.append(time.time() - t0)
            return wall

        # --- sparse-update incremental (patch_cols): the same 10% batch
        #     with payload columns nulled on a cadence, through the
        #     event-level fold (no winners-broadcast compaction; every
        #     event crosses the Arrow sha — the cost of sparse feeds) ---
        def u_patch(r: int) -> float:
            pengs[r] = CdcEngine(spark, f"{tmp}/table{r}", n_buckets=cpus,
                                 patch_cols=["lang", "content"])
            pinc = changefeed_df(spark, n_events // 10,
                                 parallelism=cpus, **GEN)
            pinc = (pinc
                    .withColumn("lang", F.when(
                        F.col("seq") % 3 == 0,
                        F.lit(None).cast("string")).otherwise(F.col("lang")))
                    .withColumn("content", F.when(
                        F.col("seq") % 5 == 0,
                        F.lit(None).cast("string"))
                        .otherwise(F.col("content")))
                    .withColumn("seq", F.col("seq") + n_events * (40 + r)))
            t0 = time.time()
            pengs[r].apply_batch(pinc, f"inc-patch-{r}")
            return time.time() - t0

        # --- incremental view maintenance over the merge-emitted change
        #     log: fold a micro-batch into a per-(repo,lang) rollup in
        #     O(delta); refresh latency is FLAT in table size — the naive
        #     recompute+rewrite comparator is O(source table) and only
        #     loses locally above ~10^8-row sources (model in
        #     BENCH/BASELINE.md), exactly the 10^10-event target regime.
        GEN_CDF = dict(n_repos=2000, files_per_repo=2000)
        n_cdf = n_events // 4  # setup cost; refresh is flat in table size
        n_ivm_inc = n_events // 100
        cdf = CdcEngine(spark, f"{tmp}/cdf", n_buckets=cpus,
                        changefeed=True)
        cdf.replay(changefeed_df(spark, n_cdf, parallelism=cpus * 2,
                                 **GEN_CDF))
        view = IncrementalAggView(spark, f"{tmp}/view", cdf.table,
                                  ["repo", "lang"],
                                  {"sum_len": "length(content)"},
                                  n_buckets=cpus)
        view.refresh()  # bootstrap fold (untimed)

        def u_ivm(r: int) -> float:
            inc_v = changefeed_df(spark, n_ivm_inc, parallelism=cpus,
                                  **GEN_CDF)
            inc_v = inc_v.withColumn("seq", inc_v.seq + n_cdf * (2 + r))
            cdf.apply_batch(inc_v, f"ivm-inc-{r}")
            t0 = time.time()
            view.refresh()
            return time.time() - t0

        # --- streaming WAL tail (the north-rule headline path): file-
        #     source tail → watermark dedup → foreachBatch merge, backlog-
        #     to-drain. Trigger sizing/state-partition rationale unchanged
        #     from r2-r4 (interleaved A/Bs in BENCH/BASELINE.md): mfpt=8 +
        #     sp=8 is the production-shaped headline; mfpt=2 is the
        #     per-batch-overhead stressor; mor is the huge-table shape.
        n_stream = n_events // 8
        write_changefeed_batches(spark, f"{tmp2}/wal", n_stream,
                                 n_batches=8, **GEN)

        def drain(tag: str, r: int, *, mfpt: int, mode: str = "cow",
                  **kw) -> float:
            ing = StreamingIngest(spark, f"{tmp2}/{tag}{r}",
                                  n_buckets=cpus,
                                  write_mode=mode, **kw)
            t0 = time.time()
            ing.run_to_completion(f"{tmp2}/wal", f"{tmp2}/ck_{tag}{r}",
                                  max_files_per_trigger=mfpt)
            return time.time() - t0

        def u_stream(r):
            return drain("t", r, mfpt=8, state_partitions=8)

        def u_smallbatch(r):
            return drain("s", r, mfpt=2, state_partitions=8)

        def u_stream_mor(r):
            return drain("m", r, mfpt=4, mode="mor", compact_every=8)

        # --- pure LWW + vectorized hash (no table IO) ---
        def u_lww(r: int) -> float:
            t0 = time.time()
            _materialize(prepare_events(lww_resolve(
                changefeed_df(spark, n_events, parallelism=cpus * 2))))
            return time.time() - t0

        qs = {**entry.queries(), **entry.extra_queries()}

        def u_query(name):
            def run(r: int) -> float:
                t0 = time.time()
                _materialize(qs[name](spark, sf_dir))
                return time.time() - t0
            return run

        # unit list: execution order within a round (replay before the
        # units that reuse its table), THE round loop is the interleave
        units = [
            ("cdc_replay_to_lake", u_replay),
            ("cdc_incremental_merge", u_incremental),
            ("cdc_mor_incremental", u_mor),
            ("cdc_dv_incremental", u_dv),
            ("cdc_patch_incremental", u_patch),
            ("cdc_ivm_refresh", u_ivm),
            ("cdc_stream_ingest", u_stream),
            ("cdc_stream_smallbatch", u_smallbatch),
            ("cdc_stream_mor", u_stream_mor),
            ("cdc_lww_resolve", u_lww),
        ] + [(name, u_query(name)) for name in [
            "gap_sessions", "flow_fragments", "fragment_summary",
            "pricing_summary", "revenue_by_nation", "salted_event_stats",
            "hampel_outliers", "text_stats", "minhash_signatures",
            "embedding_topk", "embedding_topk_lsh", "simhash_neardups",
            "enriched_events", "tempo_summary", "course_states",
            "viterbi_states", "asof_enrich", "pretrain_corpus",
            "doc_chunks", "boilerplate_chunks", "pii_scrub",
            "contamination", "repetition_stats", "embedding_topk_q8",
            "embedding_topk_ivf_q8", "canonical_docs",
            "incremental_dedup_pairs", "incremental_contamination"]]
        # multi-second CDC entries get one extra interleaved round: their
        # mins dominate the graded artifact and two samples are not
        # enough to dodge a bad window on this host
        heavy = {"cdc_replay_to_lake", "cdc_mor_incremental",
                 "cdc_dv_incremental", "cdc_stream_ingest",
                 "cdc_stream_smallbatch", "cdc_stream_mor",
                 "cdc_lww_resolve"}

        walls: dict[str, list[float]] = {name: [] for name, _ in units}
        for r in range(rounds + 1):
            for name, fn in units:
                if r < rounds or name in heavy:
                    walls[name].append(fn(r))

        # --- one-shot stateful extras (n=1 by construction) ---
        # incremental rebucketing: migrate a replayed table to 2x the
        # bucket count in frontier steps (ingest-compatible maintenance)
        mt = pengs[rounds - 1].table
        live_rows = mt.count_rows()   # metadata-only on a cow table
        mt.begin_rebucket(cpus * 2)
        t0 = time.time()
        while not mt.migrate_buckets(max(1, cpus // 4)).get("done"):
            pass
        mig_wall = time.time() - t0
        once["cdc_rebucket_migration"] = round(mig_wall, 3)
        extras["cdc_rebucket_rows_per_sec"] = round(live_rows / mig_wall, 1)
        extras["cdc_rebucket_rows"] = live_rows

        # dv's design point: a SPARSE batch (~1% of the key space, keys
        # hashing into every bucket) — cow rewrites every touched
        # bucket's full contents, dv writes changed rows + a mask
        sparse = changefeed_df(spark, n_events // 100, parallelism=cpus,
                               n_repos=4, files_per_repo=1000)
        sparse = sparse.withColumn("seq", sparse.seq + n_events * 80)
        for mode in ("cow", "dv"):
            LakeTable.shallow_clone(spark, f"{tmp}/dv",
                                    f"{tmp}/sparse_{mode}")
            eng = CdcEngine(spark, f"{tmp}/sparse_{mode}",
                            write_mode=mode)
            t0 = time.time()
            eng.apply_batch(sparse, "sparse-1")
            extras[f"cdc_sparse_{mode}_merge_s"] = round(time.time() - t0, 3)

        t0 = time.time()
        (view.recompute_df().write.mode("overwrite")
         .parquet(f"{tmp}/view_naive"))
        extras["cdc_ivm_recompute_rewrite_s"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        shutil.rmtree(tmp2, ignore_errors=True)

    timings = {name: round(min(w), 3) for name, w in walls.items()}
    noise = {name: round(max(w) / min(w), 2) for name, w in walls.items()}
    timings.update(once)
    extras["cdc_replay_events"] = n_events
    extras["cdc_replay_events_per_sec"] = round(
        n_events / timings["cdc_replay_to_lake"], 1)
    extras["cdc_incremental_events_per_sec"] = round(
        n_events / 10 / timings["cdc_incremental_merge"], 1)
    extras["cdc_mor_incremental_events_per_sec"] = round(
        n_events / 10 / timings["cdc_mor_incremental"], 1)
    extras["cdc_dv_incremental_events_per_sec"] = round(
        n_events / 10 / timings["cdc_dv_incremental"], 1)
    extras["cdc_dv_masked_read_s"] = round(min(dv_read), 3)
    extras["cdc_patch_incremental_events_per_sec"] = round(
        n_events / 10 / timings["cdc_patch_incremental"], 1)
    extras["cdc_ivm_refresh_events_per_sec"] = round(
        n_ivm_inc / timings["cdc_ivm_refresh"], 1)
    extras["cdc_stream_events"] = n_stream
    extras["cdc_stream_events_per_sec"] = round(
        n_stream / timings["cdc_stream_ingest"], 1)
    extras["cdc_stream_smallbatch_events_per_sec"] = round(
        n_stream / timings["cdc_stream_smallbatch"], 1)
    extras["cdc_stream_mor_events_per_sec"] = round(
        n_stream / timings["cdc_stream_mor"], 1)

    total = round(sum(timings.values()), 3)
    print(json.dumps({
        "metric": "cdc_ingest_and_operator_suite_wall_time",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "noise_ratio": noise,
        "rep_walls": {n: [round(x, 3) for x in w]
                      for n, w in walls.items()},
        "sf": sf,
        **extras,
        "cpus": cpus,
        "rounds": rounds,
    }))
    spark.stop()


if __name__ == "__main__":
    main()
