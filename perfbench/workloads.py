"""The four benchmark workloads.

Every workload is a closed loop: the next operation starts when the
previous one has finished, until the run's measuring time is used up.
Inputs are generated from the seed during set-up and written as parquet;
the engine only ever sees those files. The engine runs with its
constructor defaults (copy-on-write, metrics on, 16 buckets).

Each workload returns a ``Result`` holding its samples, the oracle
verdicts and, in traced runs, extra per-layer figures.
"""

from __future__ import annotations

import itertools
import os
import statistics
import time
import traceback
from dataclasses import dataclass, field

from oracle import check_table, same_rows

# change-feed shape shared by replay, upsert and stream: 30% of events hit
# one hot repo, every 17th event is delivered twice (the generator's own
# defaults); files_per_repo sets the key count, so about 5 events per key
GEN = dict(n_repos=50, hot_pct=30, dup_mod=17)

# compaction trigger for the dv and mor tables of the upsert workload:
# the file_counts() rule StreamingIngest(compact_every=...) applies. With
# 2, every batch compacts, after the read that follows its commit (which
# so sees the generation the batch added): every round is the same work.
COMPACT_EVERY = 2
READS = 1  # full reads after each replay op or drain
# Warm-up. The first op of a run pays the JVM's cold start (class
# loading, python workers, the first JIT): 11-16 s at local[2] on 4
# vCPUs whatever its size, so replay and stream spend it on an input an
# eighth of full size (COLD_SHARE), before their set-ups, which are so
# all warm. Then WARM_OPS ops on full-size input: after the first of
# those, the next replay op was still 4-85% slower than the ones after
# it. The timings come from the loop's first ``timed_ops`` ops (SCALES),
# and the loop runs at least that many, so every run times the same op
# positions; later ops run until ``--seconds`` are up and are checked
# like the others.
COLD_SHARE = 8
WARM_OPS = {"replay": 2, "stream": 1}

SCALES = {
    "full": {
        "replay": dict(events=400_000, files_per_repo=1_600, setups=3,
                       timed_ops=4),
        "upsert": dict(base_events=30_000, batch_events=1_000,
                       files_per_repo=300, batches=12, setups=2),
        "stream": dict(seg_events=4_000, segments=3, files_per_repo=800,
                       setups=3, timed_ops=2),
        "index_refresh": dict(docs=1_000, vecs=500, dim=32, rounds=40,
                              setups=1),
    },
    "tiny": {
        "replay": dict(events=20_000, files_per_repo=80, setups=2,
                       timed_ops=4),
        "upsert": dict(base_events=10_000, batch_events=500,
                       files_per_repo=40, batches=6, setups=2),
        "stream": dict(seg_events=1_000, segments=3, files_per_repo=40,
                       setups=2, timed_ops=2),
        "index_refresh": dict(docs=300, vecs=200, dim=8, rounds=6,
                              setups=1),
    },
}


@dataclass
class Ctx:
    spark: object
    con: object            # DuckDB connection for the oracles
    work: str              # scratch directory of this run
    seed: int
    seconds: float
    cores: int
    scale: dict
    rec: object = None     # SpanRecorder in traced runs
    counters: object = None
    trace: bool = False


@dataclass
class Result:
    setup_s: list = field(default_factory=list)
    batch_s: list = field(default_factory=list)    # one per batch
    read_s: list = field(default_factory=list)
    op_rate: list = field(default_factory=list)    # events/s per op
    events: int = 0
    bytes: int = 0
    checks: list = field(default_factory=list)     # (name, ok, detail)
    ops: list = field(default_factory=list)        # one record per op
    detail: dict = field(default_factory=dict)     # printed, not gated
    layers: dict = field(default_factory=dict)     # extra per-layer values
    loop_start: float = 0.0                         # perf_counter

    @property
    def attempted(self) -> int:
        return sum(o["weight"] for o in self.ops)

    @property
    def failed(self) -> int:
        return sum(o["weight"] for o in self.ops if "fail" in o)


def fail(ops, cause: str) -> None:
    """Mark ``ops`` failed. An op keeps its first cause, so an op that
    fails for several reasons still counts once."""
    for o in ops:
        o.setdefault("fail", cause)


def seq_base(seed: int, slot: int, stride: int) -> int:
    """First WAL position of input ``slot``: events are pure functions of
    their seq, so the seed picks a disjoint stretch of the feed."""
    return 1_000_000 + (seed % 100_000) * 50 * stride + slot * stride


def du(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def rebased(table) -> set:
    """Batch ids of the commits of ``table`` that lost the snapshot race
    and were rebased."""
    return {str(m.get("batch_id")) for m in table.lineage()
            if m.get("rebased_commit")}


def files_per_bucket_max(tables) -> int:
    return max((max(t.file_counts().values(), default=0) for t in tables),
               default=0)


def noop_read(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Loop:
    """Closed-loop op runner: times each op, marks Spark counters around
    it, alternates tracing on and off in traced runs (so the run measures
    its own tracing overhead) and counts failures."""

    def __init__(self, ctx: Ctx, res: Result):
        self.ctx, self.res = ctx, res
        res.loop_start = time.perf_counter()
        self.deadline = time.perf_counter() + ctx.seconds
        self.rounds = 0
        self.traced = False

    def more(self, min_rounds: int = 0) -> bool:
        """Whether to start another unit: until the measuring time is up,
        and in any case until ``min_rounds`` units have started, so every
        run times the same op positions however fast the host is."""
        return (time.perf_counter() < self.deadline
                or self.rounds < min_rounds)

    def next_round(self) -> None:
        """Start a unit of work (an op, a batch across the modes, or a
        drain). Traced runs trace half the units in the order on, off,
        off, on, so a trend over the run cancels out of the overhead."""
        self.traced = self.ctx.trace and self.rounds % 4 in (0, 3)
        self.rounds += 1

    def op(self, kind: str, fn, *, weight: int = 1, **tags):
        """Run ``fn``, which stands for ``weight`` attempted operations;
        return (ok, wall_s, value). The op's record, with ``tags``, is
        ``self.last``."""
        ctx = self.ctx
        traced = self.traced
        n = next(_OP_IDS)
        if ctx.rec is not None:
            ctx.rec.active = traced
            ctx.rec.op_id = n
        a = ctx.counters.mark()
        t0 = time.perf_counter()
        ok, out = True, None
        try:
            out = fn()
        except Exception:
            traceback.print_exc()
            ok = False
        wall = time.perf_counter() - t0
        b = ctx.counters.mark()
        if ctx.rec is not None:
            ctx.rec.active = False
        self.last = {"op": n, "kind": kind, "traced": traced,
                     "wall": wall, "marks": (a, b), "weight": weight, **tags}
        if not ok:
            self.last["fail"] = "raised"
        self.res.ops.append(self.last)
        return ok, wall, out


# op ids are unique in the process: spans name their op by id, and a
# traced run may run a second workload
_OP_IDS = itertools.count()


def _timed(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def _setups(res: Result, n: int, make, warm, cold=None) -> None:
    """Run ``cold`` (untimed), set up ``n`` times, timing each, then run
    ``warm`` (untimed): ``setup_s`` is the median of the timed set-ups,
    and the loop starts on a warm JVM (see COLD_SHARE)."""
    if cold is not None:
        res.detail["cold_s"] = round(_timed(cold), 2)
    for k in range(n):
        res.setup_s.append(_timed(lambda: make(k)))
    res.detail["warm_s"] = round(_timed(warm), 2)
    res.detail["setups_s"] = [round(x, 2) for x in res.setup_s]


def _write_feed(ctx: Ctx, path: str, start: int, n: int, fpr: int) -> None:
    from arlas_proc_spark.sources.changefeed import changefeed_df
    (changefeed_df(ctx.spark, start + n, start=start, files_per_repo=fpr,
                   parallelism=ctx.cores, **GEN)
     .write.mode("overwrite").parquet(path))


# --------------------------------------------------------------- replay
def replay(ctx: Ctx) -> Result:
    """Bootstrap a multi-hundred-thousand-event WAL into an empty table.
    Per-event layers do the work: WAL scan, LWW argmax, the Arrow sha256
    UDF; the merge join and commit are nearly free."""
    from arlas_proc_spark.cdc.engine import CdcEngine
    sc, res = ctx.scale, Result()
    n, fpr = sc["events"], sc["files_per_repo"]
    wals = [f"{ctx.work}/replay/wal{k}" for k in range(sc["setups"])]

    def cold():
        from arlas_proc_spark.sources.changefeed import changefeed_df
        start = seq_base(ctx.seed, sc["setups"], n)
        CdcEngine(ctx.spark, f"{ctx.work}/replay/cold").replay(changefeed_df(
            ctx.spark, start + n // COLD_SHARE, start=start,
            files_per_repo=max(fpr // COLD_SHARE, 1),
            parallelism=ctx.cores, **GEN))

    def warm():
        for k in range(WARM_OPS["replay"]):
            t = bootstrap(ctx.spark, f"{ctx.work}/replay/warm{k}", wals[k])
            noop_read(CdcEngine(ctx.spark, t).state())

    _setups(res, sc["setups"], lambda k: _write_feed(
        ctx, wals[k], seq_base(ctx.seed, k, n), n, fpr), warm, cold)

    loop, tables = Loop(ctx, res), []
    while loop.more(sc["timed_ops"]):
        i = loop.rounds
        loop.next_round()
        ok, wall, t = loop.op("replay", lambda: bootstrap(
            ctx.spark, f"{ctx.work}/replay/t{i}", wals[i % len(wals)]))
        if not ok:
            continue
        tables.append((loop.last, wals[i % len(wals)], t))
        loop.last["rate"] = n / wall
        if len(res.op_rate) < sc["timed_ops"]:
            res.batch_s.append(wall)
            res.op_rate.append(n / wall)
        res.events += n
        res.read_s.extend(_timed(lambda: noop_read(
            CdcEngine(ctx.spark, t).state())) for _ in range(READS))
        res.bytes += du(t)

    for i, (o, wal, t) in enumerate(tables):
        eng = CdcEngine(ctx.spark, t)
        if rebased(eng.table):
            fail([o], "commit_retry")
        v = check_table(ctx.con, eng.state(), [wal])
        res.checks.append((f"replay[{i}]", v["ok"], v))
        if not v["ok"]:
            fail([o], "oracle")
    res.detail["replay_s"] = [round(o["wall"], 3) for o, _, _ in tables]
    res.layers["lake.files_per_bucket_max"] = files_per_bucket_max(
        [CdcEngine(ctx.spark, t).table for _, _, t in tables])
    res.detail["wal"] = wals[0]
    if ctx.trace:
        res.layers.update(_replay_probes(ctx, wals[0], n))
    return res


def bootstrap(spark, table: str, wal: str) -> str:
    """Replay the parquet WAL ``wal`` into a new table at ``table``."""
    from arlas_proc_spark.cdc.engine import CdcEngine
    CdcEngine(spark, table).replay(spark.read.parquet(wal))
    return table


def _replay_probes(ctx: Ctx, wal: str, n: int) -> dict:
    """Time the public builders of the replay path into a noop sink, each
    probe adding one layer to the previous; a layer's self time is the
    difference of medians."""
    from arlas_proc_spark.cdc.engine import lww_compact, prepare_events
    read = lambda: ctx.spark.read.parquet(wal)  # noqa: E731
    probes = [lambda: read(),
              lambda: lww_compact(read()),
              lambda: prepare_events(lww_compact(read()))]
    med = []
    for p in probes:
        med.append(statistics.median(_timed(lambda: noop_read(p()))
                                     for _ in range(3)))
    hashed = lww_compact(read()).count()
    return {"sources.wal_scan_s": med[0],
            "cdc.lww_compact_s": max(med[1] - med[0], 0.0),
            "functions.sha256_s": max(med[2] - med[1], 0.0),
            "functions.rows_hashed": hashed,
            "cdc.keys_per_event": hashed / n}


# --------------------------------------------------------------- upsert
MODES = ("cow", "dv", "mor")


def _upsert_tables(ctx: Ctx, root: str, start: int, nb: int, ne: int,
                   n_batches: int, fpr: int) -> None:
    """Base WAL, batch WAL (partitioned by batch number), the replayed
    base table and one clone of it per write mode."""
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.lake.table import LakeTable
    from arlas_proc_spark.sources.changefeed import changefeed_df
    from pyspark.sql import functions as F
    _write_feed(ctx, f"{root}/base_wal", start, nb, fpr)
    (changefeed_df(ctx.spark, start + nb + ne * n_batches, start=start + nb,
                   files_per_repo=fpr, parallelism=ctx.cores, **GEN)
     .withColumn("b", ((F.col("seq") - start - nb) / ne).cast("int"))
     .write.mode("overwrite").partitionBy("b").parquet(f"{root}/batches"))
    CdcEngine(ctx.spark, f"{root}/base").replay(
        ctx.spark.read.parquet(f"{root}/base_wal"))
    for m in MODES:
        LakeTable.shallow_clone(ctx.spark, f"{root}/base", f"{root}/{m}")


def upsert(ctx: Ctx) -> Result:
    """Sparse batches against a replayed base table, each applied to three
    zero-copy clones of that base, one per write mode; each commit is
    followed by a full live-state read of the same table."""
    from arlas_proc_spark.cdc.engine import CdcEngine
    sc, res = ctx.scale, Result()
    nb, ne, fpr = sc["base_events"], sc["batch_events"], sc["files_per_repo"]
    roots = [f"{ctx.work}/upsert/s{k}" for k in range(sc["setups"])]

    def make(k: int) -> None:
        _upsert_tables(ctx, roots[k],
                       seq_base(ctx.seed, k, nb + ne * sc["batches"]),
                       nb, ne, sc["batches"], fpr)

    def warm() -> None:
        # the first use of each mode's commit, read and compaction pays
        # JIT and python-worker start-up: spend it on the first set-up's
        # clones, the loop runs on the last set-up's
        for m in MODES:
            eng = CdcEngine(ctx.spark, f"{roots[0]}/{m}", write_mode=m)
            eng.apply_batch(
                ctx.spark.read.parquet(f"{roots[0]}/batches/b=0"), "w")
            noop_read(eng.state())
            if m != "cow":
                eng.table.compact(max_files_per_bucket=1)

    _setups(res, sc["setups"], make, warm)
    root = roots[-1]
    engines = {m: CdcEngine(ctx.spark, f"{root}/{m}", write_mode=m)
               for m in MODES}
    per_mode = {m: {"commit_s": [], "read_s": [], "bytes": 0, "ops": []}
                for m in MODES}
    compact_s = []

    def compact(m: str) -> tuple[bool, float]:
        """Compact mode ``m`` on the ``file_counts()`` trigger; compaction
        is its own op, its time is charged to the mode's commit."""
        t = engines[m].table
        if m == "cow" or all(c < COMPACT_EVERY
                             for c in t.file_counts().values()):
            return True, 0.0
        bid = f"autocompact-v{t.snapshot()['version']}"
        ok, wall, _ = loop.op(f"compact.{m}", lambda: t.compact(
            max_files_per_bucket=COMPACT_EVERY - 1, batch_id=bid),
            batches={bid})
        per_mode[m]["ops"].append(loop.last)
        compact_s.append(wall)
        return ok, wall

    loop, applied = Loop(ctx, res), []
    for r in range(sc["batches"]):
        if not loop.more(1):
            break
        bpath = f"{root}/batches/b={r}"
        df = ctx.spark.read.parquet(bpath)
        loop.next_round()
        round_commit = round_read = 0.0
        all_ok = True
        for m in MODES:
            pm = per_mode[m]
            before = du(f"{root}/{m}")
            ok, wall, _ = loop.op(f"commit.{m}", lambda: engines[m]
                                  .apply_batch(df, f"b{r}"),
                                  batches={f"b{r}"})
            pm["ops"].append(loop.last)
            rd = _timed(lambda: noop_read(engines[m].state()))
            if ok:
                ok, cwall = compact(m)
                wall += cwall
            all_ok &= ok
            grown = du(f"{root}/{m}") - before
            pm["commit_s"].append(wall)
            pm["read_s"].append(rd)
            pm["bytes"] += grown
            round_commit += wall
            round_read += rd
            res.bytes += grown
        applied.append(bpath)
        if not all_ok:
            continue
        res.batch_s.append(round_commit)
        res.read_s.append(round_read)
        res.op_rate.append(len(MODES) * ne / round_commit)
        res.events += len(MODES) * ne

    wal = [f"{root}/base_wal"] + applied
    for m in MODES:
        lost = rebased(engines[m].table)
        fail([o for o in per_mode[m]["ops"] if o["batches"] & lost],
             "commit_retry")
        v = check_table(ctx.con, engines[m].state(), wal)
        res.checks.append((f"upsert.{m}", v["ok"], v))
        if not v["ok"]:
            fail(per_mode[m]["ops"], "oracle")
    res.layers["lake.files_per_bucket_max"] = files_per_bucket_max(
        [e.table for e in engines.values()])
    n_batches = max(len(applied), 1)
    res.layers["lake.compact_s"] = statistics.median(compact_s or [0])
    res.layers["lake.compactions"] = len(compact_s) / n_batches
    for m, pm in per_mode.items():
        res.detail[m] = {
            "commit_s_p50": statistics.median(pm["commit_s"] or [0]),
            "read_s_p50": statistics.median(pm["read_s"] or [0]),
            "write_bytes_per_event": pm["bytes"] / (ne * n_batches)}
        res.layers[f"lake.{m}.commit_s"] = res.detail[m]["commit_s_p50"]
        res.layers[f"lake.{m}.read_s"] = res.detail[m]["read_s_p50"]
        res.layers[f"lake.{m}.bytes_per_event"] = \
            res.detail[m]["write_bytes_per_event"]
    res.detail["compactions"] = len(compact_s)
    return res


# --------------------------------------------------------------- stream
def stream(ctx: Ctx) -> Result:
    """StreamingIngest with its defaults drains a backlog of small WAL
    segments into a fresh table, one segment per trigger (availableNow);
    per-batch fixed costs dominate."""
    from arlas_proc_spark.streaming.ingest import StreamingIngest
    from arlas_proc_spark.sources.changefeed import changefeed_df
    sc, res = ctx.scale, Result()
    seg, n_seg, fpr = sc["seg_events"], sc["segments"], sc["files_per_repo"]
    backlogs = [f"{ctx.work}/stream/wal{k}" for k in range(sc["setups"])]

    def write_backlog(path: str, start: int, n_events: int, segments: int,
                      fpr: int) -> None:
        for b in range(segments):
            s = start + b * n_events
            (changefeed_df(ctx.spark, s + n_events, start=s,
                           files_per_repo=fpr, parallelism=ctx.cores, **GEN)
             .coalesce(1).write.mode("overwrite")
             .parquet(f"{path}/batch_{b:05d}"))

    def setup(k: int) -> None:
        write_backlog(backlogs[k], seq_base(ctx.seed, k, seg * n_seg), seg,
                      n_seg, fpr)

    def drain(name: str, wal: str):
        ing = StreamingIngest(ctx.spark, f"{ctx.work}/stream/t{name}")
        q = ing.start(wal, f"{ctx.work}/stream/c{name}",
                      max_files_per_trigger=1)
        q.awaitTermination(120)
        if q.isActive:
            q.stop()
            raise TimeoutError("stream did not drain its backlog")
        return ing, q.recentProgress

    def cold():
        wal = f"{ctx.work}/stream/cold_wal"
        write_backlog(wal, seq_base(ctx.seed, sc["setups"], seg * n_seg),
                      seg // COLD_SHARE, 1, max(fpr // COLD_SHARE, 1))
        drain("cold", wal)

    def warm():
        for k in range(WARM_OPS["stream"]):
            drain(f"warm{k}", backlogs[k])

    _setups(res, sc["setups"], setup, warm, cold)
    loop, drained, progress = Loop(ctx, res), [], []
    while loop.more(sc["timed_ops"]):
        i = loop.rounds
        loop.next_round()
        ok, wall, out = loop.op("drain", lambda: drain(
            str(i), backlogs[i % len(backlogs)]), weight=n_seg)
        if not ok:
            continue
        ing, prog = out
        drained.append((loop.last, backlogs[i % len(backlogs)], ing))
        trig = [p for p in prog if p["numInputRows"] > 0]
        progress.extend(trig)
        events = sum(p["numInputRows"] for p in trig)
        res.events += events
        if len(res.op_rate) < sc["timed_ops"]:
            res.batch_s.extend(p["durationMs"]["triggerExecution"] / 1000
                               for p in trig)
            res.op_rate.append(events / wall)
        res.read_s.extend(_timed(lambda: noop_read(ing.state()))
                          for _ in range(READS))
        res.bytes += du(f"{ctx.work}/stream/t{i}")

    for i, (o, d, ing) in enumerate(drained):
        if rebased(ing.engine.table):
            fail([o], "commit_retry")
        v = check_table(ctx.con, ing.state(),
                        [f"{d}/batch_{b:05d}" for b in range(n_seg)])
        res.checks.append((f"stream[{i}]", v["ok"], v))
        if not v["ok"]:
            fail([o], "oracle")
    res.detail["trigger_s"] = [
        round(p["durationMs"]["triggerExecution"] / 1000, 3)
        for p in progress]
    res.layers["lake.files_per_bucket_max"] = files_per_bucket_max(
        [ing.engine.table for _, _, ing in drained])
    if ctx.trace:
        res.layers.update(_stream_layers(progress))
    return res


def _stream_layers(progress: list[dict]) -> dict:
    def med(f):
        vals = [f(p) for p in progress]
        vals = [v for v in vals if v is not None]
        return statistics.median(vals) if vals else 0.0

    def state(p, key):
        ops = p.get("stateOperators") or []
        return ops[0].get(key) if ops else None

    def dropped(p):
        ops = p.get("stateOperators") or []
        if not ops:
            return None
        return (ops[0].get("numDroppedDuplicateRows")
                or (ops[0].get("customMetrics") or {})
                .get("numDroppedDuplicateRows", 0))

    return {
        "streaming.trigger_ms": med(lambda p: p["durationMs"]
                                    .get("triggerExecution")),
        "streaming.add_batch_ms": med(lambda p: p["durationMs"]
                                      .get("addBatch")),
        "streaming.overhead_ms": med(
            lambda p: p["durationMs"].get("triggerExecution", 0)
            - p["durationMs"].get("addBatch", 0)),
        "streaming.state_commit_ms": med(lambda p: state(p, "commitTimeMs")),
        "streaming.state_update_ms": med(
            lambda p: state(p, "allUpdatesTimeMs")),
        "streaming.state_rows": med(lambda p: state(p, "numRowsTotal")),
        "streaming.state_bytes": med(lambda p: state(p, "memoryUsedBytes")),
        "streaming.dup_rows_dropped": med(dropped),
    }


# -------------------------------------------------------- index_refresh
def _gen_documents(con, path: str, seed: int, n_docs: int, rounds: int,
                   stride: int) -> int:
    """Seeded documents plus ``rounds`` revise/delete batches, as parquet
    partitioned by round (round 0 is the bootstrap insert). Returns the
    change rows per revision round."""
    vocab = ("spark line column order small sort fast value scan hash "
             "vector part query agg table slow filter customer stream key "
             "group the batch join index merge state commit read write "
             "shard lake").split()
    words = "[" + ", ".join(f"'{w}'" for w in vocab) + "]"
    per_round = max(n_docs // 20, 4)
    con.execute(f"""
    COPY (
      WITH base AS (
        SELECT d AS doc_id,
               array_to_string(list_transform(
                 range((8 + hash({seed}, d, -1) % 40)::BIGINT),
                 j -> {words}[(1 + hash({seed}, d // 3, j) % {len(vocab)})::BIGINT]),
                 ' ') AS text
        FROM range({n_docs}) t(d)),
      boot AS (
        SELECT 0 AS round, doc_id, doc_id AS seq, 'insert' AS op, text
        FROM base),
      rev AS (
        SELECT r AS round, doc_id,
               {stride} * r + doc_id AS seq,
               CASE WHEN hash({seed}, r, doc_id, 1) % 4 = 0 THEN 'delete'
                    ELSE 'update' END AS op,
               text || ' revised ' || r AS text
        FROM base, range(1, {rounds} + 1) s(r)
        WHERE hash({seed}, r, doc_id) % {n_docs} < {per_round})
      SELECT round, doc_id, seq, op,
             CASE WHEN op = 'delete' THEN NULL ELSE text END AS text,
             CASE WHEN doc_id % 3 = 0 THEN 'en' WHEN doc_id % 3 = 1
                  THEN 'de' ELSE 'fr' END AS lang,
             CASE WHEN op = 'delete' THEN NULL
                  ELSE length(text)::BIGINT END AS n_chars
      FROM (SELECT * FROM boot UNION ALL SELECT * FROM rev))
    TO '{path}' (FORMAT PARQUET, PARTITION_BY (round), OVERWRITE_OR_IGNORE)
    """)
    return per_round


def _gen_embeddings(con, path: str, seed: int, n_vecs: int, dim: int,
                    rounds: int, stride: int) -> None:
    per_round = max(n_vecs // 20, 4)
    con.execute(f"""
    COPY (
      WITH base AS (SELECT v AS vec_id FROM range({n_vecs}) t(v)),
      ev AS (
        SELECT 0 AS round, vec_id, vec_id AS seq, 'insert' AS op FROM base
        UNION ALL
        SELECT r, vec_id, {stride} * r + vec_id,
               CASE WHEN hash({seed}, r, vec_id, 1) % 4 = 0 THEN 'delete'
                    ELSE 'update' END
        FROM base, range(1, {rounds} + 1) s(r)
        WHERE hash({seed}, r, vec_id) % {n_vecs} < {per_round})
      SELECT round, vec_id, seq, op,
             CASE WHEN op = 'delete' THEN NULL ELSE
               list_transform(range({dim}::BIGINT), i -> (
                 (hash({seed}, vec_id, round, i) % 2001)::DOUBLE / 1000.0
                 - 1.0)::FLOAT) END AS embedding
      FROM ev)
    TO '{path}' (FORMAT PARQUET, PARTITION_BY (round), OVERWRITE_OR_IGNORE)
    """)


DEDUP = dict(n=3, k=4, bands=2)


def index_refresh(ctx: Ctx) -> Result:
    """Revise/delete batches merged into two keyed changefeed sources
    (documents, embeddings); after each merge the four consumers refresh:
    near-dup index, contamination monitor, aggregate view, ANN index."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from arlas_proc_spark.cdc.ann_index import AnnIndexRefresher
    from arlas_proc_spark.cdc.contamination_monitor import ContaminationMonitor
    from arlas_proc_spark.cdc.dedup_index import DedupIndexRefresher
    from arlas_proc_spark.lake.ivm import IncrementalAggView
    from arlas_proc_spark.lake.table import LakeTable
    sc, res = ctx.scale, Result()
    spark = ctx.spark
    stride = 10_000_000
    doc_schema = T.StructType([
        T.StructField("doc_id", T.LongType(), False),
        T.StructField("seq", T.LongType(), True),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
        T.StructField("n_chars", T.LongType(), True)])
    emb_schema = T.StructType([
        T.StructField("vec_id", T.LongType(), False),
        T.StructField("seq", T.LongType(), True),
        T.StructField("embedding", T.ArrayType(T.FloatType()), True)])

    def batch(path: str, r: int, cols: list[str]):
        return spark.read.parquet(f"{path}/round={r}").select(*cols, "op")

    for k in range(sc["setups"]):
        root = f"{ctx.work}/index/s{k}"

        def setup():
            os.makedirs(root, exist_ok=True)
            seed = ctx.seed * 7 + k
            _gen_documents(ctx.con, f"{root}/docs", seed, sc["docs"],
                           sc["rounds"], stride)
            _gen_embeddings(ctx.con, f"{root}/vecs", seed, sc["vecs"],
                            sc["dim"], sc["rounds"], stride)
            docs = LakeTable.create(spark, f"{root}/docs_src", doc_schema,
                                    ["doc_id"], "seq", changefeed=True)
            vecs = LakeTable.create(spark, f"{root}/vecs_src", emb_schema,
                                    ["vec_id"], "seq", changefeed=True)
            docs.merge_batch(batch(f"{root}/docs", 0, doc_schema.names), 0)
            vecs.merge_batch(batch(f"{root}/vecs", 0, emb_schema.names), 0)
            boot = spark.read.parquet(f"{root}/docs/round=0")
            cons = {
                "dedup": DedupIndexRefresher(
                    spark, f"{root}/dedup", docs, text_col="text", **DEDUP),
                "contamination": ContaminationMonitor(
                    spark, f"{root}/contamination", docs,
                    benchmark=boot.where(F.col("doc_id") % 50 == 0),
                    text_col="text"),
                "ivm": IncrementalAggView(
                    spark, f"{root}/ivm", docs, ["lang"],
                    {"chars": "n_chars"}),
                "ann": AnnIndexRefresher(
                    spark, f"{root}/ann", vecs,
                    centroids=spark.read.parquet(f"{root}/vecs/round=0")
                    .where(F.col("vec_id") % 25 == 0)
                    .select("vec_id", "embedding")),
            }
            for c in cons.values():
                c.refresh()
            return docs, vecs, cons
        t0 = time.perf_counter()
        docs, vecs, cons = setup()
        res.setup_s.append(time.perf_counter() - t0)

    refresh_s = {c: [] for c in cons}
    merges = {"docs": [], "vecs": []}
    loop = Loop(ctx, res)
    for r in range(1, sc["rounds"] + 1):
        if r > 1 and not loop.more():
            break
        db = batch(f"{root}/docs", r, doc_schema.names)
        vb = batch(f"{root}/vecs", r, emb_schema.names)
        loop.next_round()
        t0 = time.perf_counter()
        ok1, _, m1 = loop.op("merge.docs", lambda: docs.merge_batch(db, r),
                             batches={str(r)})
        merges["docs"].append(loop.last)
        ok2, _, m2 = loop.op("merge.vecs", lambda: vecs.merge_batch(vb, r),
                             batches={str(r)})
        merges["vecs"].append(loop.last)
        all_ok = ok1 and ok2
        for name, c in cons.items():
            ok, wall, _ = loop.op(f"refresh.{name}", c.refresh)
            refresh_s[name].append(wall)
            all_ok &= ok
        wall = time.perf_counter() - t0
        if not all_ok:
            continue
        changed = sum(int(m.get("keys_considered", 0) or 0)
                      for m in (m1, m2))
        res.batch_s.append(wall)
        res.op_rate.append(changed / wall)
        res.events += changed
        res.read_s.append(_timed(lambda: [noop_read(df) for df in (
            cons["dedup"].pairs(), cons["contamination"].report(),
            cons["ivm"].df(), cons["ann"].index.entries())]))
    res.bytes = sum(du(f"{root}/{d}") for d in
                    ("docs_src", "vecs_src", "dedup", "contamination",
                     "ivm", "ann"))

    for name, src in (("docs", docs), ("vecs", vecs)):
        lost = rebased(src)
        fail([o for o in merges[name] if o["batches"] & lost],
             "commit_retry")
    res.layers["lake.files_per_bucket_max"] = files_per_bucket_max(
        [docs, vecs])
    for name, ok in _check_consumers(ctx, docs, vecs, cons, root).items():
        res.checks.append((f"index.{name}", ok, {}))
        if not ok:
            fail([o for o in res.ops if o["kind"] == f"refresh.{name}"],
                 "oracle")
    for name, metric in REFRESH_METRICS.items():
        res.layers[metric] = statistics.median(refresh_s[name] or [0])
    return res


# refresh() wall time of each consumer, median over rounds
REFRESH_METRICS = {"dedup": "cdc.dedup_index.refresh_s",
                   "contamination": "cdc.contamination_monitor.refresh_s",
                   "ann": "cdc.ann_index.refresh_s",
                   "ivm": "lake.ivm.refresh_s"}


def _check_consumers(ctx: Ctx, docs, vecs, cons: dict, root: str) -> dict:
    """Each consumer's output against its one-shot recompute on the final
    source state."""
    from pyspark.sql import functions as F

    from arlas_proc_spark.operators.ann import cosine_topk_ivf_q8
    from arlas_proc_spark.operators.corpus import contamination_report
    from arlas_proc_spark.operators.dedup_fuzzy import minhash_lsh_pairs
    spark = ctx.spark
    live = docs.read().select(F.col("doc_id").cast("string").alias("doc_key"),
                              "text")
    out = {}
    out["dedup"] = same_rows(
        cons["dedup"].pairs(),
        minhash_lsh_pairs(live, "doc_key", "text", **DEDUP),
        ["id_a", "id_b", "n_bands_shared"])
    bench = spark.read.parquet(f"{root}/docs/round=0") \
        .where(F.col("doc_id") % 50 == 0)
    cols = ["doc_key", "n_shingles", "n_contaminated", "contamination"]
    out["contamination"] = same_rows(
        cons["contamination"].report(),
        contamination_report(live, bench, "doc_key", "text", n=3)
        .select(*cols), cols, float_cols={"contamination"})
    view = cons["ivm"]
    vcols = ["lang", "n_rows", "chars"]
    out["ivm"] = same_rows(view.df().select(*vcols),
                           view.recompute_df().select(*vcols), vcols,
                           float_cols={"chars"})
    corpus = vecs.read().select(
        F.col("vec_id").cast("string").alias("doc_key"), "embedding")
    cents = spark.read.parquet(f"{root}/vecs/round=0") \
        .where(F.col("vec_id") % 25 == 0) \
        .select(F.col("vec_id").alias("doc_key"), "embedding")
    queries = corpus.where(F.col("doc_key").cast("long") % 50 == 7)
    qcols = ["query_id", "rank", "neighbor_id", "score"]
    out["ann"] = same_rows(
        cons["ann"].index.query(queries, k=3, n_probe=4).select(*qcols),
        cosine_topk_ivf_q8(corpus, queries, "doc_key", "embedding",
                           centroids=cents, k=3, n_probe=4).select(*qcols),
        qcols, float_cols={"score"})
    return out


WORKLOADS = {"replay": replay, "upsert": upsert, "stream": stream,
             "index_refresh": index_refresh}

# Only replay and stream are timed workloads (BENCHMARK.json); a traced
# run of each also runs one of the other two, at its own scale, for the
# per-layer metrics of the layers only that one exercises (FOLD_METRICS
# in run.py).
FOLDS = {"replay": "upsert", "stream": "index_refresh"}
