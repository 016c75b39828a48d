"""Scale-readiness assertions on PHYSICAL PLANS, not values: pushdown,
pruning, broadcast, codegen. These are the 100-TB guarantees."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry
from arlas_proc_spark.plans.diagnostics import (
    assert_broadcast_join,
    assert_pushed_filters,
    assert_read_schema_excludes,
    explain_str,
    plan_report,
)

SF = "/root/testdata/sf0.001"


def test_filter_pushes_to_parquet_scan(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .where(F.col("l_orderkey") == 42).select("l_orderkey", "l_quantity"))
    assert_pushed_filters(df, "PushedFilters: [IsNotNull(l_orderkey), EqualTo(l_orderkey,42)]")


def test_projection_prunes_columns(spark):
    df = (spark.read.parquet(f"{SF}/lineitem.parquet")
          .select("l_orderkey", "l_quantity"))
    assert_read_schema_excludes(df, "l_extendedprice", "l_shipdate", "l_returnflag")


def test_dimension_joins_broadcast(spark):
    df = entry.q_revenue_by_nation(spark, SF)
    assert_broadcast_join(df, at_least=2)  # nation + region at minimum


def test_lww_stays_in_codegen_without_python(spark):
    """The LWW resolve path must be pure JVM and hash-based: no Python eval
    nodes, no SortAggregate (payload never sorts through an agg buffer),
    map-side partial aggregation before the shuffle, and — planned with AQE
    off so codegen ids are visible — at least one whole-stage codegen span."""
    from arlas_proc_spark.cdc.engine import lww_resolve
    from arlas_proc_spark.plans.diagnostics import replan_without_aqe
    from arlas_proc_spark.sources.changefeed import changefeed_df
    df = lww_resolve(changefeed_df(spark, 1000))
    rep = plan_report(df)
    assert rep["python_udfs"] == 0
    assert rep["sort_aggs"] == 0
    assert rep["hash_aggs"] >= 2  # partial + final argmax
    static = replan_without_aqe(
        spark, lambda: lww_resolve(changefeed_df(spark, 1000)))
    assert plan_report(static)["codegen_stages"] >= 1


def test_prepare_events_uses_arrow_not_row_python(spark):
    """The vectorized UDF contract: ArrowEvalPython (pandas batch), never
    BatchEvalPython (row-at-a-time pickle)."""
    from arlas_proc_spark.cdc.engine import prepare_events
    from arlas_proc_spark.sources.changefeed import changefeed_df
    s = explain_str(prepare_events(changefeed_df(spark, 100)))
    assert "ArrowEvalPython" in s
    assert "BatchEvalPython" not in s


def test_events_epoch_filter_pushdown(spark):
    """filter_on_period ANDs a partition predicate usable by pruning."""
    from arlas_proc_spark.operators.formatter import filter_on_period
    df = spark.read.parquet(f"{SF}/events.parquet") \
        .withColumn("es", F.unix_timestamp("ts")) \
        .withColumn("partition_day", F.date_format("ts", "yyyyMMdd").cast("int"))
    out = filter_on_period(df, "es", "partition_day", start=1704100000)
    rows = out.count()
    assert rows > 0
    assert out.where("partition_day < 20240101").count() == 0


@pytest.mark.parametrize("qname", ["pricing_summary", "salted_event_stats"])
def test_agg_queries_have_partial_aggregation(spark, qname):
    df = entry.queries()[qname](spark, SF)
    s = explain_str(df)
    # two HashAggregates per grouping (partial + final) = map-side combine
    assert s.count("HashAggregate") >= 2


def test_lww_compact_broadcasts_precomputed_winners(spark):
    """The incremental path's join-back must plan as a BroadcastHashJoin
    on the (shared, narrow) winners frame — no shuffle of the event
    payload — and keep the zero-buffer distinct out of SortAggregate."""
    from arlas_proc_spark.cdc.engine import lww_compact
    from arlas_proc_spark.sources.changefeed import changefeed_df
    events = changefeed_df(spark, 1000)
    winners = events.groupBy("repo", "path").agg(F.max("seq").alias("seq"))
    df = lww_compact(events, winners=winners)
    assert_broadcast_join(df, at_least=1)
    rep = plan_report(df)
    assert rep["sort_aggs"] == 0
    assert rep["python_udfs"] == 0


def test_lww_window_limits_rows_below_its_exchange(spark):
    """The LWW window kernel plans ``rn == 1`` as a partial
    WindowGroupLimit below its exchange (each task ships at most one row
    per key), with no SortAggregate and no Python UDF."""
    from arlas_proc_spark.lake.lww import latest_by_seq
    from arlas_proc_spark.sources.changefeed import changefeed_df
    df = latest_by_seq(changefeed_df(spark, 1000), ["repo", "path"], "seq")
    rep = plan_report(df)
    assert rep["sort_aggs"] == 0
    assert rep["python_udfs"] == 0
    below_exchange, stack = [], [(df._jdf.queryExecution().executedPlan(),
                                  False)]
    while stack:
        p, below = stack.pop()
        if p.nodeName() == "Exchange":
            below = True
        elif below:
            below_exchange.append(p.nodeName())
        stack.extend((k, below) for k in _plan_children(p))
    assert "WindowGroupLimit" in below_exchange, below_exchange
    assert "Window" not in below_exchange, below_exchange


def test_lsh_queries_never_plan_cartesian(spark):
    """The LSH candidate join must hash-join on (band, sig) — a
    CartesianProduct or BroadcastNestedLoopJoin here would be the exact
    all-pairs explosion LSH exists to avoid."""
    import __spark_entry__ as e
    for name in ["embedding_topk_lsh", "embedding_neardups"]:
        plan = {**e.queries(), **e.extra_queries()}[name](spark, "/root/testdata/sf0.001") \
            ._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "Join [_band" in plan or "Join [_band".replace(
            " ", "") in plan.replace(" ", ""), f"{name}: no band-key join"


# a bootstrap batch, then updates, deletes and new keys over it
_B0 = [(i, "insert", f"r{i % 3}", f"f{i}") for i in range(40)]
_B1 = ([(100 + i, "update", f"r{i % 3}", f"f{i}") for i in range(0, 40, 3)]
       + [(200 + i, "delete", f"r{i % 3}", f"f{i}") for i in range(1, 40, 7)]
       + [(300 + i, "insert", f"r{i % 3}", f"f{i}") for i in range(40, 50)])


def _merge_schema():
    import pyspark.sql.types as T
    return T.StructType([
        T.StructField("repo", T.StringType(), False),
        T.StructField("path", T.StringType(), False),
        T.StructField("commit", T.StringType(), True),
        T.StructField("seq", T.LongType(), True),
        T.StructField("content", T.StringType(), True)])


def _merge_batch_df(spark, rows):
    """rows: (seq, op, repo, path) — commit and content derive from seq."""
    return spark.createDataFrame(
        [(s, op, r, p, f"c{s}", f"v{s}") for s, op, r, p in rows],
        "seq long, op string, repo string, path string,"
        " commit string, content string") \
        .select("repo", "path", "commit", "seq", "content", "op")


def _capture_data_writes(monkeypatch) -> list:
    """Record the physical plan of every frame written under a table's
    ``data/c*`` commit directory (the merge's bucketed data write)."""
    import os

    from pyspark.sql.readwriter import DataFrameWriter
    plans = []
    orig = DataFrameWriter.parquet

    def spy(self, path, *args, **kwargs):
        parent, leaf = os.path.split(str(path).rstrip("/"))
        if os.path.basename(parent) == "data" and leaf.startswith("c"):
            plans.append(self._df._jdf.queryExecution().executedPlan())
        return orig(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    return plans


def _plan_children(p):
    if p.nodeName() == "AdaptiveSparkPlan":
        return [p.executedPlan()]
    ch = p.children()
    return [ch.apply(i) for i in range(ch.size())]


def _write_plan_shape(plan):
    """(node names above the first exchanges, those exchanges'
    partitionings, every exchange's partitioning in the plan)."""
    top, frontier, every = [], [], []
    stack = [(plan, True)]
    while stack:
        p, above = stack.pop()
        if p.nodeName() == "Exchange":
            part = p.outputPartitioning().toString()
            every.append(part)
            if above:
                frontier.append(part)
            above = False
        elif above:
            top.append(p.nodeName())
        stack.extend((k, above) for k in _plan_children(p))
    return top, frontier, every


def _lww_oracle(batches):
    state = {}
    for rows in batches:
        for s, op, r, p in sorted(rows):
            if (r, p) not in state or s >= state[(r, p)][0]:
                state[(r, p)] = (s, op)
    return sorted((r, p, s, f"v{s}") for (r, p), (s, op) in state.items()
                  if op != "delete")


def _table_state(t):
    return sorted((r.repo, r.path, r.seq, r.content)
                  for r in t.read().collect())


def test_merge_write_is_shuffle_once(spark, tmp_path, monkeypatch):
    """The cow merge's bucketed write must reuse the join's hash
    partitioning: exactly ONE exchange on each join input, keyed by the
    join keys at width w = the smallest divisor of n_buckets that is
    >= shuffle.partitions (4 here), and NONE between the join (or, on
    bootstrap, the incoming exchange) and the write — one file per
    touched bucket. n_buckets=16 is the width-4 case (4 tasks hold 4
    whole buckets each); 5 has no divisor in [4, 5) and keeps 5."""
    from arlas_proc_spark.lake.table import LakeTable
    assert spark.conf.get("spark.sql.shuffle.partitions") == "4"
    plans = _capture_data_writes(monkeypatch)
    for n, width in [(4, 4), (16, 4), (5, 5)]:
        t = LakeTable.create(spark, str(tmp_path / f"t{n}"),
                             _merge_schema(), ["repo", "path"], "seq",
                             n_buckets=n)
        del plans[:]
        t.merge_batch(_merge_batch_df(spark, _B0), 0)
        t.merge_batch(_merge_batch_df(spark, _B1), 1)
        assert len(plans) == 2, n
        top, frontier, every = _write_plan_shape(plans[0])
        # bootstrap: the empty table side eliminates the join; the
        # incoming exchange alone clusters the write
        assert "ShuffledHashJoin" not in top, (n, top)
        assert len(frontier) == 1 and "_n_repo" in frontier[0], (n, frontier)
        assert frontier[0].endswith(f", {width})"), (n, frontier)
        top, frontier, every = _write_plan_shape(plans[1])
        assert "ShuffledHashJoin" in top, (n, top)
        assert sorted(p.split("_")[1] for p in frontier) == ["e", "n"], \
            (n, frontier)
        assert all(p.endswith(f", {width})") for p in frontier), \
            (n, frontier)
        assert sum("_e_repo" in p for p in every) == 1, (n, every)
        assert sum("_n_repo" in p for p in every) == 1, (n, every)
        snap = t.snapshot()
        files = {b: len(fs) for b, fs in snap["buckets"].items() if fs}
        assert len(files) > 1 and set(files.values()) == {1}, (n, files)
        assert _table_state(t) == _lww_oracle([_B0, _B1]), n


def test_merge_width_follows_two_task_slots(spark, tmp_path, monkeypatch):
    """At P = 2 (build_session's default at local[2]) a 16-bucket merge
    exchanges both join inputs at width 2, the smallest divisor of 16
    that is >= 2, and still writes one file per touched bucket."""
    from arlas_proc_spark.lake.table import LakeTable
    plans = _capture_data_writes(monkeypatch)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "2")
    try:
        t = LakeTable.create(spark, str(tmp_path / "t"), _merge_schema(),
                             ["repo", "path"], "seq", n_buckets=16)
        t.merge_batch(_merge_batch_df(spark, _B0), 0)
        del plans[:]
        t.merge_batch(_merge_batch_df(spark, _B1), 1)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert len(plans) == 1
    top, frontier, every = _write_plan_shape(plans[0])
    assert "ShuffledHashJoin" in top, top
    assert sorted(p.split("_")[1] for p in frontier) == ["e", "n"], frontier
    assert all(p.endswith(", 2)") for p in frontier), frontier
    assert sum("_e_repo" in p for p in every) == 1, every
    assert sum("_n_repo" in p for p in every) == 1, every
    files = {b: len(fs) for b, fs in t.snapshot()["buckets"].items() if fs}
    assert len(files) > 2 and set(files.values()) == {1}, files
    assert _table_state(t) == _lww_oracle([_B0, _B1])


def test_merge_mid_rebucket_keeps_write_repartition(spark, tmp_path,
                                                    monkeypatch):
    """Mid-rebucket the router's transitional ids break the join
    partition ↔ bucket identity, so that merge's write keeps its own
    repartition (an exchange between the join and the write) — and the
    state still equals the LWW oracle."""
    from arlas_proc_spark.lake.table import LakeTable
    plans = _capture_data_writes(monkeypatch)
    t = LakeTable.create(spark, str(tmp_path / "t"), _merge_schema(),
                         ["repo", "path"], "seq", n_buckets=4)
    t.merge_batch(_merge_batch_df(spark, _B0), 0)
    t.begin_rebucket(8)
    assert not t.migrate_buckets(1).get("done")
    del plans[:]
    t.merge_batch(_merge_batch_df(spark, _B1), 1)
    assert len(plans) == 1
    top, frontier, _ = _write_plan_shape(plans[0])
    assert "ShuffledHashJoin" not in top, top
    assert len(frontier) == 1 and "_e_" not in frontier[0] \
        and "_n_" not in frontier[0], frontier
    assert _table_state(t) == _lww_oracle([_B0, _B1])


def test_change_log_serves_files_without_join(spark, tmp_path):
    """read_change_log over changefeed-emitted files is a pure file scan —
    no snapshot join anywhere in the plan (the diff fallback would show a
    SortMergeJoin/ShuffledHashJoin over two snapshot reads)."""
    import pyspark.sql.types as T
    from arlas_proc_spark.lake.table import LakeTable
    sch = T.StructType([T.StructField("k", T.StringType(), False),
                        T.StructField("n", T.LongType(), True),
                        T.StructField("seq", T.LongType(), True)])
    t = LakeTable.create(spark, str(tmp_path / "t"), sch, ["k"], "seq",
                         n_buckets=2, changefeed=True)

    def b(rows):
        return spark.createDataFrame(rows, "k string, n long, seq long,"
                                     " op string")
    t.merge_batch(b([("a", 1, 1, "upsert")]), 0)
    t.merge_batch(b([("a", 2, 2, "upsert"), ("b", 3, 2, "upsert")]), 1)
    plan = explain_str(t.read_change_log(0, 2))
    assert "Join" not in plan, plan
    # the diff path (no emitted log) DOES join — pin the contrast
    # (from v1, not v0: a diff against the empty bootstrap snapshot is
    # join-ELIMINATED by the LocalRelation optimization, by design)
    plan_diff = explain_str(t.read_changes(1, 2))
    assert "Join" in plan_diff


def test_lookup_pushes_key_filters_into_one_bucket_scan(spark, tmp_path):
    import pyspark.sql.types as T
    from arlas_proc_spark.lake.table import LakeTable
    sch = T.StructType([T.StructField("repo", T.StringType(), False),
                        T.StructField("path", T.StringType(), False),
                        T.StructField("seq", T.LongType(), True),
                        T.StructField("content", T.StringType(), True)])
    t = LakeTable.create(spark, str(tmp_path / "t"), sch, ["repo", "path"],
                         "seq", n_buckets=8)
    t.merge_batch(spark.createDataFrame(
        [("r1", f"f{i}.py", i, "x", "insert") for i in range(32)],
        "repo string, path string, seq long, content string, op string"), 0)
    got = t.lookup(repo="r1", path="f3.py")
    plan = explain_str(got)
    assert "PushedFilters" in plan and "EqualTo(path,f3.py)" in plan, plan
    assert len({f.rsplit("/", 1)[-1].split("-")[1]
                for f in got.inputFiles()}) == 1


def test_replicator_compaction_is_codegen_argmax(spark):
    """_compact_changes must plan as numeric HashAggregate + semi
    join-back — no SortAggregate (the struct-max anti-pattern) and no
    payload through an aggregation buffer. The join is deliberately NOT
    hint-forced to broadcast (a catch-up backlog's winner set can exceed
    the broadcast limit); AQE must still convert it to a broadcast semi
    join at runtime when the winner side is small — asserted on the
    EXECUTED plan."""
    from arlas_proc_spark.streaming.replicate import _compact_changes
    batch = spark.createDataFrame(
        [("r1", "a.py", "c1", 1, "v1", "insert", 1),
         ("r1", "a.py", "c2", 2, "v2", "update_postimage", 2),
         ("r1", "b.py", "c3", 3, "w1", "insert", 2)],
        "repo string, path string, commit string, seq long,"
        " content string, change_type string, _change_version long")
    out = _compact_changes(batch, ["repo", "path"])
    rep = plan_report(out)
    assert rep["sort_aggs"] == 0, "struct-max SortAggregate crept back in"
    got = {(r.repo, r.path): (r.seq, r.content, r.op)
           for r in out.collect()}
    assert got == {("r1", "a.py"): (2, "v2", "upsert"),
                   ("r1", "b.py"): (3, "w1", "upsert")}
    s = explain_str(out)  # post-action: AQE's finalized plan
    assert "BroadcastHashJoin" in s and "LeftSemi" in s, s
