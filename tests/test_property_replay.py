"""Property-based replay-to-convergence: ANY event log, delivered in ANY
batch split with duplicates and shuffled arrival order, converges the lake
table to the pandas-oracle final state (LWW by seq, deletes tombstoned).

Complements the deterministic-generator tests: hypothesis explores key
collisions, delete-then-stale-insert races, single-key logs, all-delete
logs, empty batches — the adversarial corners a fixed generator misses.

Reference analog: the golden-frame strategy of the reference's tests
(SURVEY §5 — independent reimplementation as the oracle), with hypothesis
supplying the fixtures instead of hand-built timeseries.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from arlas_proc_spark.cdc.engine import CdcEngine

KEYS = [("r0", "a"), ("r0", "b"), ("r1", "a"), ("r1", "c"), ("r2", "x")]


@st.composite
def event_logs(draw):
    n = draw(st.integers(min_value=1, max_value=40))
    events = []
    for seq in range(n):
        repo, path = draw(st.sampled_from(KEYS))
        op = draw(st.sampled_from(["insert", "update", "delete"]))
        content = None if op == "delete" else draw(
            st.text(alphabet="abcXYZ0,ä\n", min_size=0, max_size=8))
        events.append((seq, op, repo, path, f"c{seq}",
                       1_700_000_000 + seq, "py", content))
    # duplicate deliveries of random events (byte-identical, same seq)
    for i in draw(st.lists(st.integers(0, n - 1), max_size=5)):
        events.append(events[i])
    # arrival order is NOT seq order
    events = draw(st.permutations(events))
    # random contiguous batch split (by arrival position)
    n_batches = draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(draw(st.lists(st.integers(0, len(events)),
                                min_size=n_batches - 1,
                                max_size=n_batches - 1)))
    bounds = [0, *cuts, len(events)]
    return [events[a:b] for a, b in zip(bounds, bounds[1:])]


def _oracle(batches) -> dict:
    rows = [e for b in batches for e in b]
    df = pd.DataFrame(rows, columns=["seq", "op", "repo", "path", "commit",
                                     "ts_s", "lang", "content"])
    # WHOLE-ROW last per key (drop_duplicates keep="last"), NOT
    # groupby().last() — that skips NaN per column and would carry a
    # stale column value from an older row into the winner, which is not
    # LWW semantics (a winner written without a column reads it as null)
    last = (df.sort_values(["seq", "commit"])
              .drop_duplicates(["repo", "path"], keep="last"))
    live = last[last["op"] != "delete"]
    return {(r.repo, r.path): (int(r.seq), r.content)
            for r in live.itertuples()}


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=event_logs())
def test_any_log_any_split_converges(spark, tmp_path_factory, batches):
    table = str(tmp_path_factory.mktemp("prop") / "t")
    engine = CdcEngine(spark, table, n_buckets=4)
    for i, batch in enumerate(batches):
        if not batch:
            continue
        df = spark.createDataFrame(
            batch, "seq long, op string, repo string, path string, "
                   "commit string, ts_s long, lang string, content string")
        engine.apply_batch(df, i)
    got = {(r.repo, r.path): (r.seq, r.content)
           for r in engine.state().collect()}
    assert got == _oracle(batches)


@st.composite
def evolving_logs(draw):
    """Batches that randomly carry extra columns (schema widens over the
    stream's life) — add-column and int->long widening both exercised."""
    n_batches = draw(st.integers(min_value=1, max_value=3))
    batches, seq = [], 0
    for b in range(n_batches):
        n = draw(st.integers(min_value=1, max_value=10))
        extra = draw(st.sampled_from([None, "size_int", "size_long", "score"]))
        rows = []
        for _ in range(n):
            repo, path = draw(st.sampled_from(KEYS))
            op = draw(st.sampled_from(["insert", "update", "delete"]))
            row = dict(seq=seq, op=op, repo=repo, path=path,
                       commit=f"c{seq}", ts_s=1_700_000_000 + seq,
                       lang="py",
                       content=None if op == "delete" else f"v{seq}")
            if extra == "size_int":
                row["size"] = seq % 100
            elif extra == "size_long":
                row["size"] = 2**40 + seq
            elif extra == "score":
                row["score"] = float(seq) / 2
            rows.append(row)
            seq += 1
        batches.append((extra, rows))
    return batches


def _evolve_oracle(batches) -> dict:
    rows = [dict(r) for _, b in batches for r in b]
    df = pd.DataFrame(rows)
    for c in ("size", "score"):
        if c not in df.columns:
            df[c] = None
    # whole-row last per key — see _oracle for why not groupby().last()
    last = (df.sort_values(["seq", "commit"])
              .drop_duplicates(["repo", "path"], keep="last"))
    live = last[last["op"] != "delete"]
    out = {}
    for r in live.itertuples():
        size = None if pd.isna(r.size) else int(r.size)
        score = None if pd.isna(r.score) else float(r.score)
        out[(r.repo, r.path)] = (int(r.seq), r.content, size, score)
    return out


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=evolving_logs())
def test_schema_evolution_under_random_batches(spark, tmp_path_factory,
                                               batches):
    """Columns appearing mid-stream (and int->long widening) evolve the
    live schema; earlier rows read the new columns as null; final state
    matches the pandas oracle across the union schema."""
    table = str(tmp_path_factory.mktemp("prop_ev") / "t")
    engine = CdcEngine(spark, table, n_buckets=4)
    base = ("seq long, op string, repo string, path string, commit string,"
            " ts_s long, lang string, content string")
    for i, (extra, rows) in enumerate(batches):
        if extra == "size_int":
            ddl = base + ", size int"
        elif extra == "size_long":
            ddl = base + ", size long"
        elif extra == "score":
            ddl = base + ", score double"
        else:
            ddl = base
        cols = [f.strip().split()[0] for f in ddl.split(",")]
        data = [tuple(r.get(c) for c in cols) for r in rows]
        engine.apply_batch(spark.createDataFrame(data, ddl), i)
    got = {}
    state = engine.state()
    have = set(state.columns)
    for r in state.collect():
        size = getattr(r, "size", None) if "size" in have else None
        score = getattr(r, "score", None) if "score" in have else None
        got[(r.repo, r.path)] = (r.seq, r.content,
                                 None if size is None else int(size),
                                 None if score is None else float(score))
    assert got == _evolve_oracle(batches)


@st.composite
def view_logs(draw):
    """An ordered event log split into batches, plus which batch
    boundaries get a view refresh — exercises multi-commit folds, empty
    deltas, delete-to-zero groups, revivals, CDF vs diff serving."""
    n = draw(st.integers(min_value=1, max_value=30))
    events = []
    for seq in range(n):
        repo, path = draw(st.sampled_from(KEYS))
        op = draw(st.sampled_from(["insert", "update", "delete"]))
        content = None if op == "delete" else draw(
            st.text(alphabet="abcXY", min_size=0, max_size=6))
        events.append((seq, op, repo, path, f"c{seq}",
                       1_700_000_000 + seq, "py", content))
    n_batches = draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=n_batches - 1,
                                max_size=n_batches - 1)))
    bounds = [0, *cuts, n]
    batches = [events[a:b] for a, b in zip(bounds, bounds[1:])]
    refresh_after = [draw(st.booleans()) for _ in batches]
    cdf = draw(st.booleans())
    return batches, refresh_after, cdf


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(spec=view_logs())
def test_incremental_view_always_matches_recompute(spark, tmp_path_factory,
                                                   spec):
    """ANY log, ANY batch split, refreshes at ANY subset of boundaries
    (plus one final), over a CDF or diff-served source: the incremental
    view equals the full recompute of the final state."""
    from arlas_proc_spark.cdc.engine import CdcEngine
    from arlas_proc_spark.lake.ivm import IncrementalAggView
    batches, refresh_after, cdf = spec
    root = tmp_path_factory.mktemp("ivmprop")
    engine = CdcEngine(spark, str(root / "t"), n_buckets=4,
                       changefeed=cdf)
    view = IncrementalAggView(
        spark, str(root / "v"), engine.table, ["repo"],
        {"sum_len": "length(content)"}, n_buckets=4)
    for i, batch in enumerate(batches):
        if batch:
            df = spark.createDataFrame(
                batch, "seq long, op string, repo string, path string, "
                       "commit string, ts_s long, lang string, content string")
            engine.apply_batch(df, i)
        if refresh_after[i]:
            view.refresh()
    view.refresh()
    got = {r.repo: (r.n_rows, r.sum_len) for r in view.df().collect()}
    want = {r.repo: (r.n_rows, r.sum_len)
            for r in view.recompute_df().collect()}
    assert got == want


@st.composite
def sparse_logs(draw):
    """In-order batch splits of a sparse feed (null payload = unchanged):
    events strictly seq-ordered ACROSS batches (the ordered-WAL contract
    patch mode documents), shuffled WITHIN a batch, with byte-identical
    duplicate deliveries landing in the originating batch."""
    n = draw(st.integers(min_value=1, max_value=40))
    events = []
    for seq in range(n):
        repo, path = draw(st.sampled_from(KEYS))
        op = draw(st.sampled_from(["insert", "update", "delete"]))
        lang = None if op == "delete" else draw(
            st.sampled_from([None, "py", "go", "rs"]))
        content = None if op == "delete" else draw(
            st.sampled_from([None, f"v{seq}", "x"]))
        events.append((seq, op, repo, path, f"c{seq}",
                       1_700_000_000 + seq, lang, content))
    n_batches = draw(st.integers(min_value=1, max_value=4))
    cuts = sorted(draw(st.lists(st.integers(0, n), min_size=n_batches - 1,
                                max_size=n_batches - 1)))
    bounds = [0, *cuts, n]
    batches = []
    for a, b in zip(bounds, bounds[1:]):
        batch = list(events[a:b])
        for i in draw(st.lists(st.integers(0, max(len(batch) - 1, 0)),
                               max_size=2)):
            if batch:
                batch.append(batch[i])  # duplicate delivery, same batch
        batches.append(draw(st.permutations(batch)))
    return batches


def _patch_oracle(batches) -> dict:
    """Event-at-a-time fold: delete kills the key (and its history);
    a non-delete upserts with null columns inheriting the live value."""
    state: dict = {}
    for e in sorted((e for b in batches for e in b),
                    key=lambda x: (x[0], x[4])):
        seq, op, repo, path, _c, _t, lang, content = e
        k = (repo, path)
        if op == "delete":
            state.pop(k, None)
            continue
        prev = state.get(k)
        state[k] = (seq,
                    lang if lang is not None else (prev[1] if prev else None),
                    content if content is not None
                    else (prev[2] if prev else None))
    return state


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(batches=sparse_logs())
def test_sparse_log_in_order_splits_converge(spark, tmp_path_factory,
                                             batches):
    table = str(tmp_path_factory.mktemp("propp") / "t")
    engine = CdcEngine(spark, table, n_buckets=4,
                       patch_cols=["lang", "content"])
    for i, batch in enumerate(batches):
        if not batch:
            continue
        df = spark.createDataFrame(
            batch, "seq long, op string, repo string, path string, "
                   "commit string, ts_s long, lang string, content string")
        engine.apply_batch(df, i)
    got = {(r.repo, r.path): (r.seq, r.lang, r.content)
           for r in engine.state().collect()}
    assert got == _patch_oracle(batches)
