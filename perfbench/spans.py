"""In-memory span recorder for the traced benchmark run.

Spans are recorded by wrapping public functions of the engine's layers
from the benchmark process (no change to the program). Each span keeps
its name, start, end, parent span and the id of the benchmark op that
caused it; spans stay in memory and are written out as JSON lines when
the run ends. A layer's self time is its span minus the part of that
interval its child spans cover.

Spark work is counted per op from the scheduler's job and stage id
counters, so it sees jobs started on any thread (streaming micro-batches
run on the stream's own thread) and needs no UI.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict


class SpanRecorder:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.active = False
        self.op_id: int | None = None
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, owner, attr: str, name: str, *, on_result=None,
             on_error=None) -> None:
        """Replace the function ``owner.attr`` with a spanned version
        (a no-op pass-through while the recorder is inactive). ``on_result``
        / ``on_error`` receive (span, value) so counters can be taken
        from return dicts and exceptions at the layer boundary."""
        inner = owner.__dict__[attr]
        rec = self

        @functools.wraps(inner)
        def wrapped(*args, **kwargs):
            if not rec.active:
                return inner(*args, **kwargs)
            with rec.span(name) as sp:
                try:
                    out = inner(*args, **kwargs)
                except Exception as e:
                    if on_error is not None:
                        on_error(sp, e)
                    raise
                if on_result is not None:
                    on_result(sp, out)
                return out

        setattr(owner, attr, wrapped)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


class _Span:
    def __init__(self, rec: SpanRecorder, name: str):
        self.rec = rec
        self.rec_span = {"name": name, "run_id": rec.run_id}
        self.counts: dict[str, float] = {}

    def count(self, key: str, n: float = 1) -> None:
        self.counts[key] = self.counts.get(key, 0) + n

    def __enter__(self):
        rec = self.rec
        st = rec._stack()
        s = self.rec_span
        s["id"] = next(rec._ids)
        s["parent"] = st[-1] if st else None
        s["op"] = rec.op_id
        s["thread"] = threading.get_ident()
        st.append(s["id"])
        s["start"] = time.perf_counter()
        return self

    def __exit__(self, *exc):
        s = self.rec_span
        s["end"] = time.perf_counter()
        self.rec._stack().pop()
        if self.counts:
            s["counts"] = self.counts
        with self.rec._lock:
            self.rec.spans.append(s)
        return False


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time: duration minus the union of the intervals
    its direct children cover (children on other threads that overlap
    are merged, so concurrent children are not counted twice)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            kids[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, hi = 0.0, s["start"]
        for a, b in sorted(kids.get(s["id"], [])):
            a, b = max(a, hi), min(b, s["end"])
            if b > a:
                covered += b - a
                hi = b
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


class SparkCounters:
    """Jobs, stages, tasks and failed tasks started between two marks,
    read from the DAG scheduler's id counters and the status tracker."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._dag = self.sc._jsc.sc().dagScheduler()

    def mark(self) -> tuple[int, int]:
        return _int(self._dag.nextJobId()), _int(self._dag.nextStageId())

    def between(self, a: tuple[int, int], b: tuple[int, int]) -> dict:
        tracker = self.sc.statusTracker()
        tasks = failed = 0
        for sid in range(a[1], b[1]):
            info = tracker.getStageInfo(sid)
            if info is not None:
                tasks += info.numTasks
                failed += info.numFailedTasks
        return {"jobs": b[0] - a[0], "stages": b[1] - a[1],
                "tasks": tasks, "failed_tasks": failed}


def _int(counter) -> int:
    # py4j hands back either the AtomicInteger or its value
    return int(counter.get() if hasattr(counter, "get") else counter)
