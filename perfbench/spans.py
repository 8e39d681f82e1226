"""The traced run's spans and the Spark statistics they resolve to.

A span is recorded around each call into a layer's public function,
from the benchmark's side: :meth:`Tracer.wrap` replaces a module (or
class) attribute with a wrapper, which works because the engine looks
those names up at call time, on the streaming thread too. Each span
sets its own Spark job group for the duration of the call, so every job
the call launches can be found again with ``statusTracker``; stage
statistics come from the status store, which is kept with the UI off.
Spans stay in memory; :meth:`Tracer.dump` writes them out at the end.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

GROUP_KEY = "spark.jobGroup.id"

#: the engine module a perf-profiled Python UDF's code lives in -> the layer
#: it counts for (the profiler records file basenames)
UDF_LAYERS = {
    "converters.py": "converters",
    "models.py": "models",
    "dedup.py": "dedup",
}


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int | None  # the measured operation the span belongs to
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)
    #: job groups besides the span's own whose jobs count for it
    extra_groups: list[str] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


@dataclass
class StageStats:
    tasks: int
    run_ms: float
    cpu_ms: float
    input_bytes: int
    input_records: int
    output_bytes: int
    output_records: int
    shuffle_read_bytes: int
    shuffle_write_bytes: int
    spill_bytes: int


class Tracer:
    """In-memory spans, one Spark job group per span."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self.active = False
        self.op: int | None = None
        self._root: int | None = None  # the span of the current operation
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next = 0
        self._patched: list[tuple[object, str, object]] = []

    # --- recording ----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid, self._next = self._next, self._next + 1
        parent = stack[-1].sid if stack else self._root
        s = Span(sid, name, parent, self.op, time.time())
        prev = self.sc.getLocalProperty(GROUP_KEY)
        self.sc.setLocalProperty(GROUP_KEY, s.group)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.time()
            stack.pop()
            self.sc.setLocalProperty(GROUP_KEY, prev)
            with self._lock:
                self.spans.append(s)

    @contextmanager
    def operation(self, op: int, name: str):
        """The span of one measured operation; spans opened on other
        threads while it runs (the streaming batch thread) hang under it."""
        self.op = op
        with self.span(name) as s:
            self._root = s.sid
            try:
                yield s
            finally:
                self._root = None
                self.op = None

    def wrap(self, owner, attr: str, name: str, after=None) -> None:
        """Record a span around every call of ``owner.attr`` while tracing
        is active; ``after(span, result, args, kwargs)`` may add attrs."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            with self.span(name) as s:
                out = orig(*args, **kwargs)
                if after is not None:
                    after(s, out, args, kwargs)
                return out

        setattr(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    # --- resolution (after the measured loop) ----------------------------------

    def wait_for_listeners(self) -> None:
        """Let the status store catch up with every finished job."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def subtree(self, root: Span) -> list[Span]:
        kids: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                kids.setdefault(s.parent, []).append(s)
        out, todo = [], [root]
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(kids.get(s.sid, []))
        return out

    def job_ids(self, spans: list[Span]) -> list[int]:
        st = self.sc.statusTracker()
        groups = {s.group for s in spans} | {g for s in spans for g in s.extra_groups}
        return sorted({j for g in groups for j in st.getJobIdsForGroup(g)})

    def job_window(self, job_id: int) -> tuple[float, float] | None:
        jd = self.sc._jsc.sc().statusStore().job(job_id)
        sub, done = jd.submissionTime(), jd.completionTime()
        if sub.isEmpty() or done.isEmpty():
            return None
        return sub.get().getTime() / 1000.0, done.get().getTime() / 1000.0

    def stages(self, job_ids: list[int]) -> list[StageStats]:
        st = self.sc.statusTracker()
        store = self.sc._jsc.sc().statusStore()
        seen, out = set(), []
        for j in job_ids:
            info = st.getJobInfo(j)
            for sid in info.stageIds if info else []:
                if sid in seen:
                    continue
                seen.add(sid)
                sd = store.lastStageAttempt(sid)
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped stages ran no tasks
                out.append(
                    StageStats(
                        tasks=sd.numCompleteTasks(),
                        run_ms=sd.executorRunTime(),
                        cpu_ms=sd.executorCpuTime() / 1e6,
                        input_bytes=sd.inputBytes(),
                        input_records=sd.inputRecords(),
                        output_bytes=sd.outputBytes(),
                        output_records=sd.outputRecords(),
                        shuffle_read_bytes=sd.shuffleReadBytes(),
                        shuffle_write_bytes=sd.shuffleWriteBytes(),
                        spill_bytes=sd.memoryBytesSpilled() + sd.diskBytesSpilled(),
                    )
                )
        return out

    def covered_s(self, span: Span, job_ids: list[int]) -> float:
        """Seconds of ``span`` during which at least one of the jobs ran."""
        wins = sorted(
            (max(a, span.start), min(b, span.end))
            for a, b in filter(None, (self.job_window(j) for j in job_ids))
        )
        total, cur_a, cur_b = 0.0, None, None
        for a, b in wins:
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    total += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            total += cur_b - cur_a
        return total

    def udf_ms_by_layer(self) -> dict[str, float]:
        """Python UDF time from the perf profiler, by the engine module
        the profiled function lives in."""
        out = {layer: 0.0 for layer in UDF_LAYERS.values()}
        for stats in self.spark._profiler_collector._perf_profile_results.values():
            files = {os.path.basename(fn) for (fn, _line, _func) in stats.stats}
            for module, layer in UDF_LAYERS.items():
                if module in files:
                    out[layer] += stats.total_tt * 1000.0
                    break
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s) | {"group": s.group}) + "\n")


def tree_size(path: str) -> tuple[int, int]:
    """(files, bytes) under a local directory."""
    files = size = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(dirpath, n))
    return files, size
