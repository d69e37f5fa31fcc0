"""Per-layer tracing for the benchmark's traced runs.

The program is not modified: ``install`` wraps, from outside, the public
names the client calls into each layer, and the benchmark's own calls into
the client are root spans.  A span owns the Spark jobs submitted while it
was open, found by job id: the benchmark is one closed-loop client, so no
other jobs interleave.  (Job groups would miss the jobs the engine submits
from its own writer thread pools, which do not inherit them.)  After an
operation the jobs' stage metrics are read from the status store.  Spans
stay in memory until the run writes them out.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from bm25_index_tool_spark import build, client, delta_store, history, score
from bm25_index_tool_spark.cache import SearchCache

# (owner, attribute, span name): the layer entry points a traced run wraps
WRAPPED = (
    (client, "score_query", "score.plan"),
    (score.LoadedIndex, "open", "score.open"),
    (history.SearchHistory, "log", "history.log"),
    (SearchCache, "get", "cache.get"),
    (build, "build_index", "build"),
    (delta_store, "merge_segments", "delta_store.merge"),
)
# the frame score_query returns is collected under this span name
COLLECT_SPAN = {"score.plan": "score.collect"}

_STAGE_FIELDS = {
    "executor_ms": "executorRunTime",
    "input_bytes": "inputBytes",
    "output_bytes": "outputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "tasks": "numTasks",
}


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._status = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._saved: list[tuple] = []
        self._pending: list[dict] = []

    # -- spans -----------------------------------------------------------

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans) + 1
        sp = {
            "id": sid,
            "name": name,
            "parent": parent["id"] if parent else None,
            "op": parent["op"] if parent else sid,
        }
        self.spans.append(sp)
        self._pending.append(sp)
        self._stack.append(sp)
        sp["first_job"] = self._dag.nextJobId()
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp["ms"] = (time.perf_counter() - t0) * 1000.0
            sp["end_job"] = self._dag.nextJobId()
            self._stack.pop()

    def read_spark(self) -> None:
        """Attach job and stage totals (children included) to every span
        closed since the last call.  Call between operations, outside
        timed regions."""
        self._bus.waitUntilEmpty()
        tracker = self.sc.statusTracker()
        stage_ids: dict[int, list[int]] = {}
        stages: dict[int, dict | None] = {}
        for sp in self._pending:
            m = dict.fromkeys(_STAGE_FIELDS, 0)
            m["jobs"] = sp["end_job"] - sp["first_job"]
            m["stages"] = 0
            seen: set[int] = set()
            for j in range(sp["first_job"], sp["end_job"]):
                if j not in stage_ids:
                    info = tracker.getJobInfo(j)
                    stage_ids[j] = list(info.stageIds) if info else []
                for sid in stage_ids[j]:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    if sid not in stages:
                        stages[sid] = self._stage(sid)
                    if stages[sid] is not None:
                        m["stages"] += 1
                        for k, v in stages[sid].items():
                            m[k] += v
            sp["spark"] = m
        self._pending.clear()

    def _stage(self, sid: int) -> dict | None:
        try:
            st = self._status.lastStageAttempt(sid)
        except Exception:  # noqa: BLE001 — py4j error: the stage was skipped
            return None
        return {k: getattr(st, f)() for k, f in _STAGE_FIELDS.items()}

    # -- wrapping ----------------------------------------------------------

    def install(self) -> None:
        for owner, attr, name in WRAPPED:
            orig = owner.__dict__[attr]
            self._saved.append((owner, attr, orig))
            setattr(owner, attr, self._wrap(getattr(owner, attr), name))

    def uninstall(self) -> None:
        while self._saved:
            owner, attr, orig = self._saved.pop()
            setattr(owner, attr, orig)

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name) as sp:
                out = fn(*args, **kwargs)
            if name == "cache.get":
                sp["hit"] = out is not None
            if name in COLLECT_SPAN:
                tracer._wrap_collect(out, COLLECT_SPAN[name])
            return out

        return wrapper

    def _wrap_collect(self, frame, name: str) -> None:
        collect = frame.collect

        def timed_collect():
            with self.span(name):
                return collect()

        frame.collect = timed_collect
