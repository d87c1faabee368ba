"""Span tracer for the traced benchmark run.

Every traced call runs under its own Spark job group, so the stage
counters Spark keeps in its status store (populated even with the UI
disabled) can be charged to the span afterwards. Spans stay in memory;
the status store is read once, at the end, after the listener bus has
drained, so no counter is lost to the asynchronous event delivery.

`patch()` wraps a public function of a program module so that calls made
from inside the program (for example `upsert_documents` calling
`expunge_deletes`) also open spans. The wrappers live only in the traced
process and only for its lifetime; the untraced run never patches.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"

    @property
    def wall_s(self) -> float:
        return self.end - self.start


#: StageData fields summed per span (names as Spark's REST API spells them)
_STAGE_SUMS = (
    "executorRunTime",  # ms
    "executorCpuTime",  # ns
    "jvmGcTime",  # ms
    "inputBytes",
    "outputBytes",
    "shuffleReadBytes",
    "shuffleWriteBytes",
    "memoryBytesSpilled",
    "diskBytesSpilled",
)


class Tracer:
    """Records spans around calls; `enabled=False` makes every span a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next = 0
        self.own_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        s = Span(self._next, name, parent.sid if parent else None, 0.0, attrs=attrs)
        self._next += 1
        sc.setJobGroup(s.group, name)
        self._stack.append(s)
        s.start = time.perf_counter()
        self.own_s += s.start - t
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            self.spans.append(s)
            self.own_s += time.perf_counter() - s.end

    def patch(self, owner, attr: str, name) -> None:
        """Replace `owner.attr` with a wrapper that opens a span named
        `name`, or `name(*args)` when `name` is callable."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name(*args) if callable(name) else name):
                return fn(*args, **kwargs)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unpatch(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ---- counters ------------------------------------------------------

    def stage_counters(self) -> dict[str, dict]:
        """{job group: summed stage counters + job intervals}, read from
        the live status store once every queued listener event is
        applied. Stages shared by several jobs count once, in the group
        of the job that ran them; skipped stages count nothing."""
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        stages = json.loads(
            mapper.writeValueAsString(
                store.stageList(
                    None, False, False,
                    sc._gateway.new_array(jvm.double, 0),
                    jvm.java.util.ArrayList(),
                )
            )
        )
        by_stage: dict[int, list[dict]] = {}
        for st in stages:
            if st.get("status") == "COMPLETE":
                by_stage.setdefault(st["stageId"], []).append(st)
        out: dict[str, dict] = {}
        seen = set()
        for job in sorted(jobs, key=lambda j: j["jobId"]):
            group = job.get("jobGroup")
            if not group:
                continue
            acc = out.setdefault(
                group,
                {k: 0 for k in _STAGE_SUMS}
                | {"jobs": 0, "stages": 0, "tasks": 0, "job_intervals": []},
            )
            acc["jobs"] += 1
            sub, done = job.get("submissionTime"), job.get("completionTime")
            if sub is not None and done is not None:
                # Jackson writes the status store's dates as epoch millis
                acc["job_intervals"].append((float(sub), float(done)))
            for sid in job.get("stageIds", []):
                if sid in seen:
                    continue
                seen.add(sid)
                for st in by_stage.get(sid, []):
                    acc["stages"] += 1
                    acc["tasks"] += int(st.get("numCompleteTasks", 0))
                    for k in _STAGE_SUMS:
                        acc[k] += int(st.get(k, 0) or 0)
        return out

    def rollup(self, counters: dict[str, dict]) -> dict[int, dict]:
        """Per span: its own group's counters plus every descendant's."""
        children: dict[int | None, list[Span]] = {}
        for s in self.spans:
            children.setdefault(s.parent, []).append(s)
        memo: dict[int, dict] = {}

        def total(s: Span) -> dict:
            if s.sid in memo:
                return memo[s.sid]
            own = counters.get(s.group, {})
            acc = {k: own.get(k, 0) for k in (*_STAGE_SUMS, "jobs", "stages", "tasks")}
            acc["job_intervals"] = list(own.get("job_intervals", []))
            for c in children.get(s.sid, []):
                sub = total(c)
                for k, v in sub.items():
                    acc[k] = acc[k] + v
            memo[s.sid] = acc
            return acc

        return {s.sid: total(s) for s in self.spans}

    def dump(self) -> list[dict]:
        return [
            {
                "sid": s.sid, "name": s.name, "parent": s.parent,
                "start": s.start, "end": s.end, "attrs": s.attrs,
            }
            for s in self.spans
        ]


def busy_ms(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end] job intervals, in ms."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
