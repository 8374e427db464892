"""Spans around calls into the engine's layers, with Spark's own counters.

A span records name, start, end, parent and request id.  Each span runs
its Spark jobs under its own job group, so after the listener bus drains
the status tracker maps the span to its jobs and the application status
store (which works with the UI off) gives their stages' counters: tasks,
input bytes, shuffle bytes, spill, GC time and task run time.  Spans stay
in memory and are written once, at the end of the run.
"""

from __future__ import annotations

import itertools
import json
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

#: stage counters summed per span, by AppStatusStore StageData accessor
STAGE_COUNTERS = {
    "tasks": "numCompleteTasks",
    "scan_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": ("memoryBytesSpilled", "diskBytesSpilled"),
    "gc_ms": "jvmGcTime",
    "run_ms": "executorRunTime",
}


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    request: int | None = None
    id: int = 0
    group: str = ""
    counters: dict[str, float] = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".")[0]

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans; ``enabled=False`` makes ``span`` a plain no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, request: int | None = None):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            name=name,
            start=time.perf_counter(),
            parent=parent.id if parent else None,
            request=request if request is not None else (parent.request if parent else None),
            id=next(self._ids),
        )
        sp.group = f"perfbench-span-{sp.id}"
        self._set_group(sp.group)
        self._stack.append(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1].group if self._stack else None)
            self.spans.append(sp)

    def _set_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc._jsc.clearJobGroup()
        else:
            sc.setJobGroup(group, group)

    def collect_counters(self) -> None:
        """Attach job and stage counters to every span (own jobs only:
        jobs run under a child span belong to the child)."""
        sc = self.spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        stage_cache: dict[int, dict[str, float]] = {}
        for sp in self.spans:
            jobs = tracker.getJobIdsForGroup(sp.group)
            totals = dict.fromkeys(STAGE_COUNTERS, 0.0)
            totals["jobs"] = float(len(jobs))
            stages = set()
            for job in jobs:
                info = tracker.getJobInfo(job)
                stages.update(info.stageIds if info else ())
            for stage in stages:
                if stage not in stage_cache:
                    stage_cache[stage] = _stage_counters(sc, store, stage)
                for k, v in stage_cache[stage].items():
                    totals[k] += v
            totals.update(sp.counters)
            sp.counters = totals

    @staticmethod
    def self_seconds(spans: list[Span]) -> dict[str, float]:
        """Per layer: span time minus the part of it covered by child spans."""
        children: dict[int, list[Span]] = {}
        for sp in spans:
            if sp.parent is not None:
                children.setdefault(sp.parent, []).append(sp)
        out: dict[str, float] = {}
        for sp in spans:
            covered, last = 0.0, sp.start
            for c in sorted(children.get(sp.id, []), key=lambda c: c.start):
                s, e = max(c.start, last), min(c.end, sp.end)
                if e > s:
                    covered += e - s
                    last = e
            out[sp.layer] = out.get(sp.layer, 0.0) + sp.seconds - covered
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


def _stage_counters(sc, store, stage_id: int) -> dict[str, float]:
    """Sum of the counters over every attempt of one stage."""
    out = dict.fromkeys(STAGE_COUNTERS, 0.0)
    attempts = store.stageData(stage_id, False, sc._jvm.java.util.ArrayList(), False, None)
    for i in range(attempts.size()):
        data = attempts.apply(i)
        for name, getter in STAGE_COUNTERS.items():
            getters = getter if isinstance(getter, tuple) else (getter,)
            out[name] += float(sum(getattr(data, g)() for g in getters))
    return out
