"""Per-layer probes: spans recorded around the benchmark's calls into
the program, counters read from Spark's status store, and a probe of
the host's current speed.

Nothing here runs inside the program; every number is read from the
outside, at the boundary of the call the benchmark makes.
"""

from __future__ import annotations

import json
import time
from dataclasses import dataclass, field

_PYTHON_NODES = ("BatchEvalPython", "ArrowEvalPython", "MapInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                 "WindowInPandas")


@dataclass
class Span:
    name: str
    query_id: str
    parent: str | None
    start: float
    end: float
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span log, written out once at the end of the run."""

    def __init__(self):
        self._t0 = time.perf_counter()
        self.spans: list[Span] = []

    def add(self, name: str, query_id: str, start: float, end: float,
            parent: str | None = None, **attrs) -> Span:
        s = Span(name, query_id, parent, start - self._t0, end - self._t0, attrs)
        self.spans.append(s)
        return s

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


class SparkProbe:
    """Counters of one SparkContext, read through py4j."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self.tracker = self.sc.statusTracker()

    def jobs(self, group: str) -> list[int]:
        return list(self.tracker.getJobIdsForGroup(group))

    def stage_totals(self, job_ids: list[int]) -> dict:
        """Tasks, input, shuffle-write and spill bytes over the jobs' stages."""
        self._jsc.listenerBus().waitUntilEmpty()
        store = self._jsc.statusStore()
        out = {"tasks": 0, "input_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        seen = set()
        for j in job_ids:
            info = self.tracker.getJobInfo(j)
            for sid in (info.stageIds if info is not None else ()):
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — evicted from the store
                    continue
                out["tasks"] += sd.numCompleteTasks()
                out["input_bytes"] += sd.inputBytes()
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["spill_bytes"] += sd.diskBytesSpilled()
        return out

    @staticmethod
    def plan(df) -> tuple[float, str]:
        """Seconds to force the physical plan, and the plan text."""
        t = time.perf_counter()
        plan = df._jdf.queryExecution().executedPlan()
        sec = time.perf_counter() - t
        return sec, plan.toString()

    @staticmethod
    def plan_counts(text: str) -> dict:
        return {"exchanges": text.count("Exchange") - text.count("ReusedExchange"),
                "python_nodes": sum(text.count(n) for n in _PYTHON_NODES)}

    def cached_bytes(self) -> int:
        return sum(int(r.memSize()) + int(r.diskSize())
                   for r in self._jsc.getRDDStorageInfo())

    def gc_seconds(self) -> float:
        beans = self._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
        return sum(max(0, b.getCollectionTime()) for b in beans) / 1000.0

    def host_job(self, reps: int = 3) -> float:
        """Seconds a fixed no-op job takes now: one empty task per task
        slot, through the scheduler and executor threads every query's
        jobs go through (median of ``reps``). It runs on the RDD API, so
        no SQL setting and nothing the program builds is part of it."""
        slots = self.sc.defaultParallelism
        times = []
        for _ in range(reps):
            t = time.perf_counter()
            self._jsc.range(0, slots, 1, slots).count()
            times.append(time.perf_counter() - t)
        return sorted(times)[reps // 2]

    def jvm_pid(self) -> int | None:
        proc = getattr(self.sc._gateway, "proc", None)
        return proc.pid if proc is not None else None


def peak_rss_mb(pid: int | None) -> float:
    """Peak RSS of this process plus the JVM ``pid`` (VmHWM), in MB."""
    total_kb = 0
    for p in ("self", str(pid) if pid else None):
        if p is None:
            continue
        try:
            with open(f"/proc/{p}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0
