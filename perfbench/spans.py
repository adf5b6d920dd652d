"""Spans, per-layer job groups and event-log counters for the traced run.

Every layer call the benchmark makes is wrapped in :meth:`Tracer.span`,
which

- runs the call under its own Spark job group, so the jobs and tasks it
  launched can be read back from ``statusTracker``;
- records a span (name, start, end, parent, workload, run id) in memory,
  with the wall and process-tree CPU seconds the call took;
- times its own bookkeeping, reported as ``trace.overhead_s``.

Shuffle-write and spill bytes per job group come from the Spark event
log, which is complete only after the session stops
(:func:`eventlog_by_group`).
"""

from __future__ import annotations

import contextlib
import glob
import json
import time
from dataclasses import asdict, dataclass, field

from proctree import ProcTree


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None
    workload: str
    run_id: str
    wall_s: float = 0.0
    cpu_s: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    """In-memory spans for one traced run; see the module docstring."""

    def __init__(self, spark, tree: ProcTree, workload: str, run_id: str):
        self.sc = spark.sparkContext
        self.tree = tree
        self.workload = workload
        self.run_id = run_id
        self.spans: list[Span] = []
        self.overhead_s = 0.0
        self._stack: list[str] = []

    def group(self, name: str) -> str:
        return f"{self.run_id}/{name}"

    @contextlib.contextmanager
    def span(self, name: str):
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        self.sc.setJobGroup(self.group(name), name)
        cpu0 = self.tree.cpu_s()
        self._stack.append(name)
        sp = Span(name, 0.0, 0.0, parent, self.workload, self.run_id)
        t0 = time.perf_counter()
        self.overhead_s += t0 - t_in
        try:
            yield sp
        finally:
            t1 = time.perf_counter()
            sp.start, sp.end, sp.wall_s = t0, t1, t1 - t0
            sp.cpu_s = self.tree.cpu_s() - cpu0
            self._stack.pop()
            self.sc.setJobGroup(self.group("bookkeeping"), "trace bookkeeping")
            sp.counts.update(self.jobs_and_tasks(name))
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t1

    def jobs_and_tasks(self, name: str) -> dict[str, int]:
        st = self.sc.statusTracker()
        jobs = st.getJobIdsForGroup(self.group(name))
        tasks = 0
        for j in jobs:
            info = st.getJobInfo(j)
            for s in info.stageIds if info else ():
                si = st.getStageInfo(s)
                tasks += si.numCompletedTasks if si else 0
        return {"jobs": len(jobs), "tasks": tasks}

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump([asdict(s) for s in self.spans], fh, indent=1)


def eventlog_by_group(evdir: str) -> dict[str, dict[str, float]]:
    """Per-job-group shuffle-write and spill MB from the event log.

    A stage is charged to the group of the first job that listed it
    (a stage reused by a later job completed once, under its first job).
    """
    job_group: dict[int, str] = {}
    stage_group: dict[int, str] = {}
    sums: dict[str, dict[str, float]] = {}
    for path in glob.glob(f"{evdir}/*"):
        with open(path) as fh:
            for line in fh:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                e = ev.get("Event")
                if e == "SparkListenerJobStart":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id", "")
                    job_group[ev["Job ID"]] = grp
                    for s in ev.get("Stage Infos", []):
                        stage_group.setdefault(s["Stage ID"], grp)
                elif e == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    acc = {a.get("Name"): a.get("Value") for a in si.get("Accumulables", [])}
                    rec = sums.setdefault(
                        stage_group.get(si["Stage ID"], ""),
                        {"shuffle_write_mb": 0.0, "spill_mb": 0.0},
                    )
                    rec["shuffle_write_mb"] += (
                        acc.get("internal.metrics.shuffle.write.bytesWritten") or 0
                    ) / 2**20
                    rec["spill_mb"] += (
                        acc.get("internal.metrics.diskBytesSpilled") or 0
                    ) / 2**20
    return sums
