"""Spans recorded around calls into the program, and the Spark event log
read back into per-span counters.

A span is (op id, name, parent, start, end). Spans live in memory and are
written out once, when the run ends. In a traced run every span also sets
its own Spark job group, so each job the span launches can be attributed
to it from the event log; jobs from threads that set their own group
(micro-batches of a streaming query) are attributed to the innermost span
whose time window contains the job's submission.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    op: str
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start

    @property
    def group(self) -> str:
        return f"perfbench-{self.sid}"


@dataclass
class Tracer:
    """Span recorder. Disabled, ``span`` only yields; nothing is recorded
    and no job group is set, so untraced runs pay no tracing cost."""

    enabled: bool
    spark: object = None
    spans: list[Span] = field(default_factory=list)
    _stack: list[Span] = field(default_factory=list)

    @contextmanager
    def span(self, op: str, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), op, name, parent.sid if parent else None,
                  time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        sc = self.spark.sparkContext
        sc.setJobGroup(sp.group, f"{op}:{name}")
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.group, f"{parent.op}:{parent.name}")
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as fh:
            json.dump({**extra, "spans": [sp.__dict__ for sp in self.spans]},
                      fh, indent=1)


def catalyst_phases(df) -> dict[str, float]:
    """Seconds per Catalyst phase (analysis, optimization, planning) of
    ``df``'s QueryExecution. Forces optimization and physical planning,
    which a noop write would otherwise do inside its own execution."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    out = {}
    it = qe.tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


_PY_SENT = "data sent to Python workers"
_PY_RECV = "data returned from Python workers"
#: plan nodes that run a Python map function over Arrow batches
#: (``mapInPandas``/``mapInArrow``); their output rows are what the
#: function produced, e.g. the rows a feed fetch returned
_PY_MAP_NODES = frozenset({"MapInPandas", "MapInArrow", "PythonMapInArrow"})


@dataclass
class JobStats:
    group: str | None
    start_ms: int
    end_ms: int = 0
    stages: set = field(default_factory=set)
    tasks: int = 0
    task_run_ms: int = 0
    task_gc_ms: int = 0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    py_sent: int = 0
    py_recv: int = 0
    #: rows produced by each Python map node (see ``_PY_MAP_NODES``),
    #: keyed by the node's output-row accumulator id
    py_map_rows: dict = field(default_factory=dict)
    #: Output Metrics of the job's tasks: what it wrote to files
    out_records: int = 0
    out_bytes: int = 0


def _py_map_row_ids(plan: dict, out: set[int]) -> None:
    """Collect the accumulator ids of the output-row metric of every
    Python map node in a SQL plan-info tree."""
    if plan["nodeName"] in _PY_MAP_NODES:
        out.update(m["accumulatorId"] for m in plan["metrics"]
                   if m["name"] == "number of output rows")
    for child in plan["children"]:
        _py_map_row_ids(child, out)


def read_event_log(path: str) -> list[JobStats]:
    """Per-job counters from an uncompressed, non-rolling event log."""
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    ran_stages: set[int] = set()
    py_map_ids: set[int] = set()
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev["Event"]
            if "sparkPlanInfo" in ev:  # SQL execution start, AQE re-plan
                _py_map_row_ids(ev["sparkPlanInfo"], py_map_ids)
            elif kind == "SparkListenerJobStart":
                js = JobStats(ev.get("Properties", {}).get("spark.jobGroup.id"),
                              ev["Submission Time"])
                jobs[ev["Job ID"]] = js
                for s in ev["Stage IDs"]:
                    # a stage runs in the first job that lists it; later
                    # jobs list it again only to skip it
                    stage_job.setdefault(s, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageCompleted":
                ran_stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                job = stage_job.get(ev["Stage ID"])
                if job is None:
                    continue
                js = jobs[job]
                js.tasks += 1
                tm = ev.get("Task Metrics") or {}
                js.task_run_ms += tm.get("Executor Run Time", 0)
                js.task_gc_ms += tm.get("JVM GC Time", 0)
                rd = tm.get("Shuffle Read Metrics", {})
                js.shuffle_read += rd.get("Remote Bytes Read", 0) + rd.get(
                    "Local Bytes Read", 0)
                js.shuffle_write += tm.get("Shuffle Write Metrics", {}).get(
                    "Shuffle Bytes Written", 0)
                js.spill += tm.get("Memory Bytes Spilled", 0) + tm.get(
                    "Disk Bytes Spilled", 0)
                out = tm.get("Output Metrics", {})
                js.out_records += out.get("Records Written", 0)
                js.out_bytes += out.get("Bytes Written", 0)
                for acc in ev["Task Info"].get("Accumulables", []):
                    if acc.get("Name") == _PY_SENT:
                        js.py_sent += int(acc.get("Update", 0))
                    elif acc.get("Name") == _PY_RECV:
                        js.py_recv += int(acc.get("Update", 0))
                    elif acc.get("ID") in py_map_ids:
                        js.py_map_rows[acc["ID"]] = js.py_map_rows.get(
                            acc["ID"], 0) + int(acc.get("Update", 0))
    for s in ran_stages:
        if s in stage_job:
            jobs[stage_job[s]].stages.add(s)
    return list(jobs.values())


def attribute_jobs(spans: list[Span], jobs: list[JobStats]) -> dict[int, list[JobStats]]:
    """Map span id -> jobs it launched (directly, not through children)."""
    by_group = {sp.group: sp.sid for sp in spans}
    out: dict[int, list[JobStats]] = {sp.sid: [] for sp in spans}
    for js in jobs:
        sid = by_group.get(js.group)
        if sid is None:
            t = js.start_ms / 1000.0
            inside = [sp for sp in spans if sp.start <= t <= sp.end]
            if not inside:
                continue
            sid = max(inside, key=lambda sp: sp.start).sid
        out[sid].append(js)
    return out


def covered_seconds(jobs: list[JobStats]) -> float:
    """Wall time covered by the union of the jobs' [submit, end] intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted((j.start_ms, j.end_ms) for j in jobs):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0
