"""Per-span totals from a Spark event log.

The benchmark names a span around every public engine call with
``SparkContext.setJobGroup(span, span)``; Spark stamps each job it
submits from that thread with ``spark.jobGroup.id``.  Each job is also
stamped with ``callSite.short`` (``"collect at /path/query.py:330"``),
which ``CallSites`` resolves to the enclosing Python function.

Nothing is dropped.  Two kinds of job escape one of the two
attributions and are counted as such:

* jobs submitted from a helper thread carry no job group; they are
  charged to the span whose wall interval holds their submission time
  and counted in that span's ``unattributed_jobs``;
* jobs submitted straight through the JVM (DataFrame writes) carry no
  Python call site; ``Log.unresolved_callsite_jobs`` counts them.
"""

from __future__ import annotations

import ast
import json
import os
import re
from dataclasses import dataclass, field

_CALLSITE = re.compile(r"^\S+ at (.+\.py):(\d+)$")


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    run_ms: int
    gc_ms: int
    failed: bool
    shuffle_write_bytes: int
    spill_bytes: int
    input_rows: int
    input_bytes: int


@dataclass
class Job:
    id: int
    group: str | None
    callsite: str | None
    submit_ms: int
    end_ms: int | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class Totals:
    jobs: int = 0
    unattributed_jobs: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_busy_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_rows: int = 0
    input_bytes: int = 0
    job_wall_s: float = 0.0   # union of the spans' job intervals
    max_task_skew: float = 1.0  # max over stages of slowest / mean task


def _task(ev: dict) -> Task:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    return Task(
        stage=ev["Stage ID"],
        launch_ms=info["Launch Time"],
        finish_ms=info["Finish Time"],
        run_ms=m.get("Executor Run Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        failed=bool(info.get("Failed")),  # a killed task is cancelled, not failed
        shuffle_write_bytes=m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        input_rows=m.get("Input Metrics", {}).get("Records Read", 0),
        input_bytes=m.get("Input Metrics", {}).get("Bytes Read", 0),
    )


def event_files(log_dir: str) -> list[str]:
    """Event files of every application logged under ``log_dir``, in
    write order (Spark 4 rolls each log into ``eventlog_v2_*/events_N_*``)."""
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path):
            parts = [p for p in os.listdir(path) if p.startswith("events_")]
            out += [os.path.join(path, p) for p in sorted(parts, key=lambda p: int(p.split("_")[1]))]
        elif not entry.startswith("."):
            out.append(path)
    return out


class Log:
    def __init__(self, lines):
        self.jobs: dict[int, Job] = {}
        self.tasks: list[Task] = []
        for line in lines:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                self.jobs[ev["Job ID"]] = Job(
                    id=ev["Job ID"],
                    group=props.get("spark.jobGroup.id"),
                    callsite=props.get("callSite.short"),
                    submit_ms=ev["Submission Time"],
                    stages=list(ev.get("Stage IDs", [])),
                )
            elif kind == "SparkListenerJobEnd" and ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(_task(ev))
        # a stage listed by several jobs (a reused shuffle) runs its tasks
        # in the first of them; later jobs only skip it
        self.stage_job: dict[int, int] = {}
        for job in sorted(self.jobs.values(), key=lambda j: j.id):
            for s in job.stages:
                self.stage_job.setdefault(s, job.id)

    @classmethod
    def read(cls, log_dir: str) -> "Log":
        def lines():
            for path in event_files(log_dir):
                with open(path) as f:
                    yield from f

        return cls(lines())

    @property
    def unattributed_jobs(self) -> int:
        return sum(1 for j in self.jobs.values() if j.group is None)

    def unresolved_callsite_jobs(self, sites: "CallSites") -> int:
        return sum(1 for j in self.jobs.values() if sites.function(j.callsite) is None)

    def attribute(self, spans: list[tuple[str, float, float]]) -> dict[str, Totals]:
        """Totals per span name.  ``spans`` are (name, start_ms, end_ms);
        several spans may share a name (one per call) and add up."""
        owner: dict[int, str] = {}
        names = {name for name, _, _ in spans}
        for job in self.jobs.values():
            if job.group in names:
                owner[job.id] = job.group
            elif job.group is None:
                for name, t0, t1 in spans:
                    if t0 <= job.submit_ms <= t1:
                        owner[job.id] = name
                        break
        out = {name: Totals() for name in names}
        intervals: dict[str, list[tuple[int, int]]] = {name: [] for name in names}
        for jid, name in owner.items():
            job, tot = self.jobs[jid], out[name]
            tot.jobs += 1
            tot.unattributed_jobs += job.group is None
            if job.end_ms is not None:
                intervals[name].append((job.submit_ms, job.end_ms))
        by_stage: dict[int, list[Task]] = {}
        for t in self.tasks:
            name = owner.get(self.stage_job.get(t.stage, -1))
            if name is None:
                continue
            by_stage.setdefault(t.stage, []).append(t)
            tot = out[name]
            tot.tasks += 1
            tot.failed_tasks += t.failed
            tot.task_busy_s += t.run_ms / 1000.0
            tot.gc_s += t.gc_ms / 1000.0
            tot.shuffle_write_bytes += t.shuffle_write_bytes
            tot.spill_bytes += t.spill_bytes
            tot.input_rows += t.input_rows
            tot.input_bytes += t.input_bytes
        for stage, tasks in by_stage.items():
            if len(tasks) < 2:
                continue
            durs = [t.finish_ms - t.launch_ms for t in tasks]
            mean = sum(durs) / len(durs)
            if mean > 0:
                tot = out[owner[self.stage_job[stage]]]
                tot.max_task_skew = max(tot.max_task_skew, max(durs) / mean)
        for name, iv in intervals.items():
            out[name].job_wall_s = union_ms(iv) / 1000.0
        return out

    def by_function(self, sites: "CallSites") -> dict[str, tuple[int, float]]:
        """Resolved function (or the raw call site) -> (jobs, task busy s)."""
        busy: dict[int, float] = {}
        for t in self.tasks:
            jid = self.stage_job.get(t.stage)
            if jid is not None:
                busy[jid] = busy.get(jid, 0.0) + t.run_ms / 1000.0
        out: dict[str, tuple[int, float]] = {}
        for job in self.jobs.values():
            key = sites.function(job.callsite) or f"<unresolved: {job.callsite}>"
            n, s = out.get(key, (0, 0.0))
            out[key] = (n + 1, s + busy.get(job.id, 0.0))
        return out


def union_ms(intervals: list[tuple[int, int]]) -> int:
    """Total length covered by possibly overlapping [start, end] intervals."""
    total, cur_s, cur_e = 0, None, None
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


class CallSites:
    """``"collect at <file.py>:<line>"`` -> ``"<module>.<qualname>"`` of the
    innermost function or class holding that line.  Paths are resolved
    against ``root``; module names are relative to it."""

    def __init__(self, root: str):
        self.root = root
        self._files: dict[str, list[tuple[int, int, str]]] = {}

    def _defs(self, path: str) -> list[tuple[int, int, str]]:
        if path not in self._files:
            try:
                with open(path) as f:
                    tree = ast.parse(f.read())
            except (OSError, SyntaxError):
                tree = None
            defs: list[tuple[int, int, str]] = []

            def walk(node, prefix):
                for child in ast.iter_child_nodes(node):
                    if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                        name = f"{prefix}{child.name}"
                        defs.append((child.lineno, child.end_lineno, name))
                        walk(child, name + ".")
                    else:
                        walk(child, prefix)

            if tree is not None:
                walk(tree, "")
            self._files[path] = defs
        return self._files[path]

    def function(self, callsite: str | None) -> str | None:
        m = _CALLSITE.match(callsite or "")
        if not m:
            return None
        path, line = m.group(1), int(m.group(2))
        full = path if os.path.isabs(path) else os.path.join(self.root, path)
        inner = None
        for lo, hi, name in self._defs(full):
            if lo <= line <= hi and (inner is None or lo >= inner[0]):
                inner = (lo, name)
        if inner is None:
            return None
        rel = os.path.relpath(full, self.root)
        module = rel[:-3].replace(os.sep, ".") if not rel.startswith("..") else os.path.basename(rel)[:-3]
        return f"{module}.{inner[1]}"
