"""Spans around calls into the program, joined to Spark's event log.

Spans are recorded by the benchmark from outside the program: each one
holds its name, start, end, parent and request id, and is kept in
memory until the run ends.  While a span is open its id is the Spark
job group and its name the job description, so the event log is
self-describing.  Jobs started from threads the program creates
internally do not inherit the group; those are attributed to the
innermost span whose interval contains the job's submission time
(one client, so spans never overlap except by nesting).
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    request: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when ``enabled``; otherwise every call is a no-op
    apart from the timing the caller reads from the span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._sc = None
        self._next = 0

    def attach(self, spark) -> None:
        self._sc = spark.sparkContext if self.enabled else None

    @contextlib.contextmanager
    def span(self, name: str, request: int | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        if request is None and parent is not None:
            request = parent.request
        s = Span(self._next, name, parent.id if parent else None, request, 0.0, attrs=attrs)
        self._next += 1
        if self.enabled:
            self._tag(s)
            self.spans.append(s)
        self._stack.append(s)
        s.start = time.time()
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self.enabled:
                self._tag(self._stack[-1] if self._stack else None)

    def _tag(self, s: Span | None) -> None:
        if self._sc is None:
            return
        if s is None:
            self._sc.setLocalProperty("spark.jobGroup.id", None)
            self._sc.setLocalProperty("spark.job.description", None)
        else:
            self._sc.setJobGroup(f"perfbench-{s.id}", s.name)
            self._sc.setJobDescription(f"{s.name} req={s.request}")

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([s.__dict__ for s in self.spans], f)


# -- event log ------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    submit: float
    end: float = 0.0
    stages: list[int] = field(default_factory=list)
    tasks: int = 0
    stages_run: set = field(default_factory=set)
    cpu_s: float = 0.0
    max_task_s: float = 0.0
    sched_delay_s: float = 0.0
    shuffle_write_b: int = 0
    shuffle_read_b: int = 0
    spill_b: int = 0
    output_b: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs with their stage and task metrics summed per job."""
    # Spark 4 rolls event logs by default: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        os.path.join(d, f) for d, _, files in os.walk(log_dir) for f in files
        if not f.startswith(("appstatus", "."))
    )
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path, errors="replace") as f:
            for line in f:
                try:
                    ev = json.loads(line)
                except json.JSONDecodeError:
                    continue
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    j = Job(
                        ev["Job ID"],
                        props.get("spark.jobGroup.id"),
                        ev["Submission Time"] / 1000.0,
                        stages=[s["Stage ID"] for s in ev.get("Stage Infos", [])],
                    )
                    jobs[j.id] = j
                    for sid in j.stages:
                        stage_job[sid] = j.id
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    j = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if j is None:
                        continue
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    dur = (info["Finish Time"] - info["Launch Time"]) / 1000.0
                    run = m.get("Executor Run Time", 0) / 1000.0
                    overhead = (
                        m.get("Executor Deserialize Time", 0)
                        + m.get("Result Serialization Time", 0)
                        + info.get("Getting Result Time", 0)
                    ) / 1000.0
                    j.tasks += 1
                    j.stages_run.add(ev["Stage ID"])
                    j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    j.max_task_s = max(j.max_task_s, dur)
                    j.sched_delay_s += max(0.0, dur - run - overhead)
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    j.shuffle_write_b += sw.get("Shuffle Bytes Written", 0)
                    j.shuffle_read_b += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    j.spill_b += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    j.output_b += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    return sorted(jobs.values(), key=lambda j: j.submit)


def attribute(spans: list[Span], jobs: list[Job]) -> dict[int, list[Job]]:
    """span id -> jobs run inside it (its own and its descendants')."""
    by_group = {f"perfbench-{s.id}": s for s in spans}
    children: dict[int | None, list[Span]] = {}
    for s in spans:
        children.setdefault(s.parent, []).append(s)

    def innermost(t: float) -> Span | None:
        best = None
        level = children.get(None, [])
        while True:
            hit = next((s for s in level if s.start <= t <= s.end), None)
            if hit is None:
                return best
            best, level = hit, children.get(hit.id, [])

    own: dict[int, list[Job]] = {}
    for j in jobs:
        s = by_group.get(j.group) or innermost(j.submit)
        if s is not None:
            own.setdefault(s.id, []).append(j)
    parent = {s.id: s.parent for s in spans}
    inclusive: dict[int, list[Job]] = {}
    for sid, js in own.items():
        p = sid
        while p is not None:
            inclusive.setdefault(p, []).extend(js)
            p = parent[p]
    return inclusive


def busy_seconds(span: Span, jobs: list[Job]) -> float:
    """Part of the span's interval during which at least one job ran."""
    iv = sorted((max(j.submit, span.start), min(j.end or span.end, span.end)) for j in jobs)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
