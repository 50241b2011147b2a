"""Spans, Spark status-store reads and process memory, all from outside the
engine.

A :class:`Tracer` records spans in memory (name, start, end, parent, pass
id) and runs the Spark work inside each span under its own job group, so
:class:`StatusStore` can later attribute jobs, stages, tasks and SQL metrics
to the span. The status store is read through the Spark UI's local REST
endpoint once the run's timed work is over.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    pass_id: int = 0
    group: str = ""

    @property
    def dur(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    sc: object
    spans: list[Span] = field(default_factory=list)
    pass_id: int = 0
    _stack: list[int] = field(default_factory=list)

    @contextmanager
    def span(self, name: str):
        """Time the block as a child of the innermost open span; Spark jobs
        started inside run under the job group ``<pass>:<name>``."""
        sp = Span(name, time.perf_counter(), parent=self._stack[-1] if self._stack else None,
                  pass_id=self.pass_id, group=f"p{self.pass_id}:{name}")
        self.spans.append(sp)
        idx = len(self.spans) - 1
        outer = self.spans[self._stack[-1]].group if self._stack else None
        self._stack.append(idx)
        self.sc.setJobGroup(sp.group, sp.group)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            if outer is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(outer, outer)

    def children(self, idx: int) -> list[int]:
        return [i for i, s in enumerate(self.spans) if s.parent == idx]

    def self_time(self, idx: int) -> float:
        return self.spans[idx].dur - sum(self.spans[c].dur for c in self.children(idx))

    def to_json(self) -> list[dict]:
        t0 = min((s.start for s in self.spans), default=0.0)
        return [
            {"id": i, "name": s.name, "pass": s.pass_id, "parent": s.parent,
             "start_s": s.start - t0, "end_s": s.end - t0, "self_s": self.self_time(i),
             "job_group": s.group}
            for i, s in enumerate(self.spans)
        ]


# ---------------------------------------------------------------------------
# Spark status store (Spark UI REST API on localhost)
# ---------------------------------------------------------------------------

_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
_TIME = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_metric(value: str) -> float:
    """Total of a SQL metric string: '5,509', '7.6 MiB', '12 ms', or the
    'total (min, med, max ...)\\n<total> (...)' form. Sizes in bytes, times
    in seconds."""
    if "\n" in value:
        value = value.split("\n", 1)[1].split(" (", 1)[0]
    m = re.match(r"\s*([-\d.,]+)\s*([A-Za-z]*)", value)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return num * _SIZE.get(unit, _TIME.get(unit, 1.0))


def _utc(ts: str | None) -> float:
    """Epoch seconds of a status-store timestamp ('...GMT')."""
    if not ts:
        return 0.0
    import calendar

    base, frac = ts.replace("GMT", "").split(".")
    return calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S")) + float("0." + frac)


class StatusStore:
    """Jobs, stages, task summaries and SQL metrics per job group."""

    def __init__(self, sc):
        # proxies are bypassed: the endpoint is this process's own Spark UI
        self._open = urllib.request.build_opener(urllib.request.ProxyHandler({})).open
        self._base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
        self.jobs = self._get("/jobs")
        self.stages = {(s["stageId"], s["attemptId"]): s for s in self._get("/stages")}
        self.sql = self._get("/sql?details=true&planDescription=false&length=100000")

    def _get(self, path: str):
        with self._open(self._base + path, timeout=30) as r:
            return json.loads(r.read())

    def group(self, group: str) -> "GroupStats":
        jobs = [j for j in self.jobs if j.get("jobGroup") == group]
        ids = {j["jobId"] for j in jobs}
        stage_ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for (sid, _), s in self.stages.items()
                  if sid in stage_ids and s["status"] == "COMPLETE"]
        plans = [q for q in self.sql
                 if ids & set(q.get("successJobIds", []) + q.get("failedJobIds", []))]
        return GroupStats(self, jobs, stages, plans)


#: plan nodes that pass rows through unchanged in number on the way into a
#: join (wrappers, exchanges, sorts, projections)
_PASS_THROUGH = ("Exchange", "Sort", "Project", "Filter", "InputAdapter", "AQEShuffleRead",
                 "QueryStage", "ColumnarToRow", "WholeStageCodegen")


@dataclass
class GroupStats:
    store: StatusStore
    jobs: list
    stages: list
    plans: list  # SQL executions: nodes with metrics, and edges

    @property
    def nodes(self) -> list:
        return [n for q in self.plans for n in q.get("nodes", [])]

    def stage_sum(self, key: str) -> float:
        return float(sum(s.get(key, 0) for s in self.stages))

    @property
    def tasks(self) -> int:
        return int(sum(s["numTasks"] for s in self.stages))

    def busy_intervals(self) -> float:
        """Seconds covered by the union of this group's job intervals."""
        iv = sorted((_utc(j.get("submissionTime")), _utc(j.get("completionTime"))) for j in self.jobs)
        total, end = 0.0, float("-inf")
        for a, b in iv:
            if b > end:
                total += b - max(a, end)
                end = b
        return total

    def node_metric(self, node: str, metric: str, reduce=sum) -> float:
        vals = [parse_metric(m["value"]) for n in self.nodes if node in n["nodeName"]
                for m in n.get("metrics", []) if m["name"] == metric]
        return float(reduce(vals)) if vals else 0.0

    def key_join_rows(self) -> float:
        """Rows out of the joins fed by a Generate (an explode of join keys),
        as Spark counts them: a filter on both sides runs inside the join."""
        total = 0.0
        for q in self.plans:
            nodes = {n["nodeId"]: n for n in q.get("nodes", [])}
            inputs: dict = {}
            for e in q.get("edges", []):
                inputs.setdefault(e["toId"], []).append(e["fromId"])
            for nid, n in nodes.items():
                if "Join" not in n["nodeName"]:
                    continue
                frontier, fed = list(inputs.get(nid, [])), False
                while frontier and not fed:
                    c = nodes.get(frontier.pop())
                    if c is None:
                        continue
                    fed = c["nodeName"] == "Generate"
                    if any(p in c["nodeName"] for p in _PASS_THROUGH):
                        frontier.extend(inputs.get(c["nodeId"], []))
                if fed:
                    total += sum(parse_metric(m["value"]) for m in n.get("metrics", [])
                                 if m["name"] == "number of output rows")
        return total

    def task_skew(self) -> float:
        """Max / median task run time in the group's busiest stage."""
        if not self.stages:
            return 0.0
        s = max(self.stages, key=lambda s: s["executorRunTime"])
        q = self.store._get(f"/stages/{s['stageId']}/{s['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return mx / med if med else 0.0


# ---------------------------------------------------------------------------
# peak resident memory of this process tree
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def tree_pids(root: int) -> set[int]:
    """``root`` and all its descendants (the Spark JVM and its Python
    workers), from /proc."""
    parent: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parent[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = {root}, [root]
    while frontier:
        p = frontier.pop()
        kids = [c for c, pp in parent.items() if pp == p and c not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of ``root`` and all its descendants."""
    total = 0
    for pid in tree_pids(root):
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except (OSError, IndexError, ValueError):
            continue
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds while a
    pass is active; ``peaks`` holds each pass's largest sample in bytes."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peaks: list[int] = []
        self._peak = 0
        self._pass = 0  # bumped per pass, so a sample taken in one pass never lands in the next
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self):
        while not self._stop.is_set():
            if self._on.wait(0.5) and not self._stop.is_set():
                with self._lock:
                    current = self._pass
                rss = tree_rss_bytes(os.getpid())
                with self._lock:
                    if current == self._pass:
                        self._peak = max(self._peak, rss)
                self._stop.wait(self.interval)

    @contextmanager
    def active(self):
        rss = tree_rss_bytes(os.getpid())
        with self._lock:
            self._pass += 1
            self._peak = rss
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            rss = tree_rss_bytes(os.getpid())
            with self._lock:
                self._pass += 1
                self.peaks.append(max(self._peak, rss))

    def close(self):
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=5)
