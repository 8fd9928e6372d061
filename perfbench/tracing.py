"""Spans, Spark job groups, event-log counters and process-tree memory.

Spans are always kept (they time every op). Only a traced run tags each
layer call with its own Spark job group and enables the event log; the
per-group job, stage and task counters are parsed from that log after the
session stops.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


class Tracer:
    """In-memory spans: name, start, end, parent, op id.

    With `groups` set, a span opened with `group=True` runs its Spark jobs
    under the job group "<name>#<span id>", so the event log attributes
    every job, stage and task to exactly one layer call.
    """

    def __init__(self, sc=None, groups: bool = False):
        self.sc = sc
        self.groups = groups
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: int | None = None, group: bool = False):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent or {}).get("op"),
            "parent": parent["id"] if parent else None,
            "group": None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if self.groups and group:
            rec["group"] = f"{name}#{rec['id']}"
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["dur"] = time.perf_counter() - t0
            rec["end"] = rec["start"] + rec["dur"]
            self._stack.pop()
            if rec["group"]:
                outer = next((s["group"] for s in reversed(self._stack) if s["group"]), None)
                if outer:
                    self.sc.setJobGroup(outer, outer.split("#")[0])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


@dataclass
class GroupStats:
    """Spark counters of one job group, from the event log."""

    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    executor_run_ms: float = 0.0
    shuffle_write_bytes: int = 0
    job_spans_ms: list = field(default_factory=list)
    # stage id -> ([task run ms], shuffle bytes read)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))
    stage_shuffle_read: dict = field(default_factory=lambda: defaultdict(int))

    def add(self, other: "GroupStats") -> "GroupStats":
        out = GroupStats(
            self.jobs + other.jobs,
            self.stages + other.stages,
            self.tasks + other.tasks,
            self.executor_run_ms + other.executor_run_ms,
            self.shuffle_write_bytes + other.shuffle_write_bytes,
            self.job_spans_ms + other.job_spans_ms,
        )
        for src in (self, other):
            for k, v in src.stage_tasks.items():
                out.stage_tasks[k].extend(v)
            for k, v in src.stage_shuffle_read.items():
                out.stage_shuffle_read[k] += v
        return out

    def task_skew(self) -> float:
        """max / median task run time of the stage that read the most
        shuffle bytes; 0 when no stage read shuffle data."""
        read = {s: b for s, b in self.stage_shuffle_read.items() if b > 0}
        if not read:
            return 0.0
        widest = max(read, key=lambda s: (read[s], len(self.stage_tasks[s])))
        times = sorted(self.stage_tasks[widest])
        med = times[(len(times) - 1) // 2]
        return max(times) / med if med > 0 else float(max(times) > 0)


def parse_event_log(log_dir: str) -> dict[str, GroupStats]:
    """Per-job-group counters from the single application log in `log_dir`."""
    files = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    files = [f for f in files if os.path.isfile(f) and not f.endswith(".inprogress")]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    stats: dict[str, GroupStats] = defaultdict(GroupStats)
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    stage_group: dict[int, str] = {}
    with open(files[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    job_group[ev["Job ID"]] = group
                    job_start[ev["Job ID"]] = ev["Submission Time"]
                    stats[group].jobs += 1
            elif kind == "SparkListenerJobEnd":
                group = job_group.get(ev["Job ID"])
                if group:
                    stats[group].job_spans_ms.append(
                        (job_start[ev["Job ID"]], ev["Completion Time"])
                    )
            elif kind == "SparkListenerStageSubmitted":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                if group:
                    stage_group[ev["Stage Info"]["Stage ID"]] = group
                    stats[group].stages += 1
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev["Stage ID"])
                if not group:
                    continue
                st = stats[group]
                m = ev.get("Task Metrics") or {}
                run_ms = m.get("Executor Run Time", 0)
                st.tasks += 1
                st.executor_run_ms += run_ms
                st.stage_tasks[ev["Stage ID"]].append(run_ms)
                w = m.get("Shuffle Write Metrics") or {}
                st.shuffle_write_bytes += w.get("Shuffle Bytes Written", 0)
                r = m.get("Shuffle Read Metrics") or {}
                st.stage_shuffle_read[ev["Stage ID"]] += r.get(
                    "Remote Bytes Read", 0
                ) + r.get("Local Bytes Read", 0)
    return stats


def uncovered_ms(start_s: float, end_s: float, spans_ms: list) -> float:
    """Wall time in [start_s, end_s] (epoch seconds) not covered by any of
    the (start_ms, end_ms) job intervals."""
    lo, hi = start_s * 1000.0, end_s * 1000.0
    covered, cur = 0.0, lo
    for a, b in sorted(spans_ms):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            covered += b - a
            cur = b
    return max(hi - lo - covered, 0.0)


def tree_pids(root: int) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        children[ppid].append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _hwm_bytes(pid: int) -> int:
    """Peak resident set size (VmHWM) of one process, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak resident memory of this process tree (driver JVM and Python
    workers included): the sum over every process seen in the tree of its
    own peak (VmHWM). The tree is polled every `interval` seconds so that
    processes that exit early still count."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self._hwm: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def poll(self) -> None:
        for pid in tree_pids(os.getpid()):
            self._hwm[pid] = max(self._hwm.get(pid, 0), _hwm_bytes(pid))

    @property
    def peak(self) -> int:
        return sum(self._hwm.values())

    def by_process(self) -> dict[int, int]:
        return dict(self._hwm)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self.poll()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def jvm_gc_ms(spark) -> float:
    """Total collection time of every JVM garbage collector so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()))


def plan_nodes(df) -> int:
    """Node count of the DataFrame's analyzed logical plan."""
    todo, n = [df._jdf.queryExecution().analyzed()], 0
    while todo:
        node = todo.pop()
        n += 1
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return n
