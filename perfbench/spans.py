"""Spans, Spark job groups, process-tree sampling and event-log reduction.

Spans are recorded only by the benchmark, around its calls into the
engine's layers; nothing inside ``ferenda_spark`` is instrumented.  A
span is (name, start, end, parent, pass id).  Spans live in memory and
are written out once, at the end of a traced run.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")


class Tracer:
    """Wraps every layer call in a span.  Traced, each span also runs
    under its own Spark job group ``<pass>|<span index>|<name>``, so the
    event log can be cut by span; untraced, all jobs of a pass share
    the job group ``<pass>``, which is enough to count failed tasks."""

    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.pass_id = ""

    @contextmanager
    def run_pass(self, pass_id: str):
        self.pass_id = pass_id
        self.sc.setJobGroup(pass_id, pass_id)
        try:
            with self.call("pass"):
                yield
        finally:
            self.sc.setJobGroup("idle", "idle")

    @contextmanager
    def call(self, name: str):
        idx = len(self.spans)
        span = {"name": name, "pass": self.pass_id,
                "parent": self._stack[-1] if self._stack else None,
                "group": "%s|%d|%s" % (self.pass_id, idx, name)
                if self.traced else self.pass_id,
                "start": time.time()}
        self.spans.append(span)
        self._stack.append(idx)
        if self.traced:
            self.sc.setJobGroup(span["group"], name)
        try:
            yield
        finally:
            span["end"] = time.time()
            self._stack.pop()
            if self.traced and self._stack:
                parent = self.spans[self._stack[-1]]
                self.sc.setJobGroup(parent["group"], parent["name"])

    def pass_spans(self, pass_id: str) -> list[dict]:
        return [s for s in self.spans if s["pass"] == pass_id]

    def failed_tasks(self, pass_id: str) -> tuple[int, int]:
        """(failed or retried tasks, tasks) of an untraced pass, from
        the status tracker."""
        st = self.sc.statusTracker()
        failed = tasks = 0
        for job in st.getJobIdsForGroup(pass_id):
            info = st.getJobInfo(job)
            for stage in (info.stageIds if info else []):
                si = st.getStageInfo(stage)
                if si is None:
                    continue
                tasks += si.numTasks
                failed += si.numFailedTasks + (si.currentAttemptId > 0)
        return failed, tasks


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span index → its duration minus the time its children cover."""
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    out = {}
    for i, s in enumerate(spans):
        covered = union_length((k["start"], k["end"])
                               for k in kids.get(i, []))
        out[i] = (s["end"] - s["start"]) - covered
    return out


def union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def write_spans(tracer: Tracer, path: str) -> None:
    st = self_times(tracer.spans)
    with open(path, "w") as f:
        for i, s in enumerate(tracer.spans):
            rec = dict(s, id=i, self_s=round(st[i], 6))
            f.write(json.dumps(rec) + "\n")


# ---------------------------------------------------------- process tree

def _proc_table() -> dict[int, tuple[int, int]]:
    """pid → (ppid, cpu ticks incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open("/proc/%s/stat" % name) as f:
                raw = f.read()
        except OSError:
            continue
        fields = raw[raw.rindex(")") + 2:].split()
        # fields[0] is field 3 (state): ppid=4, utime..cstime=14..17
        out[int(name)] = (int(fields[1]),
                          sum(int(x) for x in fields[11:15]))
    return out


def _pss_kb(pid: int) -> int:
    """Proportional set size: resident pages, each shared page split
    among the processes that map it."""
    try:
        with open("/proc/%d/smaps_rollup" % pid) as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _tree(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    todo, seen = [root], []
    while todo:
        pid = todo.pop()
        seen.append(pid)
        todo.extend(kids.get(pid, []))
    return seen


def descendants(root: int) -> list[int]:
    return _tree(_proc_table(), root)[1:]


def wait_gone(pids: list[int], timeout: float = 30.0) -> None:
    """Wait until every pid has exited; terminate, then kill, any that
    outlive ``timeout``."""
    import signal
    deadline = time.monotonic() + timeout
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in pids:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 5
        while pids and time.monotonic() < deadline:
            pids = [p for p in pids if os.path.exists("/proc/%d" % p)]
            time.sleep(0.1)
        if not pids:
            return


def tree_usage(root: int | None = None) -> tuple[float, float]:
    """(cpu seconds, PSS MB) summed over the process tree under root:
    the driver, its JVM and the JVM's Python workers.  PSS, not RSS:
    the JVM forks short-lived helpers and the Python workers fork from
    one daemon, and RSS would count their shared pages once per
    process, so a sample landing on a fork read up to twice the JVM."""
    table = _proc_table()
    pids = [p for p in _tree(table, root or os.getpid()) if p in table]
    cpu = sum(table[p][1] for p in pids) / _CLK_TCK
    return cpu, sum(_pss_kb(p) for p in pids) / 1024


class TreeSampler:
    """CPU seconds and peak PSS of the process tree over an interval;
    PSS is sampled from a background thread every ``period`` s."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self._stop = threading.Event()
        self._thread = None
        self.peak_mb = 0.0
        self.cpu_s = 0.0

    def __enter__(self):
        self._cpu0, self.peak_mb = tree_usage()
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def _loop(self):
        while not self._stop.wait(self.period):
            self.peak_mb = max(self.peak_mb, tree_usage()[1])

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        cpu1, pss = tree_usage()
        self.peak_mb = max(self.peak_mb, pss)
        self.cpu_s = cpu1 - self._cpu0
        return False


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of the (uncompressed) logs under ``log_dir``."""
    events = []
    for base, _, names in os.walk(log_dir):
        for name in sorted(names):
            if name.startswith((".", "appstatus")):
                continue
            with open(os.path.join(base, name)) as f:
                events.extend(json.loads(line) for line in f if line.strip())
    return events


def reduce_event_log(events: list[dict]) -> dict[str, dict]:
    """Job group → jobs, stages, tasks, failed or retried tasks,
    executor CPU/GC, shuffle read/write, spill, records written, job
    intervals, and task_skew: slowest over median task of its widest
    stage."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def agg(group):
        return groups.setdefault(group, {
            "jobs": 0, "stages": set(), "tasks": 0, "failed_tasks": 0,
            "cpu_s": 0.0, "gc_s": 0.0, "shuffle_write_bytes": 0,
            "shuffle_read_bytes": 0, "spill_bytes": 0, "records_written": 0,
            "job_intervals": {}, "stage_tasks": {}})

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            group = (e.get("Properties") or {}).get("spark.jobGroup.id", "")
            g = agg(group)
            g["jobs"] += 1
            g["job_intervals"][e["Job ID"]] = [e["Submission Time"] / 1e3,
                                               None]
            for sid in e.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
            stage_group.setdefault(("job", e["Job ID"]), group)
        elif kind == "SparkListenerJobEnd":
            g = agg(stage_group.get(("job", e["Job ID"]), ""))
            if e["Job ID"] in g["job_intervals"]:
                g["job_intervals"][e["Job ID"]][1] = \
                    e["Completion Time"] / 1e3
        elif kind == "SparkListenerTaskEnd":
            g = agg(stage_group.get(e["Stage ID"], ""))
            info, m = e["Task Info"], e.get("Task Metrics") or {}
            g["tasks"] += 1
            g["stages"].add(e["Stage ID"])
            if info.get("Failed") or info.get("Killed") or \
                    e.get("Stage Attempt ID", 0) > 0:
                g["failed_tasks"] += 1
            g["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
            g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
            g["spill_bytes"] += (m.get("Memory Bytes Spilled", 0) +
                                 m.get("Disk Bytes Spilled", 0))
            sw = m.get("Shuffle Write Metrics") or {}
            g["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            g["records_written"] += (m.get("Output Metrics") or {}).get(
                "Records Written", 0)
            sr = m.get("Shuffle Read Metrics") or {}
            g["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0) +
                                        sr.get("Local Bytes Read", 0))
            g["stage_tasks"].setdefault(e["Stage ID"], []).append(
                info["Finish Time"] - info["Launch Time"])
    for g in groups.values():
        g["stages"] = len(g["stages"])
        widest = max(g["stage_tasks"].values(), key=len, default=[])
        g["task_skew"] = (max(widest) / max(statistics.median(widest), 1)
                          if widest else 1.0)
        g["job_intervals"] = [tuple(iv) for iv in
                              g.pop("job_intervals").values()
                              if iv[1] is not None]
        del g["stage_tasks"]
    return groups
