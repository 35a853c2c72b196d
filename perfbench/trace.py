"""Measurement helpers: process-tree RSS sampling and Spark's REST metrics.

Everything is read from outside the program: RSS from ``/proc`` (one
sampler thread), and per-operator SQL metrics plus stage task durations
from the Spark UI REST API on localhost. Records stay in memory; the caller
writes one JSON file at the end.
"""

from __future__ import annotations

import json
import os
import re
import signal
import statistics
import threading
import time
import urllib.request
from typing import Dict, Iterable, List, Optional

_PAGE_KB = os.sysconf("SC_PAGE_SIZE") // 1024


def _children() -> Dict[int, List[int]]:
    kids: Dict[int, List[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE_KB / 1024.0
    except OSError:
        return 0.0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def end_python_daemons(jvm_pid: int, timeout: float = 15.0) -> None:
    """End the PySpark worker daemons still running under ``jvm_pid``.

    Call only while no SparkContext is active: a stopped context can leave
    its daemon (and its workers) alive for a while, and the next session's
    RSS would count them. A daemon ends its own process group, workers
    included, on SIGTERM; this waits for the workers too.
    """
    daemons = []
    for pid in _children().get(jvm_pid, []):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    daemons.append(pid)
        except OSError:
            continue
    procs = daemons + [w for pid in daemons for w in descendants(pid)]
    for pid in daemons:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.monotonic() + timeout
    while any(_alive(p) for p in procs) and time.monotonic() < deadline:
        time.sleep(0.05)
    _reap_zombies()


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")


def tree_cpu_s(root: int) -> float:
    """CPU seconds (user + system) spent so far by ``root`` and every
    process below it, ended ones included.

    A process that ended and was waited for is counted in its parent's
    ``cutime``/``cstime``; every parent here is inside the tree, since
    orphans re-parent to ``root`` (``become_subreaper``). Unlike wall time,
    this does not count time the host gave the vCPUs to someone else.
    """
    kids = _children()
    total, stack = 0.0, [root]
    while stack:
        pid = stack.pop()
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        # utime, stime, cutime, cstime are fields 14-17 of stat(5)
        total += sum(int(x) for x in fields[11:15]) * _TICK_S
        stack.extend(kids.get(pid, []))
    return total


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants (Linux's
    PR_SET_CHILD_SUBREAPER), so a worker whose parent ended first is still
    found and waited for by ``end_descendants``."""
    try:
        import ctypes

        ctypes.CDLL(None, use_errno=True).prctl(36, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def descendants(root: int) -> List[int]:
    """Every process below ``root`` that has not ended (zombies excluded)."""
    kids = _children()
    out, stack = [], list(kids.get(root, []))
    while stack:
        pid = stack.pop()
        if _alive(pid):
            out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


def _reap_zombies() -> None:
    for pid in _children().get(os.getpid(), []):
        if not _alive(pid):
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def end_descendants(grace: float = 5.0) -> None:
    """Stop every process this one started and wait until each has ended.

    The resource tracker that a spawn process pool starts lives until its
    pipe closes, so the pipe is closed first. Then whatever is left gets
    ``grace`` seconds to end on its own, then SIGTERM, then SIGKILL; every
    child that ended is reaped.
    """
    from multiprocessing import resource_tracker

    tracker = resource_tracker._resource_tracker
    with tracker._lock:
        if tracker._fd is not None:
            os.close(tracker._fd)
            tracker._fd = tracker._pid = None
    me = os.getpid()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in descendants(me):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        deadline = time.monotonic() + grace
        while True:
            _reap_zombies()
            if not descendants(me):
                return
            if time.monotonic() > deadline:
                break
            time.sleep(0.05)


def _exe(pid: int) -> str:
    try:
        return os.readlink(f"/proc/{pid}/exe")
    except OSError:
        return ""


def tree_rss(root: int) -> Dict[str, float]:
    """RSS in MB of ``root`` and its descendants, split by process kind.

    A child of the JVM that still runs the JVM's own executable is the
    JVM's spawn of a Python daemon caught between vfork and exec: it shares
    the JVM's pages, so counting it would add the JVM a second time.
    """
    kids = _children()
    out = {"driver": _rss_mb(root), "jvm": 0.0, "workers": 0.0}
    stack = [(pid, "") for pid in kids.get(root, [])]
    while stack:
        pid, parent_exe = stack.pop()
        exe = _exe(pid)
        is_jvm = os.path.basename(exe) == "java"
        if is_jvm and exe == parent_exe:
            continue
        out["jvm" if is_jvm else "workers"] += _rss_mb(pid)
        stack.extend((child, exe) for child in kids.get(pid, []))
    return out


class RssSampler:
    """Samples the RSS of this process tree every ``period`` seconds while
    active; keeps the peak total and the peak of each process kind."""

    def __init__(self, period: float = 0.2) -> None:
        self.period = period
        self.peak = {"total": 0.0, "driver": 0.0, "jvm": 0.0, "workers": 0.0}
        self._active = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            if self._active.wait(0.05):
                sample = tree_rss(pid)
                sample["total"] = sum(sample.values())
                for k, v in sample.items():
                    self.peak[k] = max(self.peak[k], v)
                self._stop.wait(self.period)

    def __enter__(self) -> "RssSampler":
        self._active.set()
        return self

    def __exit__(self, *exc) -> None:
        self._active.clear()

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


# --- Spark UI REST ------------------------------------------------------------

_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_TOTAL = re.compile(r"^\s*(?:total[^\n]*\n)?\s*([0-9.,]+)\s*([A-Za-z]+)?")


def metric_value(text: str) -> float:
    """A Spark SQL metric string as a number: bytes, seconds or a count.

    Accumulated metrics read ``total (min, med, max ...)\\n12.3 MiB (...)``;
    the first figure is the total over tasks.
    """
    m = _TOTAL.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    return value * _UNITS.get(unit, 1.0) if unit else value


class SparkRest:
    """Reads SQL executions, jobs and stages of one application over REST."""

    SQL_METRICS = {
        "python_run_s": "time to run Python workers",
        "python_boot_s": "time to start Python workers",
        "python_init_s": "time to initialize Python workers",
        "arrow_in_bytes": "data sent to Python workers",
        "arrow_out_bytes": "data returned from Python workers",
        "scan_time_s": "scan time",
        "shuffle_bytes": "shuffle bytes written",
        "written_bytes": "written output",
    }

    def __init__(self, spark) -> None:
        sc = spark.sparkContext
        self.base = (f"{sc.uiWebUrl}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as resp:
            return json.load(resp)

    def marks(self) -> Dict[str, int]:
        """The highest SQL execution and job ids so far."""
        sql = self._get("/sql?details=false&offset=0&length=100000")
        jobs = self._get("/jobs")
        return {"sql": max((e["id"] for e in sql), default=-1),
                "job": max((j["jobId"] for j in jobs), default=-1)}

    def window(self, since: Dict[str, int]) -> Dict[str, float]:
        """SQL metric totals, job count and task-time stats for every SQL
        execution and job started after the ``since`` marks."""
        out = {k: 0.0 for k in self.SQL_METRICS}
        sql = self._get("/sql?details=true&planDescription=false"
                        "&offset=0&length=100000")
        for execution in sql:
            if execution["id"] <= since["sql"]:
                continue
            for node in execution.get("nodes", []):
                for metric in node.get("metrics", []):
                    for key, name in self.SQL_METRICS.items():
                        if metric["name"] == name:
                            out[key] += metric_value(metric["value"])
        jobs = [j for j in self._get("/jobs") if j["jobId"] > since["job"]]
        out["jobs"] = float(len(jobs))
        # the straggler ratio is taken on the stage that ran longest in
        # total: for an extract job that is the scan->kernel->write stage
        total = 0.0
        heaviest: List[float] = []
        for stage_id in sorted({s for j in jobs for s in j["stageIds"]}):
            for attempt in self._get(f"/stages/{stage_id}"):
                if attempt.get("status") != "COMPLETE":
                    continue
                run = self._task_runs(stage_id, attempt["attemptId"])
                total += sum(run)
                if sum(run) > sum(heaviest):
                    heaviest = run
        out["task_s"] = total
        out["task_max_over_median"] = (
            max(heaviest) / max(statistics.median(heaviest), 1e-3)
            if heaviest else 1.0)
        return out

    def _task_runs(self, stage_id: int, attempt: int) -> List[float]:
        tasks = self._get(f"/stages/{stage_id}/{attempt}/taskList"
                          f"?offset=0&length=100000")
        return [t["taskMetrics"]["executorRunTime"] / 1000.0
                for t in tasks if t.get("taskMetrics")]


def median_of(records: Iterable[Dict[str, float]], key: str) -> float:
    values = [r[key] for r in records]
    return statistics.median(values) if values else 0.0


def write_json(path: Optional[str], payload: Dict) -> None:
    if not path:
        return
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True, default=str)
