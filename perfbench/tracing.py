"""Measurement helpers that live outside the program: process-tree
sampling from /proc, spans, a Py4J call counter and an event-log reader.
"""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time

_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# process tree
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for path in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(path) as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rindex(")") + 2 :].split()
        kids.setdefault(int(fields[1]), []).append(int(path.split("/")[2]))
    return kids


def process_tree(root: int | None = None) -> list[int]:
    root = os.getpid() if root is None else root
    kids = _children()
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.rindex(")") + 2 :].split()


def tree_cpu_s(pids: list[int]) -> float:
    """User+system CPU seconds of the live processes plus their reaped
    children."""
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _CLK


def tree_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        f = _stat_fields(pid)
        if f is not None:
            total += int(f[21])
    return total * _PAGE / 2**20


def host_steal_s() -> float:
    """CPU time the hypervisor gave to other guests, summed over all CPUs
    since boot (the ``steal`` column of /proc/stat)."""
    with open("/proc/stat") as fh:
        fields = fh.readline().split()
    return int(fields[8]) / _CLK


def loadavg() -> list[float]:
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


class TreeSampler:
    """Samples the summed RSS of this process and all its descendants on
    a background thread while active."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None
        self._pids: list[int] = []

    def _loop(self):
        n = 0
        while not self._stop.is_set():
            if n % 10 == 0:  # the tree changes rarely; re-walk once a second
                self._pids = process_tree()
            self.peak_mb = max(self.peak_mb, tree_rss_mb(self._pids))
            n += 1
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# spans and Py4J calls
# ---------------------------------------------------------------------------


class Tracer:
    """Spans (name, start, end, parent) kept in memory; a disabled tracer
    records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    def span(self, name: str, **attrs):
        return _Span(self, name, attrs)

    def named(self, name: str, since: float = 0.0) -> list[dict]:
        """Finished spans called ``name`` that started at or after ``since``."""
        return [s for s in self.spans if s["name"] == name and s["start"] >= since]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump(self.spans, fh)


class _Span:
    def __init__(self, tracer: Tracer, name: str, attrs: dict):
        self.tracer, self.name, self.attrs = tracer, name, attrs
        self.rec: dict | None = None

    def __enter__(self):
        t = self.tracer
        if t.enabled:
            parent = t._stack[-1] if t._stack else None
            self.rec = {"id": len(t.spans), "name": self.name, "parent": parent,
                        "start": time.time(), "end": None, **self.attrs}
            t.spans.append(self.rec)
            t._stack.append(self.rec["id"])
        return self.rec if self.rec is not None else {}

    def __exit__(self, *exc):
        if self.rec is not None:
            self.rec["end"] = time.time()
            self.tracer._stack.pop()


class Py4JCounter:
    """Counts commands sent over the Py4J gateway by wrapping the client's
    ``send_command`` on the instance every JavaObject of the session
    holds."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0

    def install(self):
        orig = self.client.send_command

        def counting(*a, **kw):
            self.calls += 1
            return orig(*a, **kw)

        self.client.send_command = counting



# ---------------------------------------------------------------------------
# Spark event log
# ---------------------------------------------------------------------------


class EventLog:
    """Reads an uncompressed Spark event log: jobs with their submission
    time, task count, executor run time and shuffle bytes written."""

    def __init__(self, log_dir: str):
        self.log_dir = log_dir

    def _files(self) -> list[str]:
        """The event files of the one application logged here: a single
        file, or the numbered parts of a rolling log directory."""
        found = glob.glob(os.path.join(self.log_dir, "*"))
        if len(found) != 1:
            raise FileNotFoundError(f"expected one event log in {self.log_dir}, found {found}")
        if not os.path.isdir(found[0]):
            return found
        parts = glob.glob(os.path.join(found[0], "events_*"))
        return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))

    def _lines(self):
        for path in self._files():
            with open(path) as fh:
                yield from fh

    def read(self) -> dict:
        jobs: dict[int, dict] = {}
        stage_job: dict[int, int] = {}
        for line in self._lines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue  # a line still being written
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                jobs[jid] = {"submit": ev["Submission Time"] / 1000.0,
                             "tasks": 0, "run_ms": 0, "shuffle_w": 0}
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = jid
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev.get("Stage ID"))
                if jid is None:
                    continue
                m = ev.get("Task Metrics") or {}
                j = jobs[jid]
                j["tasks"] += 1
                j["run_ms"] += m.get("Executor Run Time", 0)
                j["shuffle_w"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
        return jobs

    def within(self, start: float, end: float, jobs: dict | None = None) -> dict:
        """Totals over the jobs submitted in [start, end]."""
        jobs = self.read() if jobs is None else jobs
        sel = [j for j in jobs.values() if start <= j["submit"] <= end]
        return {
            "jobs": len(sel),
            "tasks": sum(j["tasks"] for j in sel),
            "run_s": sum(j["run_ms"] for j in sel) / 1000.0,
            "shuffle_bytes": sum(j["shuffle_w"] for j in sel),
        }


_PY_NODES = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|FlatMapGroupsInPandas|FlatMapGroupsInArrow|"
    r"MapInPandas|MapInArrow|FlatMapCoGroupsInPandas|FlatMapCoGroupsInArrow|"
    r"ArrowWindowPython|AggregateInPandas|ArrowAggregatePython)"
)


def python_eval_nodes(df) -> int:
    """Python-boundary operators in the executed plan of ``df``."""
    return len(_PY_NODES.findall(df._jdf.queryExecution().executedPlan().toString()))


def plan_bytes(df) -> int:
    """Size of the optimized plan's text.  Folded literal arrays (the ADC
    tables) print in full there; the logical plan's text truncates them
    after 25 elements."""
    return len(df._jdf.queryExecution().optimizedPlan().toString())
