"""Measurement helpers that sit outside the program under test.

* ``StatusStore`` reads Spark's own status store through the driver's
  REST API on localhost: job and stage counts, per-stage shuffle and
  spill bytes, and the SQL metrics of every executed plan node (file
  scan bytes, the MapInArrow Python-boundary metrics, ...).
* ``RssSampler`` samples the resident memory (proportional set size) of
  this process and all of its descendants (the JVM and the Python
  workers) from ``/proc``.
* ``Tracer`` keeps spans in memory: name, start, end, parent and the
  id of the job they belong to.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager
from urllib.parse import urlparse

MIB = float(1 << 20)

_TIME_S = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0,
           "m": 60.0, "h": 3600.0}
_SIZE_B = {"B": 1.0, "KiB": 1024.0, "MiB": MIB, "GiB": MIB * 1024,
           "TiB": MIB * MIB}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+)\s*([A-Za-zµ]*)")


def parse_metric(text: str) -> float:
    """One SQL-metric display string → a number in base units (seconds
    for times, bytes for sizes, plain for counts). Aggregated metrics
    read ``total (min, med, max ...)\\n<total> (<min>, ...)``; the
    total is the first value on the last line."""
    m = _VALUE.match(text.strip().splitlines()[-1])
    if m is None:
        raise ValueError(f"unparsed SQL metric {text!r}")
    num, unit = float(m.group(1).replace(",", "")), m.group(2)
    if unit in _TIME_S:
        return num * _TIME_S[unit]
    if unit in _SIZE_B:
        return num * _SIZE_B[unit]
    return num


class PlanNodes:
    """The nodes of one SQL execution: ``{id: (name, {metric: value})}``
    plus child edges, for finding a node by what sits below it."""

    def __init__(self, execution: dict):
        self.nodes = {
            n["nodeId"]: (n["nodeName"],
                          {m["name"]: m["value"] for m in n["metrics"]})
            for n in execution["nodes"]}
        self.children: dict[int, list[int]] = {}
        for e in execution["edges"]:
            self.children.setdefault(e["toId"], []).append(e["fromId"])

    def named(self, name: str) -> list[int]:
        return sorted(i for i, (n, _) in self.nodes.items() if n == name)

    def metric(self, node: int, name: str) -> float:
        raw = self.nodes[node][1].get(name)
        return 0.0 if raw is None else parse_metric(raw)

    def reaches(self, node: int, target: str, stop: str) -> bool:
        """Does a path down from ``node`` reach a ``target`` node
        without passing a ``stop`` node?"""
        todo, seen = list(self.children.get(node, [])), set()
        while todo:
            i = todo.pop()
            if i in seen:
                continue
            seen.add(i)
            name = self.nodes[i][0]
            if name == target:
                return True
            if name != stop:
                todo.extend(self.children.get(i, []))
        return False

    def stage_of(self, node: int, name: str) -> int | None:
        """Stage id named in an aggregated metric's max-task suffix."""
        raw = self.nodes[node][1].get(name, "")
        m = re.search(r"stage (\d+)\.\d+", raw)
        return int(m.group(1)) if m else None


class StatusStore:
    """Deltas of Spark's status store between two marks."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        port = urlparse(sc.uiWebUrl).port
        self._base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                      f"{sc.applicationId}")

    def _get(self, path: str):
        with urllib.request.urlopen(self._base + path, timeout=60) as r:
            return json.load(r)

    def _flush(self) -> None:
        # the status store is fed by the listener bus: drain it so the
        # job that just returned is fully recorded
        self._sc._jsc.sc().listenerBus().waitUntilEmpty()

    def mark(self) -> dict:
        self._flush()
        return {"stage": max((s["stageId"] for s in self._get("/stages")),
                             default=-1),
                "job": max((j["jobId"] for j in self._get("/jobs")),
                           default=-1),
                "sql": max((q["id"] for q in
                            self._get("/sql?details=false")), default=-1)}

    def since(self, mark: dict) -> dict:
        """Totals over everything that ran after ``mark``."""
        self._flush()
        stages = [s for s in self._get("/stages?status=complete")
                  if s["stageId"] > mark["stage"]]
        jobs = [j for j in self._get("/jobs") if j["jobId"] > mark["job"]]
        sql = [PlanNodes(q) for q in
               self._get("/sql?details=true&planDescription=false")
               if q["id"] > mark["sql"]]
        return {
            "jobs": len(jobs),
            "stages": len(stages),
            "tasks": {s["stageId"]: s["numTasks"] for s in stages},
            # planned parquet bytes of every file scan (the stages'
            # inputBytes undercounts vectorized parquet reads)
            "scan_bytes": sum(plan.metric(n, "size of files read")
                              for plan in sql
                              for n in plan.named("Scan parquet")),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"]
                                       for s in stages),
            "shuffle_write_records": sum(s["shuffleWriteRecords"]
                                         for s in stages),
            "spill_disk_bytes": sum(s["diskBytesSpilled"] for s in stages),
            "sql": sql,
        }

    def cached_bytes(self) -> int:
        """Memory + disk held by persisted datasets right now."""
        return sum(r["memoryUsed"] + r["diskUsed"]
                   for r in self._get("/storage/rdd"))


def _children_map() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name is parenthesised and may contain spaces
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(name))
    return out


def descendants(pid: int) -> list[int]:
    kids, todo, out = _children_map(), [pid], []
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_pss_bytes(pid: int) -> int:
    """Proportional set size of ``pid`` and its descendants: resident
    pages, with each page shared between processes counted once in
    total. A plain RSS sum counts a forked child (a JVM shell-out
    before it execs, a Python worker forked from the daemon) as a
    second copy of its parent."""
    total = 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue  # the process ended between listing and reading
    return total


class RssSampler:
    """Peak resident memory of this process tree in each ``active``
    window."""

    def __init__(self, interval_s: float = 0.2):
        self.window_peaks: list[int] = []  # one per ``active`` window
        self._window = 0
        self._interval = interval_s
        self._lock = threading.Lock()
        self._on = threading.Event()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        size = tree_pss_bytes(os.getpid())
        with self._lock:
            self._window = max(self._window, size)

    def _run(self) -> None:
        while not self._stop.is_set():
            if self._on.wait(self._interval) and not self._stop.is_set():
                self._sample()
                time.sleep(self._interval)

    @contextmanager
    def active(self):
        with self._lock:
            self._window = 0
        self._on.set()
        try:
            yield
        finally:
            self._on.clear()
            self._sample()
            with self._lock:
                self.window_peaks.append(self._window)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._on.set()
        self._thread.join(timeout=10)
        return False


class Tracer:
    """In-memory spans; written once, when the run ends."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, job: int, **attrs):
        rec = {"id": len(self.spans), "name": name, "job": job,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter() - self._t0, "end": None,
               **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()

    def write(self, path: str, **extra) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, default=str)
        os.replace(tmp, path)
