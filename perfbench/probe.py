"""Measurement plumbing: /proc readings for the process tree (driver
Python, JVM, Python workers), host steal, spans, and Spark's status REST
API.

Everything here observes the program from outside; nothing is imported
into ``exon_spark``.
"""

from __future__ import annotations

import json
import os
import re
import threading
import time
import urllib.request
from contextlib import contextmanager

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> tuple[str, int, list[str]] | None:
    """(comm, ppid, fields after comm) of /proc/<pid>/stat."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            s = fh.read()
    except OSError:
        return None
    r = s.rfind(")")
    rest = s[r + 2 :].split()
    return s[s.find("(") + 1 : r], int(rest[1]), rest


class ProcTree:
    """The benchmark process and all its descendants."""

    def __init__(self, root: int | None = None):
        self.root = root or os.getpid()

    def _members(self) -> dict[int, tuple[str, list[str]]]:
        info = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                st = _stat(int(d))
                if st is not None:
                    info[int(d)] = st
        children: dict[int, list[int]] = {}
        for pid, (_comm, ppid, _rest) in info.items():
            children.setdefault(ppid, []).append(pid)
        out, todo = {}, [self.root]
        while todo:
            pid = todo.pop()
            if pid in info:
                out[pid] = (info[pid][0], info[pid][2])
                todo.extend(children.get(pid, ()))
        return out

    def pids(self) -> list[int]:
        return list(self._members())

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: ``total`` (whole tree, reaped children
        included), ``driver`` (this process alone), ``python_workers``
        (every descendant that is neither the JVM nor this process)."""
        tot = drv = py = 0.0
        for pid, (comm, rest) in self._members().items():
            # utime, stime, cutime, cstime are fields 14-17 of stat
            u, s, cu, cs = (int(x) / _TICK for x in rest[11:15])
            tot += u + s + cu + cs
            if pid == self.root:
                drv = u + s
            elif comm != "java":
                py += u + s + cu + cs
        return {"total": tot, "driver": drv, "python_workers": py}

    def rchar(self) -> int:
        """Bytes read through read syscalls by every member but this
        process (the JVM and the Python workers), files and sockets alike."""
        tot = 0
        for pid in self._members():
            if pid == self.root:
                continue
            try:
                with open(f"/proc/{pid}/io") as fh:
                    for line in fh:
                        if line.startswith("rchar:"):
                            tot += int(line.split()[1])
                            break
            except OSError:
                pass
        return tot

    def rss_mb(self) -> float:
        tot = 0
        for _pid, (_comm, rest) in self._members().items():
            tot += int(rest[21])  # rss in pages, field 24 of stat
        return tot * _PAGE / 1e6


class PeakRss:
    """Background sampler of the tree's summed RSS (every ``every`` s)."""

    def __init__(self, tree: ProcTree, every: float = 0.1):
        self.tree, self.every = tree, every
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.wait(self.every):
            self.peak = max(self.peak, self.tree.rss_mb())

    def reset(self) -> None:
        self.peak = self.tree.rss_mb()

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def steal_pct(start: tuple[int, int], end: tuple[int, int]) -> float:
    d = end[1] - start[1]
    return 100.0 * (end[0] - start[0]) / d if d > 0 else 0.0


# ---------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: name, start, end, parent span id, op id. Disabled
    tracers record nothing; ``span`` still runs the body."""

    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self.op: str | None = None
        self._stack: list[int] = []
        self._next = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield sid
        finally:
            self._stack.pop()
            rec = {
                "id": sid,
                "name": name,
                "start": t0,
                "end": time.perf_counter(),
                "parent": parent,
                "op": self.op,
            }
            rec.update(attrs)
            self.spans.append(rec)

    def wrap(self, owner, attr: str, name_of) -> None:
        """Replace ``owner.attr`` with a wrapper that records a span named
        ``name_of(*args, **kwargs)`` around each call."""
        orig = getattr(owner, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(name_of(*args, **kwargs)):
                return orig(*args, **kwargs)

        wrapper.__wrapped__ = orig
        setattr(owner, attr, wrapper)


def install_entry_point_spans(tracer: Tracer) -> None:
    """Record spans around the public entry points of ``session``,
    ``sources`` and ``sinks`` (COPY runs through ``ExonSession.sql``)."""
    import exon_spark.session as session
    import exon_spark.sources as sources

    def sql_name(_self, query, *a, **k):
        head = query.lstrip()[:16].upper()
        if head.startswith("COPY"):
            return "sinks.copy"
        if head.startswith("CREATE") or head.startswith("DROP"):
            return "session.ddl"
        return "session.sql"

    tracer.wrap(session.ExonSession, "sql", sql_name)
    tracer.wrap(session.ExonSession, "register_exon_table", lambda *a, **k: "session.ddl")
    tracer.wrap(session, "register_all", lambda *a, **k: "session.register")
    tracer.wrap(sources, "read_format", lambda *a, **k: "sources.read_format")


# ---------------------------------------------------------- Spark REST reader

_SIZE = re.compile(r"([\d.,]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _total_size(text: str) -> float:
    """Bytes in a Spark SQL size-metric string. Multi-task metrics read
    ``total (min, med, max ...)\\n12.3 MiB (...)``: the first size after
    the newline is the total."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)] if m else 0.0


def _ms(ts: str | None) -> float | None:
    if not ts:
        return None
    from datetime import datetime

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp()


class SparkRest:
    """Reads job, stage and SQL-execution records of the running app."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
        self.tracker = sc.statusTracker()

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def settle(self, groups: list[str], timeout: float = 10.0) -> None:
        """Wait until the status store has seen every job of ``groups``
        end (listener events arrive asynchronously)."""
        ids = {j for g in groups for j in self.tracker.getJobIdsForGroup(g)}
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            done = {
                j["jobId"]
                for j in self._get("/jobs")
                if j.get("completionTime")
            }
            if ids <= done:
                return
            time.sleep(0.05)

    def groups(self, groups: list[str]) -> dict:
        """Totals over the jobs of ``groups``: jobs, stage metrics of their
        completed stages, job intervals and Python-worker bytes from SQL
        metrics; plus ``jobs_per_group`` and ``tasks_per_op`` (keyed by
        the op id before the ``|`` of a group)."""
        self.settle(groups)
        want = set(groups)
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in want]
        stages = {
            s["stageId"]: s
            for s in self._get("/stages")
            if s["status"] in ("COMPLETE", "FAILED")
        }
        job_group = {j["jobId"]: j["jobGroup"] for j in jobs}
        py_to = py_from = 0.0
        if jobs:
            for ex in self._get("/sql?details=true&length=100000"):
                ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
                if not any(i in job_group for i in ids):
                    continue
                for node in ex.get("nodes", ()):
                    for m in node.get("metrics", ()):
                        if m["name"] == "data sent to Python workers":
                            py_to += _total_size(m["value"])
                        elif m["name"] == "data returned from Python workers":
                            py_from += _total_size(m["value"])
        jobs_per_group: dict[str, int] = {}
        tasks_per_op: dict[str, int] = {}
        seen: set[int] = set()
        mine = []
        for j in jobs:
            g = j["jobGroup"]
            jobs_per_group[g] = jobs_per_group.get(g, 0) + 1
            op = g.split("|")[0]
            for sid in j.get("stageIds", ()):
                st = stages.get(sid)
                if st is None or sid in seen:
                    continue
                seen.add(sid)
                mine.append(st)
                tasks_per_op[op] = (
                    tasks_per_op.get(op, 0)
                    + (st.get("numCompleteTasks") or 0)
                    + (st.get("numFailedTasks") or 0)
                )

        def tot(key):
            return sum(st.get(key) or 0 for st in mine)

        return {
            "jobs": len(jobs),
            "jobs_per_group": jobs_per_group,
            "tasks_per_op": tasks_per_op,
            "stages": len(mine),
            "tasks": tot("numCompleteTasks") + tot("numFailedTasks"),
            "executor_cpu_s": tot("executorCpuTime") / 1e9,
            "executor_run_s": tot("executorRunTime") / 1e3,
            "shuffle_write_mb": tot("shuffleWriteBytes") / 1e6,
            "shuffle_read_mb": tot("shuffleReadBytes") / 1e6,
            "fetch_wait_s": tot("shuffleFetchWaitTime") / 1e3,
            "spill_mb": (tot("diskBytesSpilled") + tot("memoryBytesSpilled")) / 1e6,
            "gc_s": tot("jvmGcTime") / 1e3,
            "py_to_mb": py_to / 1e6,
            "py_from_mb": py_from / 1e6,
            "intervals": [
                (_ms(j.get("submissionTime")), _ms(j.get("completionTime")))
                for j in jobs
            ],
        }


def covered(intervals: list[tuple[float | None, float | None]]) -> float:
    """Length of the union of (start, end) intervals."""
    iv = sorted((a, b) for a, b in intervals if a is not None and b is not None)
    tot, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                tot += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        tot += cur_b - cur_a
    return tot
