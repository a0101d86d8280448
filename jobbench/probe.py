"""Measurement from outside the program: process CPU and memory read from
``/proc``, Spark job counts from the driver's status store, and an
in-memory span recorder for the traced run."""

from __future__ import annotations

import functools
import json
import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ")"
    return raw[raw.rindex(")") + 2:].split()


def process_tree(root: int) -> list[int]:
    """``root`` and every live descendant (the Spark JVM the driver
    launched, and the JVM's Python workers)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def cpu_seconds(pids: list[int]) -> float:
    """utime + stime of each process plus the children it has reaped, so
    a worker that exits between two readings is still counted."""
    total = 0
    for pid in pids:
        st = _stat(pid)
        if st is not None:
            total += sum(int(x) for x in st[11:15])
    return total / _TICK


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class ResourceMeter:
    """CPU seconds of this process's tree over a ``with`` block and, with
    ``sample_memory``, its peak resident memory, sampled every
    ``interval`` seconds by a thread (which competes with the driver for
    the interpreter lock, so untraced runs leave it off)."""

    def __init__(self, sample_memory: bool, interval: float = 0.05):
        self.sample_memory = sample_memory
        self.interval = interval
        self.cpu_s = 0.0
        self.peak_rss = 0
        self._stop = threading.Event()

    def _sample(self) -> None:
        while True:
            self.peak_rss = max(self.peak_rss, rss_bytes(process_tree(os.getpid())))
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "ResourceMeter":
        self._cpu0 = cpu_seconds(process_tree(os.getpid()))
        if self.sample_memory:
            self._thread = threading.Thread(target=self._sample, daemon=True)
            self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        if self.sample_memory:
            self._stop.set()
            self._thread.join()
            self.peak_rss = max(self.peak_rss, rss_bytes(process_tree(os.getpid())))
        self.cpu_s = cpu_seconds(process_tree(os.getpid())) - self._cpu0


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def spark_job_stats(spark, group: str, t0: float, t1: float) -> dict:
    """Jobs, executed stages and tasks run under job group ``group``, and
    the time in [t0, t1] (epoch seconds) when none of them was running."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    jobs = stages = tasks = 0
    spans = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        jd = store.job(jid)
        jobs += 1
        stages += jd.numCompletedStages() + jd.numFailedStages()
        tasks += jd.numCompletedTasks() + jd.numFailedTasks()
        sub, end = jd.submissionTime(), jd.completionTime()
        if sub.isDefined() and end.isDefined():
            spans.append((sub.get().getTime() / 1e3, end.get().getTime() / 1e3))
    busy, cursor = 0.0, t0
    for a, b in sorted(spans):
        a, b = max(a, cursor), min(b, t1)
        if b > a:
            busy += b - a
            cursor = b
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "idle_s": (t1 - t0) - busy}


class Tracer:
    """Span recorder: ``wrap`` replaces a public function of a program
    module with one that records (name, start, end, parent) around each
    call. Spans stay in memory until ``dump``."""

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    def span(self, name: str, fn, *args, size=None, **kwargs):
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            result = fn(*args, **kwargs)
            if size is not None:
                rec["rows"] = size(result)
            return result
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, owner, attr: str, name: str, size=None) -> None:
        """Record a span around every call of ``owner.attr``; with
        ``size``, also store ``size(result)`` as the span's ``rows``."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            return self.span(name, orig, *args, size=size, **kwargs)

        self._patched.append((owner, attr, orig))
        setattr(owner, attr, traced)

    def rows_under(self, prefix: str, parent: str, spans: list[dict]) -> int:
        """Sum of ``rows`` over the spans whose name starts with ``prefix``
        and which ``parent`` called directly (a call nested in another
        recorded call, e.g. a ``collect`` inside ``toPandas``, is not
        counted twice)."""
        return sum(
            rec.get("rows", 0)
            for rec in spans
            if rec["name"].startswith(prefix)
            and rec["parent"] is not None
            and self.spans[rec["parent"]]["name"] == parent
        )

    def unwrap_all(self) -> None:
        while self._patched:
            owner, attr, orig = self._patched.pop()
            setattr(owner, attr, orig)

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)
