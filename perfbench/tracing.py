"""Measurement helpers: the span tracer of the traced run, the Spark
status-API ledger, the driver process-tree memory sampler, and the
statistics the benchmark reports.

Nothing here imports Spark; the ledger talks to the status REST API of
a running session through the URL the caller passes.
"""

from __future__ import annotations

import calendar
import contextlib
import functools
import json
import os
import re
import threading
import time
import urllib.request


# ---------------------------------------------------------------- statistics


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if not n:
        raise ValueError("median of no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping ``(start, end)``
    intervals: overlapping parts count once."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted(intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def clip(intervals: list[tuple[float, float]], lo: float, hi: float) -> list[tuple[float, float]]:
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


# -------------------------------------------------------------------- spans


class Tracer:
    """In-memory spans: name, start, end, parent. The parent is the
    innermost open span of the same thread, so spans opened by
    ``scheduled_run``'s worker threads start their own trees."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        stack = self._local.__dict__.setdefault("stack", [])
        rec = {
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "thread": threading.get_ident(),
            **attrs,
        }
        with self._lock:
            rec["id"] = len(self.spans)
            self.spans.append(rec)
        stack.append(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()

    def wrap(self, module, attr: str, name: str, on_exit=None) -> None:
        """Replace ``module.attr`` by a spanned wrapper. Callers that did
        ``from x import attr`` hold their own reference, so wrap the
        name in the namespace the caller looks it up in."""
        fn = getattr(module, attr)

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with self.span(name) as rec:
                out = fn(*args, **kwargs)
                if on_exit is not None:
                    on_exit(rec, args, kwargs, out)
                return out

        setattr(module, attr, wrapper)

    def self_times(self) -> dict[int, float]:
        """Span id -> its duration minus the part of its interval that
        its child spans cover."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append((s["start"], s["end"]))
        return {
            s["id"]: (s["end"] - s["start"])
            - union_length(clip(children.get(s["id"], []), s["start"], s["end"]))
            for s in self.spans
        }

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# ------------------------------------------------------------ spark ledger

_SIZE = re.compile(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_UNIT = {"B": 1, "KiB": 1024, "MiB": 1024**2, "GiB": 1024**3, "TiB": 1024**4}
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


def parse_size(text: str) -> float:
    """Bytes of a Spark UI size metric. Aggregated task metrics read
    ``total (min, med, max ...)\\n<total> (<min>, ...)``; the first size
    after the header is the total."""
    body = text.split("\n", 1)[-1]
    m = _SIZE.search(body)
    return float(m.group(1)) * _UNIT[m.group(2)] if m else 0.0


def _spark_time(s: str | None) -> float | None:
    if not s:
        return None
    # e.g. 2026-10-16T18:35:01.123GMT
    base, _, ms = s.replace("GMT", "").partition(".")
    t = calendar.timegm(time.strptime(base, "%Y-%m-%dT%H:%M:%S"))
    return t + int(ms or 0) / 1000.0


def _get(base: str, path: str):
    with urllib.request.urlopen(f"{base}{path}", timeout=30) as r:
        return json.load(r)


def spark_ledger(ui_url: str, app_id: str) -> dict[str, dict]:
    """Per job group: job intervals, counts and summed stage metrics,
    plus Python-worker bytes from the SQL plan-node metrics."""
    api = f"/api/v1/applications/{app_id}"
    jobs = _get(ui_url, f"{api}/jobs")
    stages = {s["stageId"]: s for s in _get(ui_url, f"{api}/stages") if s["status"] in ("COMPLETE", "FAILED")}
    sql = _get(ui_url, f"{api}/sql?details=true&planDescription=false&offset=0&length=100000")
    group_of_job: dict[int, str] = {}
    out: dict[str, dict] = {}
    seen: set[tuple[str, int]] = set()
    for j in jobs:
        g = j.get("jobGroup")
        if not g:
            continue
        group_of_job[j["jobId"]] = g
        acc = out.setdefault(g, {
            "intervals": [], "jobs": 0, "stages": 0, "tasks": 0, "failed_tasks": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "jvm_gc_s": 0.0,
            "shuffle_read_bytes": 0, "shuffle_write_bytes": 0,
            "input_bytes": 0, "output_bytes": 0,
            "python_bytes_sent": 0.0, "python_bytes_returned": 0.0,
        })
        acc["jobs"] += 1
        acc["tasks"] += int(j.get("numTasks", 0)) - int(j.get("numSkippedTasks", 0))
        acc["failed_tasks"] += int(j.get("numFailedTasks", 0))
        start, end = _spark_time(j.get("submissionTime")), _spark_time(j.get("completionTime"))
        if start is not None and end is not None:
            acc["intervals"].append((start, end))
        for sid in j.get("stageIds", []):
            st = stages.get(sid)
            if st is None or (g, sid) in seen:
                continue
            seen.add((g, sid))
            acc["stages"] += 1
            acc["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
            acc["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
            acc["jvm_gc_s"] += st.get("jvmGcTime", 0) / 1e3
            acc["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
            acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            acc["input_bytes"] += st.get("inputBytes", 0)
            acc["output_bytes"] += st.get("outputBytes", 0)
    for ex in sql:
        job_ids = ex.get("successJobIds", []) + ex.get("failedJobIds", []) + ex.get("runningJobIds", [])
        groups = {group_of_job[j] for j in job_ids if j in group_of_job}
        if len(groups) != 1:
            continue
        acc = out[groups.pop()]
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                if m.get("name") == _PY_SENT:
                    acc["python_bytes_sent"] += parse_size(m.get("value", ""))
                elif m.get("name") == _PY_RETURNED:
                    acc["python_bytes_returned"] += parse_size(m.get("value", ""))
    return out


# ---------------------------------------------------------------- memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak memory of this process and all its descendants (the JVM and
    its Python workers). Every sample sums the proportional set size
    (Pss) of the processes then alive, so pages that forked processes
    share count once; ``mb`` is the largest such sum."""

    # Reading smaps_rollup of a 3 GB JVM takes about 30 ms of CPU and
    # holds the JVM's mmap lock meanwhile; one sample a second keeps that
    # under 1% of the host's four cores.
    EVERY_S = 1.0

    def __init__(self) -> None:
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def sample(self) -> None:
        kids = _children()
        todo, seen, total = [os.getpid()], set(), 0
        while todo:
            pid = todo.pop()
            if pid in seen:
                continue
            seen.add(pid)
            total += _pss_kb(pid)
            todo.extend(kids.get(pid, []))
        self.peak_kb = max(self.peak_kb, total)

    def _run(self) -> None:
        while not self._stop.wait(self.EVERY_S):
            self.sample()

    def __enter__(self) -> PeakRss:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def mb(self) -> float:
        return self.peak_kb / 1024.0
