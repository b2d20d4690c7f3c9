"""Measurement plumbing read from outside the package: peak RSS of the
Spark processes, Spark's own progress and event-log reports, and
in-memory spans with per-layer self time."""

from __future__ import annotations

import glob
import json
import os
import re
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field
from datetime import datetime, timezone

import numpy as np


def percentile(values, q: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=np.float64), q)) if len(values) else 0.0


# ------------------------------------------------------------------ host


def cpu_ticks() -> list[int]:
    """The machine's summed CPU time counters from /proc/stat (user,
    nice, system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as fh:
        return [int(v) for v in fh.readline().split()[1:9]]


def steal_pct(since: list[int]) -> float:
    """Share of all CPU time since `since` that the hypervisor gave to
    other guests. On a shared VM it is the usual reason a whole run is
    slow: compare runs with it before blaming the code."""
    d = [b - a for a, b in zip(since, cpu_ticks())]
    return 100.0 * d[7] / max(sum(d), 1)


# ------------------------------------------------------------------ memory


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def _pss(pid: int) -> int:
    """Proportional set size: resident memory with pages shared between
    processes (forked Python workers) split among them, so a sum over
    processes counts each page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as fh:
            for line in fh:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples, every `period` seconds, the summed resident memory (PSS)
    of this process's descendants (the Spark JVM and its Python
    workers), leaving out `exclude` (the load generator). `peak_mb` is
    the largest sum."""

    def __init__(self, exclude: set[int] | None = None, period: float = 0.25):
        self.exclude = exclude if exclude is not None else set()
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        kids = _children()
        todo, total = list(kids[os.getpid()]), 0
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            total += _pss(pid)
            todo.extend(kids.get(pid, ()))
        return total

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period)

    def __enter__(self) -> RssSampler:
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, self._sample())

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# ---------------------------------------------------------------- progress


def progress_listener():
    """A StreamingQueryListener that keeps every progress report, as the
    parsed JSON dict, of every query in the session."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def __init__(self):
            self.progress: list[dict] = []

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            self.progress.append(json.loads(event.progress.json))

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

    return _Listener()


def wait_for_progress(listener, run_id: str, n: int, timeout: float = 10.0) -> list[dict]:
    """The listener bus is asynchronous: wait until it has delivered the
    `n` reports the query itself holds."""
    deadline = time.time() + timeout
    while True:
        got = [p for p in listener.progress if p["runId"] == run_id]
        if len(got) >= n or time.time() > deadline:
            return got
        time.sleep(0.05)


def trigger_start(p: dict) -> float:
    """Epoch seconds at which the micro-batch started."""
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ")
    return start.replace(tzinfo=timezone.utc).timestamp()


def end_offset(p: dict) -> int | None:
    """The file-source log offset a batch read up to (one file per
    offset under maxFilesPerTrigger=1)."""
    m = re.search(r"\d+", str(p["sources"][0].get("endOffset")))
    return int(m.group()) if m else None


# --------------------------------------------------------------- event log


@dataclass
class EventLog:
    """Task and stage records of one uncompressed, non-rolling Spark
    event log, as written at session stop."""

    tasks: list[dict] = field(default_factory=list)
    stages: list[dict] = field(default_factory=list)

    @classmethod
    def read(cls, log_dir: str) -> EventLog:
        out = cls()
        for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
            with open(path) as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerTaskEnd":
                        out.tasks.append(_task(ev))
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        if "Submission Time" in info and "Completion Time" in info:
                            out.stages.append(
                                {
                                    "name": info.get("Stage Name", ""),
                                    "start": info["Submission Time"] / 1000.0,
                                    "end": info["Completion Time"] / 1000.0,
                                }
                            )
        return out

    def totals(self, t0: float, t1: float) -> dict[str, float]:
        """Summed task metrics of tasks launched in [t0, t1]."""
        keys = (
            "run_ms", "cpu_ms", "gc_ms", "shuffle_write_bytes", "spill_bytes",
            "bytes_read", "python_run_ms", "python_start_ms", "arrow_bytes_sent",
            "arrow_bytes_returned",
        )
        tot = dict.fromkeys(keys, 0.0)
        tot["tasks"] = 0
        for t in self.tasks:
            if t0 <= t["launch"] <= t1:
                tot["tasks"] += 1
                for k in keys:
                    tot[k] += t[k]
        return tot


# SQL-metric accumulables of the Python operators, by display name.
_PY_ACCUMS = {
    "time to run Python workers": "python_run_ms",
    "time to start Python workers": "python_start_ms",
    "data sent to Python workers": "arrow_bytes_sent",
    "data returned from Python workers": "arrow_bytes_returned",
}


def _task(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    rec = {
        "launch": info["Launch Time"] / 1000.0,
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        "spill_bytes": m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        "bytes_read": (m.get("Input Metrics") or {}).get("Bytes Read", 0),
    }
    for v in _PY_ACCUMS.values():
        rec[v] = 0.0
    for acc in info.get("Accumulables") or []:
        key = _PY_ACCUMS.get(acc.get("Name"))
        if key:
            rec[key] += float(acc.get("Update") or 0)
    return rec


# ------------------------------------------------------------------- spans


@dataclass
class Span:
    name: str
    layer: str
    start: float
    end: float
    parent: int | None = None


class Spans:
    """Spans kept in memory; `id` of a span is its index."""

    def __init__(self) -> None:
        self.spans: list[Span] = []

    def add(self, name: str, layer: str, start: float, end: float, parent: int | None = None) -> int:
        self.spans.append(Span(name, layer, start, end, parent))
        return len(self.spans) - 1

    def innermost(self, start: float, end: float, candidates: list[int]) -> int | None:
        """The shortest candidate span that contains [start, end]."""
        best = None
        for i in candidates:
            s = self.spans[i]
            if s.start <= start and end <= s.end and (
                best is None or s.end - s.start < self.spans[best].end - self.spans[best].start
            ):
                best = i
        return best

    def self_ms(self) -> dict[str, float]:
        """Per layer: summed span duration minus the part of each span
        its children cover."""
        kids: dict[int, list[Span]] = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                kids[s.parent].append(s)
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for c in sorted(kids[i], key=lambda c: c.start):
                cs, ce = max(c.start, s.start), min(c.end, s.end)
                if ce <= cs:
                    continue
                if cur_e is None or cs > cur_e:
                    covered += 0.0 if cur_e is None else cur_e - cur_s
                    cur_s, cur_e = cs, ce
                else:
                    cur_e = max(cur_e, ce)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s.layer] += (s.end - s.start - covered) * 1000.0
        return dict(out)

    def as_list(self) -> list[dict]:
        return [s.__dict__ | {"id": i} for i, s in enumerate(self.spans)]
