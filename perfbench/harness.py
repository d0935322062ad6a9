"""Session lifecycle, spans, memory sampling and Spark event-log parsing.

One ``Bench`` object lives for one benchmark run.  It owns the Spark
session (restarted for every set-up repetition and for every trace
phase), the in-memory span list, and the peak-memory sampler that watches
the driver JVM and its Python workers.
"""

from __future__ import annotations

import contextlib
import glob
import itertools
import json
import os
import re
import subprocess
import threading
import time
from dataclasses import dataclass, field

GROUP_PREFIX = "pb-"


def session_conf(work: str, traced: bool) -> dict[str, str]:
    """The benchmark's Spark settings on top of the program's own session
    defaults.  Only a traced session writes an event log."""
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')} -Xlog:gc:file={os.path.join(work, 'gc.log')}"
        ),
    }
    if traced:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(work, "eventlog")
        conf["spark.eventLog.rolling.enabled"] = "false"
        conf["spark.eventLog.compress"] = "false"
    else:
        conf["spark.eventLog.enabled"] = "false"
    return conf


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    counts: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Bench:
    def __init__(self, work: str, trace: bool):
        self.work = work
        self.trace = trace
        self.spans: list[Span] = []
        self.tracing = False  # spans are recorded only while this is on
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self.spark = None
        self.session_starts: list[float] = []
        self.peak_rss = 0  # bytes, JVM + Python workers
        self.peak_workers = 0  # bytes, Python workers alone
        self._rss_stop = threading.Event()
        self._rss_thread: threading.Thread | None = None
        self._worker_pids: set[int] = set()
        for sub in ("spark-local", "tmp", "eventlog"):
            os.makedirs(os.path.join(work, sub), exist_ok=True)

    # -- session ----------------------------------------------------------

    def start_session(self, traced: bool) -> None:
        """(Re)start the program's session and record how long it took."""
        from fischer_spark.session import get_spark

        self.stop_session()
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=session_conf(self.work, traced))
        self.session_starts.append(time.perf_counter() - t0)
        self.tracing = traced
        if self._rss_thread is None:
            self._rss_thread = threading.Thread(target=self._sample_rss, daemon=True)
            self._rss_thread.start()

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the session, the JVM and its Python workers, and wait for
        all of them to exit."""
        from pyspark import SparkContext

        self.stop_session()
        self._rss_stop.set()
        if self._rss_thread is not None:
            self._rss_thread.join(timeout=5)
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = gw.proc
        with contextlib.suppress(Exception):
            gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        with contextlib.suppress(Exception):
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
        deadline = time.time() + 15
        while self._worker_pids and time.time() < deadline:
            self._worker_pids = {p for p in self._worker_pids if os.path.exists(f"/proc/{p}")}
            time.sleep(0.1)

    # -- memory -------------------------------------------------------------

    def _sample_rss(self) -> None:
        """Peak proportional set size (shared pages split between the
        processes sharing them) of the JVM and, separately, its Python
        workers, forked from one daemon."""
        from pyspark import SparkContext

        while not self._rss_stop.wait(0.2):
            gw = SparkContext._gateway
            if gw is None:
                continue
            jvm = gw.proc.pid
            # only the Python workers: the JVM also forks short-lived
            # helpers (Hadoop shell commands) that share its pages
            python = {pid for pid in _process_tree(jvm) - {jvm} if _is_pyspark(pid)}
            workers = sum(_pss(pid) for pid in python)
            total = _pss(jvm) + workers
            self._worker_pids |= python
            self.peak_rss = max(self.peak_rss, total)
            self.peak_workers = max(self.peak_workers, workers)

    # -- spans ----------------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str, **counts):
        """Time a call into one layer.  While tracing, the span's Spark jobs
        run under their own job group so the event log attributes them."""
        if not self.tracing:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        s = Span(next(self._ids), name, 0.0, parent=stack[-1].sid if stack else None, counts=dict(counts))
        sc = self.spark.sparkContext
        sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.sid}")
        stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{stack[-1].sid}" if stack else None)
            with self._lock:
                self.spans.append(s)

    def write_spans(self, path: str, engine: dict[int, dict]) -> None:
        with open(path, "w") as f:
            json.dump(
                [
                    {
                        "id": s.sid,
                        "name": s.name,
                        "parent": s.parent,
                        "start": s.start,
                        "end": s.end,
                        "counts": s.counts,
                        "engine": engine.get(s.sid, {}),
                    }
                    for s in sorted(self.spans, key=lambda s: s.start)
                ],
                f,
            )


def _process_tree(root: int) -> set[int]:
    out, todo = set(), [root]
    while todo:
        pid = todo.pop()
        out.add(pid)
        for tasks in glob.glob(f"/proc/{pid}/task/*/children"):
            with contextlib.suppress(OSError):
                with open(tasks) as f:
                    todo.extend(int(c) for c in f.read().split())
    return out


def _is_pyspark(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/cmdline", "rb") as f:
            return b"pyspark" in f.read()
    except OSError:
        return False


def _pss(pid: int) -> int:
    """Proportional set size in bytes, 0 once the process is gone."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def heap_live_peak(gc_log: str) -> int:
    """Peak heap occupancy right after a collection, in bytes: the live
    data plus old-generation garbage not yet collected, from the JVM's GC
    log (lines such as ``Pause Young (Normal) ... 120M->40M(256M)``)."""
    peak = 0
    with contextlib.suppress(OSError):
        with open(gc_log) as f:
            for m in _GC_LINE.finditer(f.read()):
                peak = max(peak, int(m.group(1)) << 20)
    return peak


_GC_LINE = re.compile(r"\d+M->(\d+)M\(\d+M\)")


def engine_by_span(eventlog_dir: str) -> dict[int, dict]:
    """Per-span Spark figures from the event logs of the traced sessions:
    jobs, tasks, failed tasks, GC time, shuffle bytes written, spill."""
    out: dict[int, dict] = {}
    for path in sorted(glob.glob(os.path.join(eventlog_dir, "*"))):
        stage_span: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith(GROUP_PREFIX):
                        continue
                    sid = int(group[len(GROUP_PREFIX):])
                    out.setdefault(sid, _zero())["jobs"] += 1
                    for st in ev.get("Stage IDs", []):
                        stage_span[st] = sid
                elif kind == "SparkListenerTaskEnd":
                    sid = stage_span.get(ev.get("Stage ID"))
                    if sid is None:
                        continue
                    acc = out[sid]
                    acc["tasks"] += 1
                    info = ev.get("Task Info") or {}
                    acc["tasks_failed"] += bool(info.get("Failed"))
                    m = ev.get("Task Metrics") or {}
                    acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    acc["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    acc["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    return out


def _zero() -> dict:
    return {"jobs": 0, "tasks": 0, "tasks_failed": 0, "gc_s": 0.0, "shuffle_bytes": 0, "spill_bytes": 0}


# -- statistics -----------------------------------------------------------------


def median(xs: list[float]) -> float:
    s = sorted(xs)
    n = len(s)
    return (s[(n - 1) // 2] + s[n // 2]) / 2.0


def tail(xs: list[float]) -> tuple[float, float]:
    """(value, percentile): the highest of p99.9/p99/p95/p90/p75 with at
    least ten samples beyond it, else the maximum (p100)."""
    s = sorted(xs)
    n = len(s)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (1 - p / 100.0) >= 10:
            rank = p / 100.0 * (n - 1)
            lo = int(rank)
            hi = min(lo + 1, n - 1)
            return s[lo] + (s[hi] - s[lo]) * (rank - lo), p
    return s[-1], 100.0


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat (user nice system idle iowait irq
    softirq steal ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_pct(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor took from the virtual machine."""
    d = [a - b for a, b in zip(after, before)]
    return 100.0 * d[7] / max(sum(d[:8]), 1)


def du(path: str) -> tuple[int, int]:
    """(bytes, files) of the parquet data under a directory."""
    size = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                size += os.path.getsize(os.path.join(dirpath, n))
                files += 1
    return size, files
