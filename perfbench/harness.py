"""Measurement helpers shared by the workloads: spans with Spark job
groups, the tail-percentile rule, process-tree memory, the phase and
host-ceiling controls, and the Spark event-log parser.

Nothing here imports pyspark; the tracer only needs an object with the
SparkContext methods ``setJobGroup`` and ``setLocalProperty``.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# -- percentiles ---------------------------------------------------------


def tail(values: list[float]) -> tuple[float, float, int] | None:
    """The highest percentile with at least ten samples beyond it, as
    (value, percentile, sample count); None below eleven samples.

    With n sorted samples the 11th largest is the largest value that still
    has ten samples above it; it sits at percentile 100 * (n - 10) / n."""
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


# -- spans ---------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


    @property
    def duration(self) -> float:
        return self.end - self.start


def self_time(span: Span, spans: list[Span]) -> float:
    """Duration minus the part of the span's interval covered by its
    direct children (overlapping children are counted once)."""
    iv = sorted((max(c.start, span.start), min(c.end, span.end))
                for c in spans if c.parent == span.sid)
    covered, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        covered += cur_e - cur_s
    return span.duration - covered


class Tracer:
    """Spans around calls into the program. Each span submits its Spark
    jobs under its own job group (``pb<sid>``), so the event log can tie
    every job to the span that caused it; a job with no group was
    submitted from a thread that did not inherit one."""

    def __init__(self, sc=None, prefix: str = "pb"):
        self.sc = sc
        self.prefix = prefix
        # perf_counter + epoch0 = wall-clock epoch seconds (event-log time)
        self.epoch0 = time.time() - time.perf_counter()
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(self.group(span), span.name)

    def group(self, span: Span) -> str:
        return f"{self.prefix}{span.sid}"

    def span_at(self, t: float) -> Span | None:
        """The innermost span open at perf_counter time ``t``."""
        best = None
        for s in self.spans:
            if s.start <= t <= s.end and (best is None
                                          or s.start >= best.start):
                best = s
        return best

    @contextmanager
    def span(self, name: str, **attrs):
        sp = Span(len(self.spans), name,
                  self._stack[-1].sid if self._stack else None,
                  time.perf_counter(), attrs=attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    def add(self, name: str, parent: Span, start: float,
            end: float) -> Span:
        """Record a finished child span from times measured elsewhere
        (the crawl engine's own stage marks)."""
        sp = Span(len(self.spans), name, parent.sid, start, end)
        self.spans.append(sp)
        return sp

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def durations(self, name: str) -> list[float]:
        return [s.duration for s in self.named(name)]


# -- memory --------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out.setdefault(ppid, []).append(int(d))
    return out


def descendants(root: int) -> list[int]:
    """Live descendant pids of ``root`` (zombies excluded)."""
    children, out, todo = _children(), [], [root]
    while todo:
        for c in children.get(todo.pop(), ()):
            try:
                with open(f"/proc/{c}/stat") as f:
                    st = f.read()
            except OSError:
                continue
            if st[st.rindex(")") + 2] != "Z":
                out.append(c)
            todo.append(c)
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, each page shared by k
    processes counted 1/k, so pages a forked worker shares with its
    parent count once over the tree."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


class RssSampler:
    """Resident memory of this process and every descendant (the Spark
    JVM and its Python workers): a background thread polls the summed
    proportional set size of the processes alive at that moment, by
    process name. ``peak(until)`` is the largest sum polled up to
    perf_counter time ``until``."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        # (perf_counter time, total bytes, {process name: bytes})
        self.samples: list[tuple[float, int, dict[str, int]]] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _poll(self):
        me = os.getpid()
        by_name: dict[str, int] = {}
        for pid in [me] + descendants(me):
            try:
                with open(f"/proc/{pid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            by_name[name] = by_name.get(name, 0) + _pss_bytes(pid)
        self.samples.append((time.perf_counter(), sum(by_name.values()),
                             by_name))

    def peak(self, until: float = float("inf")
             ) -> tuple[int, dict[str, int]]:
        """(largest summed PSS up to ``until``, its split by process
        name); (0, {}) before the first poll."""
        return max(((tot, by) for t, tot, by in self.samples if t <= until),
                   key=lambda s: s[0], default=(0, {}))

    def _run(self):
        while True:
            self._poll()
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


# -- controls ------------------------------------------------------------


def phase_control() -> float:
    """bench.py's fixed single-core numpy workload, best-of-3 seconds.

    Elementwise transcendentals only: numpy ufuncs are single-threaded,
    so this measures the box's phase, not its core count."""
    import numpy as np

    a = (np.arange(8_000_000, dtype=np.float64) % 997) / 997.0
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        b = a
        for _ in range(12):
            b = np.sqrt(b * b + 0.25)
        float(b.sum())
        best = min(best, time.perf_counter() - t0)
    return best


def _work_control(n: int) -> int:
    """bench_scaling.py's host-ceiling unit: the crawl's decode + extract
    work on one fixed page, without Spark."""
    import hashlib

    import numpy as np

    from delver_spark.engine.extract_ref import (
        detect_language, extract_outlinks, extract_text, match_countries)
    from delver_spark.fixtures.codecs import decode, encode, phash64

    rng = np.random.default_rng(0)
    blob = encode(rng.integers(0, 256, (96, 96, 3), dtype=np.uint8), "qjpg")
    cap = 'hello <a href="/p/000001">go</a> words http://d003.test/x y ' * 4
    for _ in range(n):
        p = decode(blob, "qjpg")
        hashlib.md5(blob).hexdigest()
        phash64(p)
        extract_text(cap.encode())
        extract_outlinks("http://d000.test/p/0001", cap.encode())
        detect_language(cap)
        match_countries(cap)
    return n


def _control_worker(n: int) -> None:
    """Child side of ``hw_ceiling``: warm up, report ready, wait for the
    start line, run ``n`` units and print the elapsed seconds."""
    _work_control(1)
    print("ready", flush=True)
    sys.stdin.readline()
    t0 = time.perf_counter()
    _work_control(n)
    print(time.perf_counter() - t0, flush=True)


def hw_ceiling(lo: int, hi: int, units: int = 1600) -> float:
    """bench_scaling.py's host ceiling: the same ``units`` of work split
    over ``lo`` and then ``hi`` processes, (T_lo / T_hi) / (hi / lo).
    Workers import and warm up first and start together on one signal;
    T is the slowest worker's time. Every worker is waited for."""
    here = os.path.dirname(os.path.abspath(__file__))
    code = ("import sys; sys.path[:0] = %r; import harness; "
            "harness._control_worker(int(sys.argv[1]))"
            % [here, os.path.dirname(here)])
    times = {}
    for procs in (lo, hi):
        workers = [subprocess.Popen(
            [sys.executable, "-c", code, str(units // procs)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            for _ in range(procs)]
        try:
            for w in workers:
                if w.stdout.readline().strip() != "ready":
                    raise RuntimeError("control worker failed to start")
            for w in workers:
                w.stdin.write("go\n")
                w.stdin.flush()
            times[procs] = max(float(w.stdout.readline()) for w in workers)
        finally:
            for w in workers:
                w.stdin.close()
                if w.wait(timeout=60) != 0:
                    raise RuntimeError("control worker failed")
    return (times[lo] / times[hi]) / (hi / lo)


# -- Spark event log -----------------------------------------------------

SPARK_KEYS = ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes", "gc_s",
              "executor_cpu_s", "executor_run_s", "result_bytes")


def parse_event_log(paths: list[str]) -> list[dict]:
    """Parse uncompressed Spark event logs into one record per job: its
    job group (None when submitted without one), submission time (epoch
    seconds) and the ``SPARK_KEYS`` totals over its stages' tasks. A stage
    shared by several jobs counts for the job that submitted it first."""
    jobs: list[dict] = []
    stage_job: dict[tuple[str, int], dict] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    job = dict.fromkeys(SPARK_KEYS, 0)
                    job.update(
                        job=ev["Job ID"], jobs=1,
                        group=(ev.get("Properties") or {}).get(
                            "spark.jobGroup.id"),
                        submitted=ev.get("Submission Time", 0) / 1000.0)
                    jobs.append(job)
                    for sid in ev.get("Stage IDs", ()):
                        stage_job.setdefault((path, sid), job)
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics")
                    job = stage_job.get((path, ev.get("Stage ID")))
                    if not m or job is None:
                        continue
                    job["tasks"] += 1
                    job["shuffle_write_bytes"] += (m.get(
                        "Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    job["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    job["executor_cpu_s"] += m.get("Executor CPU Time",
                                                   0) / 1e9
                    job["executor_run_s"] += m.get("Executor Run Time",
                                                   0) / 1e3
                    job["result_bytes"] += m.get("Result Size", 0)
    return jobs


def total(jobs: list[dict]) -> dict:
    return {k: sum(j[k] for j in jobs) for k in SPARK_KEYS}
