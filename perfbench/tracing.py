"""Measurement helpers: host evidence, a /proc RSS sampler, spans, a
Spark event-log reader that turns task events into per-op counters, and
the reaping of every process a run starts.

Nothing here imports pyspark or chaos_spark, so the module stays cheap to
import and usable from the reference tests.
"""

from __future__ import annotations

import ctypes
import glob
import json
import os
import signal
import statistics
import subprocess
import sys
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


# ---------------------------------------------------------------------------
# Host evidence
# ---------------------------------------------------------------------------

def _calib_spin(_=None) -> None:
    """Fixed numpy workload for the per-core calibration constants (the
    same loop bench.py times, so the constants are comparable)."""
    import numpy as np

    a = np.random.default_rng(1).random(2_000_000)
    for _ in range(10):
        (a * a + 1.0).sum()


def _calib_allcore(nproc: int) -> float:
    """Wall time of ``nproc`` concurrent calibration loops, one per child
    process. Each child imports numpy and runs one warm-up loop before the
    clock starts; every child is waited for (a multiprocessing pool would
    leave its resource-tracker process running after exit)."""
    code = (
        "import sys; from tracing import _calib_spin; _calib_spin(); "
        "print('ready', flush=True); sys.stdin.readline(); _calib_spin()"
    )
    here = os.path.dirname(os.path.abspath(__file__))
    env = dict(os.environ, PYTHONPATH=here)
    kids = [
        subprocess.Popen([sys.executable, "-c", code], env=env, text=True,
                         stdin=subprocess.PIPE, stdout=subprocess.PIPE)
        for _ in range(nproc)
    ]
    try:
        for k in kids:
            k.stdout.readline()
        t0 = time.perf_counter()
        for k in kids:
            k.stdin.write("go\n")
            k.stdin.flush()
        for k in kids:
            k.wait()
        return time.perf_counter() - t0
    finally:
        for k in kids:
            if k.poll() is None:
                k.kill()
            k.wait()
            k.stdin.close()
            k.stdout.close()


def host_evidence(nproc: int) -> dict:
    """Load, concurrent JVMs and CPU calibration, taken before the
    benchmark starts its own JVM. A busy host is flagged, never hidden."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    out = subprocess.run(["pgrep", "-c", "java"], capture_output=True, text=True)
    jvms = int(out.stdout.strip() or 0)
    t0 = time.perf_counter()
    _calib_spin()
    _calib_spin()
    one = time.perf_counter() - t0
    return {
        "nproc": nproc,
        "loadavg": load,
        "concurrent_jvms": jvms,
        "calib_1core_s": one,
        "calib_allcore_s": _calib_allcore(nproc),
        "busy": jvms > 0 or load[0] > nproc,
    }


# ---------------------------------------------------------------------------
# Peak RSS of this process tree, sampled from /proc by one thread
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, stack = [], list(kids.get(pid, []))
    while stack:
        p = stack.pop()
        out.append(p)
        stack.extend(kids.get(p, []))
    return out


def _rss_and_comm(pid: int) -> tuple[int, str]:
    try:
        with open(f"/proc/{pid}/statm") as f:
            rss = int(f.read().split()[1]) * _PAGE
        with open(f"/proc/{pid}/comm") as f:
            comm = f.read().strip()
    except OSError:
        return 0, ""
    return rss, comm


class RssSampler:
    """Samples the RSS of this process and all its descendants every
    ``interval`` seconds; keeps the peak of the total and of the JVM and
    Python-worker shares."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_total = self.peak_jvm = self.peak_workers = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    def sample(self) -> None:
        me = os.getpid()
        total, _ = _rss_and_comm(me)
        jvm = workers = 0
        for pid in _descendants(me):
            rss, comm = _rss_and_comm(pid)
            total += rss
            if comm == "java":
                jvm += rss
            elif comm.startswith("python"):
                workers += rss
        self.peak_total = max(self.peak_total, total)
        self.peak_jvm = max(self.peak_jvm, jvm)
        self.peak_workers = max(self.peak_workers, workers)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.interval)


# ---------------------------------------------------------------------------
# Every process the run starts ends before it does
# ---------------------------------------------------------------------------

_PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants. PySpark's
    worker daemon is forked by the JVM and outlives it for a moment; as a
    subreaper this process inherits it and can wait for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def reap_children(grace: float = 30.0) -> None:
    """Wait until this process has no child left, reaping each as it
    exits. Descendants still running after ``grace`` seconds get SIGTERM,
    and SIGKILL five seconds later."""
    start = time.monotonic()
    termed = False
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            return
        waited = time.monotonic() - start
        if waited > grace + 5 or (waited > grace and not termed):
            sig = signal.SIGTERM if not termed else signal.SIGKILL
            for pid in _descendants(os.getpid()):
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            termed = True
        time.sleep(0.05)


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------

class Spans:
    """In-memory spans ``(name, op, start, end)`` in epoch seconds, so they
    line up with the epoch-millisecond task times of the event log."""

    def __init__(self):
        self.items: list[tuple[str, str, float, float]] = []

    def timed(self, name: str, op: str, fn):
        t0 = time.time()
        try:
            return fn()
        finally:
            self.items.append((name, op, t0, time.time()))

    def total(self, name: str | None = None, op: str | None = None) -> float:
        return sum(
            e - s for n, o, s, e in self.items
            if (name is None or n == name) and (op is None or o == op)
        )

    def window(self, op: str) -> tuple[float, float]:
        ts = [(s, e) for _, o, s, e in self.items if o == op]
        return min(s for s, _ in ts), max(e for _, e in ts)


# ---------------------------------------------------------------------------
# Spark event log -> per job-group counters
# ---------------------------------------------------------------------------

def read_event_log(event_dir: str) -> dict[str, dict]:
    """Per job group (one group per op): jobs, tasks, summed task run and
    GC time, shuffle bytes written and the task intervals, parsed from
    every event-log file in ``event_dir`` (read after the session stops,
    when the log is complete)."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = {}

    def grp(name: str) -> dict:
        return groups.setdefault(name, {
            "jobs": 0, "tasks": 0, "run_ms": 0, "gc_ms": 0,
            "shuffle_bytes": 0, "intervals": [],
        })

    for path in sorted(glob.glob(os.path.join(event_dir, "*"))):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if g is None:
                        continue
                    grp(g)["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"))
                    if g is None:
                        continue
                    info = ev.get("Task Info", {})
                    met = ev.get("Task Metrics") or {}
                    acc = grp(g)
                    acc["tasks"] += 1
                    acc["run_ms"] += met.get("Executor Run Time", 0)
                    acc["gc_ms"] += met.get("JVM GC Time", 0)
                    acc["shuffle_bytes"] += (
                        met.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                    )
                    acc["intervals"].append(
                        (info.get("Launch Time", 0) / 1e3, info.get("Finish Time", 0) / 1e3)
                    )
    return groups


def busy_union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Seconds of [lo, hi] during which at least one task ran."""
    cur_s = cur_e = None
    total = 0.0
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def median(values) -> float:
    return float(statistics.median(values))
