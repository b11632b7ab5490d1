"""Shared measurement pieces: sample statistics, memory sampling, the
environment stamp and the per-run report."""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

#: Percentiles tried, highest first, when choosing the tail percentile a
#: sample supports: the highest one with at least TAIL_BEYOND samples
#: beyond it.
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)
TAIL_BEYOND = 10


def percentile(values, p):
    """Nearest-rank percentile of ``values`` (``p`` in 0..100); an
    infinite value (a failed or timed-out operation) sorts last."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of an empty sample")
    rank = max(1, math.ceil(p / 100.0 * len(xs)))
    return xs[rank - 1]


def median(values):
    xs = list(values)
    if not xs:
        raise ValueError("median of an empty sample")
    if any(math.isinf(x) for x in xs):
        return percentile(xs, 50.0)
    return statistics.median(xs)


def tail(values):
    """(label, value) of the highest percentile in TAIL_LADDER with at
    least TAIL_BEYOND samples beyond it, e.g. ("p99", 18.5)."""
    n = len(values)
    for p in TAIL_LADDER:
        if n * (1.0 - p / 100.0) >= TAIL_BEYOND:
            label = f"p{p:g}".replace(".", "_")
            return label, percentile(values, p)
    return "p50", median(values)


def summarize(values, limit=None):
    """Median, supported tail and counts of one latency sample (ms)."""
    label, tv = tail(values)
    out = {"n": len(values), "p50": median(values), "tail": label, "tail_value": tv}
    if limit is not None:
        out["limit"] = limit
        out["over_limit"] = sum(1 for v in values if v > limit)
    return out


def _pss_kb(pid):
    """Proportional resident memory: a page shared by n processes (a
    forked Python worker, a JVM mid-fork) counts 1/n to each, so the
    sum over a process tree counts every page once."""
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _children(pid):
    kids = []
    try:
        for tid in os.listdir(f"/proc/{pid}/task"):
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                kids.extend(int(c) for c in f.read().split())
    except OSError:
        pass
    return kids


def _comm(pid):
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return "?"


_TICKS = os.sysconf("SC_CLK_TCK")
#: A child younger than this is skipped for one sample: between a
#: vfork-style spawn and its exec (the JVM starting a Python worker) the
#: child still shares its parent's address space and would report all
#: of the parent's memory a second time.
MIN_AGE_S = 0.5


def _age_s(pid, uptime):
    try:
        with open(f"/proc/{pid}/stat") as f:
            start = int(f.read().rsplit(")", 1)[1].split()[19])
    except (OSError, IndexError, ValueError):
        return 0.0
    return uptime - start / _TICKS


def tree_rss(root_pid=None, exclude=()):
    """Resident memory (MB, shared pages counted once) of a process and
    all its descendants, as (total, {command name: MB}), leaving out the
    subtrees rooted at ``exclude``."""
    root = root_pid or os.getpid()
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    stack = [root]
    seen = set(exclude)
    parts = {}
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        if pid != root and _age_s(pid, uptime) < MIN_AGE_S:
            continue
        name = _comm(pid)
        parts[name] = parts.get(name, 0.0) + _pss_kb(pid) / 1024.0
        stack.extend(_children(pid))
    return sum(parts.values()), parts


def _cpu_ticks(pid):
    """User + system ticks of a process, its reaped children included."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return sum(int(x) for x in fields[11:15])
    except (OSError, IndexError, ValueError):
        return 0


def tree_cpu_s(root_pid=None, exclude=()):
    """CPU seconds a process and all its descendants have used so far
    (user + system), leaving out the subtrees rooted at ``exclude``.
    CPU time, unlike wall time, does not grow while the process tree
    waits for a core another tenant of the machine holds."""
    stack = [root_pid or os.getpid()]
    seen = set(exclude)
    ticks = 0
    while stack:
        pid = stack.pop()
        if pid in seen:
            continue
        seen.add(pid)
        ticks += _cpu_ticks(pid)
        stack.extend(_children(pid))
    return ticks / _TICKS


def adopt_orphans():
    """Make this process the child subreaper of its tree: a process whose
    parent exits first (a Spark Python worker outliving the JVM) is then
    re-parented here instead of to init, so ``end_children`` sees and
    waits for it."""
    import ctypes

    PR_SET_CHILD_SUBREAPER = 36
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def _descendants():
    out, stack = [], _children(os.getpid())
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(_children(pid))
    return out


def _reap():
    """Collect every child of this process that has exited."""
    while True:
        try:
            pid, _status = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid == 0:
            return


def _stop_resource_tracker():
    """multiprocessing's spawn context starts a resource-tracker process
    that exits only when every holder of its pipe has closed it, which
    for this process is at interpreter exit: after the run would have
    ended.  Run the finalizers that unregister this process's
    semaphores (so the tracker has nothing left to clean up), then close
    the pipe so the tracker exits now."""
    import sys

    if "multiprocessing.resource_tracker" not in sys.modules:
        return
    from multiprocessing import resource_tracker, util

    util._run_finalizers(0)
    tracker = resource_tracker._resource_tracker
    if tracker._fd is not None:
        os.close(tracker._fd)
        tracker._fd = None
        tracker._pid = None


def end_children(grace_s=10.0, finalize=True):
    """Stop every process this run started and wait until each has
    ended: give them ``grace_s`` to exit on their own, then kill what is
    left.  ``finalize=False`` skips the multiprocessing clean-up, for a
    caller that is not the main thread.  Returns the number of processes
    that had to be killed."""
    if finalize:
        _stop_resource_tracker()
    deadline = time.monotonic() + grace_s
    killed = 0
    while True:
        _reap()
        live = [p for p in _descendants() if _state(p) not in ("Z", "X", "?")]
        if not live:
            break
        if time.monotonic() >= deadline:
            for pid in live:
                try:
                    os.kill(pid, 9)
                    killed += 1
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + grace_s
        time.sleep(0.02)
    _reap()
    return killed


def _state(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except (OSError, IndexError):
        return "?"


class RssSampler:
    """Background thread recording the peak resident memory of this
    process tree (Python, JVM and Python workers).  Helper
    processes of the benchmark itself go in ``exclude``."""

    def __init__(self, interval_s=0.1):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self.peak_parts = {}
        self.exclude = set()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)

    def _sample(self):
        total, parts = tree_rss(exclude=self.exclude)
        if total > self.peak_mb:
            self.peak_mb, self.peak_parts = total, parts

    def _loop(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self._sample()


def _version(mod):
    try:
        return __import__(mod).__version__
    except ImportError:
        return None


def env_stamp(root):
    """Facts a reader needs to compare two results: cores, effective
    engine settings, library versions, and a single-core and fsync
    probe of the box at run time."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(300_000):
        acc += i * i
    core_ms = (time.perf_counter() - t0) * 1000.0
    path = os.path.join(root, "fsync_probe")
    lat = []
    with open(path, "wb") as f:
        for _ in range(10):
            f.write(b"x" * 4096)
            f.flush()
            t = time.perf_counter()
            os.fsync(f.fileno())
            lat.append((time.perf_counter() - t) * 1000.0)
    os.unlink(path)
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "spark_driver_memory": os.environ.get("SPARK_DRIVER_MEMORY"),
        "pyspark": _version("pyspark"),
        "pyarrow": _version("pyarrow"),
        "duckdb": _version("duckdb"),
        "core_probe_ms": round(core_ms, 3),
        "fsync_probe_p50_ms": round(statistics.median(lat), 3),
    }


class Report:
    """What one run measured: operation counts, metric values with
    units, and human-readable detail.  ``emit`` prints the detail and
    then the one-line JSON result as the last line of stdout."""

    def __init__(self, workload, seed, trace):
        self.workload = workload
        self.seed = seed
        self.trace = trace
        self.attempted = 0
        self.failed = 0
        self.checks = []  # (name, ok, detail)
        self.values = {}  # metric name -> (value, unit)
        self.detail = {}
        self.errors = []

    def op(self, ok=True, n=1):
        self.attempted += n
        if not ok:
            self.failed += n

    def error(self, where, exc):
        self.errors.append(f"{where}: {type(exc).__name__}: {exc}")

    def check(self, name, ok, detail=""):
        self.checks.append((name, bool(ok), detail))
        self.op(bool(ok))

    def put(self, name, value, unit):
        self.values[name] = (float(value), unit)

    @property
    def correct(self):
        return all(ok for _n, ok, _d in self.checks) and self.failed == 0

    def result(self, names):
        """The contract line: exactly the metrics in ``names``."""
        missing = [n for n in names if n not in self.values]
        if missing:
            raise KeyError(f"metrics not measured: {missing}")
        return {
            "correct": self.correct,
            "attempted": max(1, self.attempted),
            "failed": self.failed,
            "metrics": {
                n: {"value": self.values[n][0], "unit": self.values[n][1]} for n in names
            },
        }

    def emit(self, names, out_path=None):
        for name, ok, detail in self.checks:
            print(f"check {name}: {'ok' if ok else 'FAILED'} {detail}".rstrip())
        for e in self.errors[:20]:
            print(f"error {e}")
        for name in sorted(self.values):
            value, unit = self.values[name]
            print(f"metric {name} = {value:.6f} {unit}")  # >= 3 decimals: sub-ms ops never read as 0
        line = self.result(names)
        if out_path:
            with open(out_path, "w") as f:
                json.dump(
                    {
                        "workload": self.workload,
                        "seed": self.seed,
                        "trace": self.trace,
                        "result": line,
                        "all_metrics": {k: v[0] for k, v in self.values.items()},
                        "detail": self.detail,
                        "checks": self.checks,
                        "errors": self.errors,
                    },
                    f,
                    indent=1,
                    default=str,
                )
        print(json.dumps(line), flush=True)
