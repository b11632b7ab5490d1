"""The benchmark's own Spark session: started through the engine's
``get_spark`` with its private directories, stopped with the JVM
waited for, and its event log read back into per-layer numbers."""

from __future__ import annotations

import collections
import glob
import json
import os
import time


def start(run, app):
    """Start the session; returns (spark, seconds spent).  Session-level
    settings the engine factory does not own (private temp and
    warehouse dirs, progress history, the event log on traced runs) go
    through a private ``spark-defaults.conf``."""
    conf_dir = os.path.join(run.root, "spark-conf")
    os.makedirs(conf_dir, exist_ok=True)
    tmp = os.environ["TMPDIR"]
    # Heap and young generation of fixed size (-Xms = -Xmx, -Xmn half of
    # it): peak memory then does not depend on when the collector chose
    # to grow either of them.
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    young = f"{_mb(heap) // 2}m"
    lines = {
        "spark.driver.defaultJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Xms{heap} -Xmn{young}"
        ),
        "spark.sql.warehouse.dir": os.path.join(run.root, "warehouse"),
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
        "spark.ui.showConsoleProgress": "false",
    }
    if run.tracer is not None:
        log_dir = os.path.join(run.root, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        lines.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.compress": "false",
            }
        )
    with open(os.path.join(conf_dir, "spark-defaults.conf"), "w") as f:
        for k, v in lines.items():
            f.write(f"{k} {v}\n")
    os.environ["SPARK_CONF_DIR"] = conf_dir
    from durablestreams_spark.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark(app)
    spark.sparkContext.setLogLevel("ERROR")
    return spark, time.perf_counter() - t0


def _mb(size):
    """Megabytes in a JVM memory size such as ``2g`` or ``1536m``."""
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    size = size.strip().lower()
    if size[-1] in units:
        return int(float(size[:-1]) * units[size[-1]])
    return int(size) // (1024 * 1024)


def stop(spark):
    """Stop every streaming query, the session, and wait for the JVM."""
    from pyspark import SparkContext

    for q in spark.streams.active:
        q.stop()
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on EOF
        except OSError:
            pass
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _lines(files):
    for path in files:
        with open(path) as f:
            yield from f


def read_event_log(run, windows):
    """Per-window Spark executor numbers from the event log.

    ``windows``: {name: [(t0_ms, t1_ms), ...]} in epoch ms.  A job
    belongs to the window holding its submission time.  Returns {name: {jobs,
    executor_cpu_s, executor_run_s, job_gap_s, shuffle_read_mb,
    shuffle_write_mb, python_eval_s}}."""
    # a single file, or (rolling event log) a directory of numbered
    # events_<n>_<app> files
    files = [
        f
        for f in glob.glob(os.path.join(run.root, "eventlog", "**"), recursive=True)
        if os.path.isfile(f) and not os.path.basename(f).startswith("appstatus")
    ]
    files.sort(key=lambda f: int(os.path.basename(f).split("_")[1]) if os.path.basename(f).startswith("events_") else 0)
    jobs = {}  # job id -> [submit_ms, end_ms, stage ids]
    stage_job = {}
    tasks = []  # (stage, cpu_ns, run_ms, read_b, write_b, python_ms)
    for line in _lines(files):
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            jobs[ev["Job ID"]] = [ev["Submission Time"], None]
            for s in ev.get("Stage IDs", []):
                stage_job[s] = ev["Job ID"]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in jobs:
                jobs[ev["Job ID"]][1] = ev["Completion Time"]
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            sw = m.get("Shuffle Write Metrics") or {}
            py = 0.0
            for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                if acc.get("Name") == "time to run Python workers":
                    try:
                        py += float(acc.get("Update") or 0)
                    except (TypeError, ValueError):
                        pass
            tasks.append(
                (
                    ev.get("Stage ID"),
                    m.get("Executor CPU Time", 0),
                    m.get("Executor Run Time", 0),
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
                    sw.get("Shuffle Bytes Written", 0),
                    py,
                )
            )
    out = {}
    for name, intervals in windows.items():
        acc = collections.Counter()
        idset = set()
        gap = 0.0
        for w0, w1 in intervals:
            # idle time between the jobs of one interval: the scheduling
            # floor between Spark stages
            ids = [j for j, (sub, _e) in jobs.items() if w0 <= sub <= w1]
            idset.update(ids)
            busy_end = None
            for st, en in sorted((jobs[j][0], jobs[j][1] or jobs[j][0]) for j in ids):
                if busy_end is not None and st > busy_end:
                    gap += st - busy_end
                busy_end = en if busy_end is None else max(busy_end, en)
        for stage, cpu, run_ms, rb, wb, py in tasks:
            if stage_job.get(stage) in idset:
                acc["cpu_ns"] += cpu
                acc["run_ms"] += run_ms
                acc["read_b"] += rb
                acc["write_b"] += wb
                acc["py_ms"] += py
        out[name] = {
            "jobs": len(idset),
            "executor_cpu_s": acc["cpu_ns"] / 1e9,
            "executor_run_s": acc["run_ms"] / 1e3,
            "job_gap_s": gap / 1e3,
            "shuffle_read_mb": acc["read_b"] / 2**20,
            "shuffle_write_mb": acc["write_b"] / 2**20,
            "python_eval_s": acc["py_ms"] / 1e3,
        }
    return out
