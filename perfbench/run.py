"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload log_point --seed 1 --seconds 10 --trace 0

Run from the repository root.  The workload's inputs are generated from
``--seed``; its outputs are checked after the timed region.  Detail
lines (checks, every metric by name, the environment stamp) come first;
the last line of stdout is the JSON result: with ``--trace 0`` it holds
the end-to-end metrics of ``BENCHMARK.json``, with ``--trace 1`` the
per-layer metrics.  A traced run also prints the tracing overhead: its
end-to-end metrics against those of an untraced run of the same
workload, seed and length kept in the output directory (``--out``,
``.perfbench_runs`` by default).
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("log_point", "stream_group_commit", "corpus_batch")
#: A run must end within 180 s; give up cleanly before that.
DEADLINE_S = 170.0


class Run:
    """Everything a workload needs: its seed and duration, a private
    directory, the report it fills and, on traced runs, the tracer."""

    def __init__(self, workload, seed, seconds, trace, root):
        from harness import Report

        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.root = root
        self.report = Report(workload, seed, trace)
        self.tracer = None
        self.t_process = T_PROCESS
        self.rss = None  # the RssSampler, for helper processes to opt out

    def put(self, name, value, unit):
        self.report.put(name, value, unit)


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _isolate(run_root):
    """Point every temp-file writer of this process tree (Python, the
    JVM, Spark's local dirs, event log) at the private run root."""
    tmp = os.path.join(run_root, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    # The engine's persisted-result caches stay off: every timed
    # iteration recomputes its result.
    os.environ["SPARK_GRAFT_GATE_CACHE"] = "0"
    import tempfile

    tempfile.tempdir = tmp


def _watchdog():
    def fire():
        print(f"perfbench: run exceeded {DEADLINE_S:.0f} s, aborting", file=sys.stderr, flush=True)
        import harness

        harness.end_children(grace_s=0.0, finalize=False)
        os._exit(3)

    t = threading.Timer(DEADLINE_S - (time.perf_counter() - T_PROCESS), fire)
    t.daemon = True
    t.start()
    return t


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default=os.path.join(ROOT, ".perfbench_runs"),
                    help="directory for the private run dir, results and traces")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "durablestreams_spark")):
        print(f"perfbench: no durablestreams_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    spec = _spec()

    base = os.path.abspath(args.out)
    run_root = os.path.join(base, f"{args.workload}-s{args.seed}-{os.getpid()}")
    shutil.rmtree(run_root, ignore_errors=True)
    os.makedirs(run_root)
    for d in ("results", "traces"):
        os.makedirs(os.path.join(base, d), exist_ok=True)
    _isolate(run_root)
    import harness
    import importlib

    harness.adopt_orphans()
    dog = _watchdog()

    run = Run(args.workload, args.seed, args.seconds, bool(args.trace), run_root)
    if args.trace:
        import tracing

        run.tracer = tracing.Tracer()
    module = importlib.import_module(f"wl_{args.workload}")
    try:
        with harness.RssSampler() as rss:
            run.rss = rss
            module.run(run)
        if "peak_rss_mb" not in run.report.values:  # a workload may take it earlier
            run.put("peak_rss_mb", rss.peak_mb, "MB")
        run.report.detail["peak_rss_parts_mb"] = {k: round(v, 1) for k, v in rss.peak_parts.items()}
        run.report.detail["env"] = harness.env_stamp(run_root)
    finally:
        # every process the run started has ended before the result
        killed = harness.end_children()
        if killed:
            print(f"perfbench: killed {killed} processes that outlived the run", file=sys.stderr)
        dog.cancel()
        shutil.rmtree(run_root, ignore_errors=True)

    rep = run.report
    key = f"{args.workload}-s{args.seed}-{args.seconds:g}s"
    result_path = os.path.join(base, "results", f"{key}-{'traced' if args.trace else 'untraced'}.json")
    e2e = [m["name"] for m in spec["end_to_end"]]
    if args.trace:
        names = [m["name"] for m in spec["per_layer"]]
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
        _overhead(rep, e2e, os.path.join(base, "results", f"{key}-untraced.json"))
        for n in names:
            if n not in rep.values:
                rep.put(n, 0.0, units[n])  # layer not exercised by this workload
        run.tracer.dump(os.path.join(base, "traces", f"{args.workload}-s{args.seed}.json"))
    else:
        names = e2e
    print("env " + json.dumps(rep.detail["env"]))
    if args.trace:
        overhead = rep.detail["trace_overhead"]
        if isinstance(overhead, str):
            print(f"trace_overhead: {overhead}")
        else:
            for n, v in sorted(overhead.items()):
                print(f"trace_overhead {n} = {v:+.3f} %")
    rep.emit(names, result_path)
    return 0


def _overhead(rep, e2e, untraced_path):
    """Tracing overhead: each end-to-end metric of this traced run
    against the untraced run of the same workload, seed and length, in
    percent.  It goes to the detail lines, not the result: without such
    a run there is nothing to compare with."""
    try:
        with open(untraced_path) as f:
            ref = json.load(f)["all_metrics"]
    except (OSError, ValueError, KeyError):
        rep.detail["trace_overhead"] = f"no untraced run to compare with at {untraced_path}"
        return
    rep.detail["trace_overhead"] = {
        n: (rep.values[n][0] - ref[n]) / ref[n] * 100.0 for n in e2e if ref.get(n) and n in rep.values
    }


if __name__ == "__main__":
    sys.exit(main())
