"""Tests for the benchmark's own generators, checks, tracer and CLI.

    python3 -m pytest perfbench/tests -q

The smoke tests run each workload end to end for one second; the two
Spark workloads take most of a minute each (session start and warm-up).
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import harness  # noqa: E402
import inputs  # noqa: E402


def _tree_digest(d):
    h = hashlib.sha256()
    for name in sorted(os.listdir(d)):
        h.update(name.encode())
        with open(os.path.join(d, name), "rb") as f:
            h.update(f.read())
    return h.hexdigest()


# -- generators ----------------------------------------------------------


def test_log_batches_same_seed_identical_other_seed_differs():
    a = inputs.digest(inputs.log_batches(7, 40))
    assert a == inputs.digest(inputs.log_batches(7, 40))
    assert a != inputs.digest(inputs.log_batches(8, 40))


def test_log_batches_fixed_size_ids_unique_and_numbered():
    batches = inputs.log_batches(3, 25, 100)
    assert {len(b) for b in batches} == {100}
    ids = [r["id"] for b in batches for r in b]
    assert ids == list(range(len(ids)))
    assert all(r["b"] == i for i, b in enumerate(batches) for r in b)


def test_event_rows_same_seed_identical_other_seed_differs():
    assert inputs.event_rows(1, 50, 100) == inputs.event_rows(1, 50, 100)
    assert inputs.event_rows(1, 50, 100) != inputs.event_rows(2, 50, 100)
    assert [r[0] for r in inputs.event_rows(1, 5, 100)] == list(range(100, 105))


def test_json_source_file_is_byte_identical(tmp_path):
    rows = inputs.event_rows(5, 20)
    a, b = str(tmp_path / "a.json"), str(tmp_path / "b.json")
    inputs.write_json_file(a, rows, 1234)
    inputs.write_json_file(b, rows, 1234)
    assert open(a, "rb").read() == open(b, "rb").read()
    assert json.loads(open(a).readline())["created_ms"] == 1234


def test_corpus_same_seed_byte_identical_other_seed_differs(tmp_path):
    for name, seed in (("a", 11), ("b", 11), ("c", 12)):
        inputs.corpus(seed, str(tmp_path / name), 500, 60, 40, dim=8)
    a, b, c = (_tree_digest(str(tmp_path / n)) for n in "abc")
    assert a == b
    assert a != c


# -- correctness checks ----------------------------------------------------


def _log(n):
    offsets = [f"{i:032d}" for i in range(1, n + 1)]
    return dict(zip(offsets, range(n))), list(zip(offsets, range(n)))


def test_log_check_accepts_exact_log():
    acked, read = _log(10)
    assert checks.log_exactly_once(acked, read)[0]


def test_log_check_rejects_dropped_record():
    acked, read = _log(10)
    ok, detail = checks.log_exactly_once(acked, read[:4] + read[5:])
    assert not ok and "never read" in detail


def test_log_check_rejects_duplicated_record():
    acked, read = _log(10)
    ok, _ = checks.log_exactly_once(acked, read[:5] + [read[4]] + read[5:])
    assert not ok


def test_log_check_rejects_reordered_and_wrong_id():
    acked, read = _log(10)
    assert not checks.log_exactly_once(acked, read[:3] + [read[4], read[3]] + read[5:])[0]
    wrong = list(read)
    wrong[2] = (wrong[2][0], 99)
    ok, detail = checks.log_exactly_once(acked, wrong)
    assert not ok and "wrong id" in detail


def test_ids_check_rejects_dropped_and_duplicated():
    assert checks.ids_exactly_once(range(5), [0, 1, 2, 3, 4])[0]
    assert not checks.ids_exactly_once(range(5), [0, 1, 3, 4])[0]
    assert not checks.ids_exactly_once(range(5), [0, 1, 2, 2, 3, 4])[0]
    assert not checks.ids_exactly_once(range(5), [0, 1, 2, 3, 4, 5])[0]


def test_result_check_is_order_insensitive_and_catches_changes():
    cols, rows = ["a", "b"], [(1, 0.5), (2, 1.25)]
    oracle = (["b", "a"], *checks.rows_hash(["b", "a"], [(1.25, 2), (0.5, 1)]))
    assert checks.same_result(cols, rows, oracle)[0]
    assert not checks.same_result(cols, rows[:1], oracle)[0]
    assert not checks.same_result(cols, rows + [rows[0]], oracle)[0]
    assert not checks.same_result(cols, [], oracle)[0]


# -- statistics and tracing -------------------------------------------------


def test_tail_percentile_needs_ten_samples_beyond():
    assert harness.tail(list(range(1000)))[0] == "p99"
    assert harness.tail(list(range(200)))[0] == "p95"
    assert harness.tail(list(range(15)))[0] == "p50"
    assert harness.median([1.0, float("inf"), 2.0]) == 2.0


def test_tracer_spans_self_time_and_undo(tmp_path):
    import tracing
    from durablestreams_spark import StreamCatalog, stream as stream_mod

    orig = stream_mod.Stream.produce
    tr = tracing.Tracer()
    undo = tracing.install(tr)
    try:
        s = StreamCatalog(str(tmp_path)).stream("t")
        s.produce([{"v": 1}, {"v": 2}])
        assert [r.data["v"] for r in s.consume("-", 10)] == [1, 2]
    finally:
        undo()
    assert stream_mod.Stream.produce is orig
    names = {sp[2] for sp in tr.spans}
    assert {"stream.produce", "stream.write_segment", "manifest.commit", "os.fsync"} <= names
    assert tr.counters["stream.rows_returned"] == 2
    self_t = tr.self_times_s()
    total = sum(sp[4] - sp[3] for sp in tr.by_name("stream.produce"))
    assert 0 <= self_t["stream.produce"] <= total


_ENDS_CHILDREN = """
import multiprocessing, subprocess, sys, time
import harness
harness.adopt_orphans()
ctx = multiprocessing.get_context("spawn")
ev = ctx.Event()  # starts the resource tracker
subprocess.run(["sh", "-c", "sleep 30 &"], check=True)  # leaves an orphan
time.sleep(0.2)
assert len(harness._descendants()) == 2, harness._descendants()
killed = harness.end_children(grace_s=1.0)
assert harness._descendants() == [], harness._descendants()
print(killed)
"""


def test_end_children_stops_orphans_and_the_resource_tracker():
    proc = subprocess.run([sys.executable, "-c", _ENDS_CHILDREN], cwd=BENCH,
                          capture_output=True, text=True, timeout=60)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.split() == ["1"]  # the orphan was killed, the tracker exited


# -- the command ----------------------------------------------------------


def _run(cwd, workload, out_dir, seconds=1, trace=0, timeout=170):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "1",
         "--seconds", str(seconds), "--trace", str(trace), "--out", str(out_dir)],
        cwd=cwd, capture_output=True, text=True, timeout=timeout,
    )


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    return out


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), "log_point", tmp_path / "out", timeout=60)
    assert proc.returncode != 0
    assert not proc.stdout.strip()


def test_log_point_smoke_and_trace_overhead(tmp_path):
    spec = _spec()
    traced = _run(ROOT, "log_point", tmp_path, trace=1)
    assert "trace_overhead: no untraced run" in traced.stdout
    untraced = _run(ROOT, "log_point", tmp_path)
    for trace, proc in ((0, untraced), (1, traced)):
        out = _result(proc)
        names = [m["name"] for m in spec["per_layer" if trace else "end_to_end"]]
        assert out["correct"] and out["failed"] == 0
        assert list(out["metrics"]) == names
    assert all(v["value"] > 0 for v in _result(untraced)["metrics"].values())
    # with an untraced run of the same seed and length, the overhead is printed
    again = _run(ROOT, "log_point", tmp_path, trace=1)
    _result(again)
    assert "trace_overhead setup_s = " in again.stdout


@pytest.mark.parametrize("workload", ["stream_group_commit", "corpus_batch"])
def test_spark_workload_smoke(workload, tmp_path):
    out = _result(_run(ROOT, workload, tmp_path))
    assert out["correct"] and out["failed"] == 0
    assert all(v["value"] > 0 for v in out["metrics"].values())
