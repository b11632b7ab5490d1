"""stream_group_commit: the Structured Streaming group-commit loop.

Open loop for the run's seconds: the generator lands one JSON-lines
file every FILE_EVERY_S in a source directory, each event stamped with
its creation time (the file's scheduled landing time).
``streaming.start_ingest`` at a 200 ms trigger flushes each micro-batch
into the destination stream through ``flush_batch``'s point-produce
path, while a consumer thread tails the destination.  Then BURSTS files of
BURST_ROWS (> SMALL_BATCH_ROWS) rows each take the ``produce_bulk``
path, one at a time.  Set-up warms both paths: the same query first
drains a few steady files and one burst.  Every file is written to a
staging dir before the clock starts; landing one is a rename.

Traffic and where each number comes from:

- EVENTS_PER_S: 1000 events/s, half the 2000 events/s ``start_ingest``
  was measured to sustain at a 200 ms trigger (about 1000 rows per
  trigger, 485 ms per trigger): at the full rate the query has no
  headroom, falls behind on a slower host, and the run measures its
  queue rather than its latency.
- FILE_EVERY_S: half the trigger interval, so every trigger finds new
  files.
- BURST_ROWS: SMALL_BATCH_ROWS (10 000, ``streaming/ingest.py``), above
  which ``flush_batch`` takes the bulk path, plus one trigger's worth
  (1000 rows) of the steady traffic.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time

import checks
import harness
import inputs
import sparkrun

TRIGGER_MS = 200
EVENTS_PER_S = 1000
FILE_EVERY_S = 0.1
EVENTS_PER_FILE = int(EVENTS_PER_S * FILE_EVERY_S)
BURST_ROWS = 11_000
BURSTS = 3
WARM_FILES = 3
#: Time between staging the steady files and the first one's landing:
#: their creation stamps are written before the clock starts.
LEAD_S = 0.5
DRAIN_TIMEOUT_S = 30.0

EVENT_SCHEMA = (
    "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING, created_ms LONG"
)


class Ingest:
    """One source dir → start_ingest → destination stream, plus the
    generator that feeds it."""

    def __init__(self, spark, root, seed):
        from durablestreams_spark import StreamCatalog

        self.spark = spark
        self.seed = seed
        self.src = os.path.join(root, "src")
        self.staging = os.path.join(root, "staging")
        os.makedirs(self.src)
        os.makedirs(self.staging)
        self.ckpt = os.path.join(root, "ckpt")
        self.stream = StreamCatalog(os.path.join(root, "streams")).stream("dest")
        self.generated = []  # event ids landed, in landing order
        self.n_staged = 0
        self.query = None

    def start(self):
        from durablestreams_spark.streaming import ingest

        source = self.spark.readStream.schema(EVENT_SCHEMA).json(self.src)
        self.query = ingest.start_ingest(
            self.stream, source, self.ckpt, "perfbench", trigger_ms=TRIGGER_MS, order_by=["event_id"]
        )

    def stage(self, n_rows, created_ms):
        """Write a source file of ``n_rows`` fresh events, each stamped
        ``created_ms`` (epoch ms), to the staging dir; returns (file
        name, event ids)."""
        rows = inputs.event_rows(self.seed, n_rows, first_id=self.n_staged)
        name = f"part-{self.n_staged:09d}.json"
        inputs.write_json_file(os.path.join(self.staging, name), rows, created_ms)
        self.n_staged += n_rows
        return name, [r[0] for r in rows]

    def land(self, staged):
        """Move a staged file into the source dir, where the query sees it."""
        name, ids = staged
        os.rename(os.path.join(self.staging, name), os.path.join(self.src, name))
        self.generated.extend(ids)

    def durable_records(self):
        from durablestreams_spark.manifest import Manifest

        # the benchmark's own polling stays out of the traced manifest loads
        load = getattr(Manifest.load, "__wrapped__", Manifest.load)
        return sum(s.records for s in load(Manifest(self.stream.dir)).active.values())

    def wait_durable(self, n, timeout):
        """Wait until ``n`` records are committed; False on timeout or
        when the ingest query has died."""
        end = time.monotonic() + timeout
        while time.monotonic() < end:
            if self.durable_records() >= n:
                return True
            if self.query is not None and not self.query.isActive:
                return False
            time.sleep(0.02)
        return False

    def read_all(self):
        out, cur = [], "-"
        while True:
            page = self.stream.consume(cur, 5000)
            if not page:
                return out
            out.extend((r.offset, r.data["event_id"]) for r in page)
            cur = page[-1].offset


def run(run):
    spark, jvm_s = sparkrun.start(run, "perfbench-stream_group_commit")
    windows = {"streaming": []}
    try:
        _run(run, spark, jvm_s, windows)
    finally:
        sparkrun.stop(spark)
    if run.tracer is not None:
        ev = sparkrun.read_event_log(run, windows)["streaming"]
        run.put("streaming.jobs", ev["jobs"], "count")
        run.put("streaming.job_gap_s", ev["job_gap_s"], "s")


def _run(run, spark, jvm_s, windows):
    rep = run.report
    ing = Ingest(spark, run.root, run.seed)
    now_ms = int(time.time() * 1000)
    warm = [ing.stage(EVENTS_PER_FILE, now_ms) for _ in range(WARM_FILES)] + [ing.stage(BURST_ROWS, now_ms)]
    bursts = [ing.stage(BURST_ROWS, now_ms) for _ in range(BURSTS)]
    late_ms = []
    seen = []  # (event id, epoch ms when the consumer got it)
    stop = threading.Event()

    def consumer():
        cur = ""
        while not stop.is_set():
            try:
                recs = ing.stream.tail(5000, 0.5, after_offset=cur)
                rep.op(True)
            except Exception as exc:  # counted; the consumer keeps going
                rep.op(False)
                rep.error("tail", exc)
                continue
            now = time.time() * 1000
            if recs:
                cur = recs[-1].offset
                seen.extend((r.data["event_id"], now) for r in recs)

    ing.start()
    cons = threading.Thread(target=consumer, name="consumer")
    cons.start()
    # warm-up: the point path (a few steady files), then the bulk path
    t0 = time.perf_counter()
    for staged in warm:
        ing.land(staged)
        if not ing.wait_durable(len(ing.generated), DRAIN_TIMEOUT_S):
            raise RuntimeError("warm-up ingest did not drain")
    warm_s = time.perf_counter() - t0
    undo = None
    if run.tracer is not None:
        import tracing

        undo = tracing.install(run.tracer)  # flush_batch is looked up per batch
    t_first = time.time() + LEAD_S  # epoch s at which the first steady file lands
    n_files = int(run.seconds / FILE_EVERY_S)
    steady = [ing.stage(EVENTS_PER_FILE, int((t_first + k * FILE_EVERY_S) * 1000)) for k in range(n_files)]
    created = {i: int((t_first + k * FILE_EVERY_S) * 1000) for k, (_n, ids) in enumerate(steady) for i in ids}
    n_steady = len(created)
    setup_s = time.perf_counter() - run.t_process
    t_start = time.perf_counter() + (t_first - time.time())
    time.sleep(max(0.0, t_start - time.perf_counter()))
    cpu0 = harness.tree_cpu_s()
    # this thread only lands files and polls the manifest: the
    # benchmark's own work, taken out of the CPU figure below
    own0 = time.thread_time()
    for k, staged in enumerate(steady):
        due = t_start + k * FILE_EVERY_S
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        late_ms.append((time.perf_counter() - due) * 1000.0)
        ing.land(staged)
        rep.op(True)
    steady_ok = ing.wait_durable(len(ing.generated), DRAIN_TIMEOUT_S)
    phase_cpu = [harness.tree_cpu_s() - cpu0]
    burst_s, burst_ok = [], True
    for staged in bursts:
        t_burst0 = time.perf_counter()
        ing.land(staged)
        ok = ing.wait_durable(len(ing.generated), DRAIN_TIMEOUT_S)
        burst_s.append(time.perf_counter() - t_burst0)
        phase_cpu.append(harness.tree_cpu_s() - cpu0 - sum(phase_cpu))
        rep.op(ok)
        burst_ok = burst_ok and ok
    own_s = time.thread_time() - own0
    # let the consumer catch up, then stop everything
    end = time.monotonic() + DRAIN_TIMEOUT_S
    while len(seen) < len(ing.generated) and time.monotonic() < end:
        time.sleep(0.05)
    stop.set()
    cons.join(timeout=10)
    # triggers of the timed region only
    progress = [json.loads(p.json) for p in ing.query.recentProgress]
    progress = [p for p in progress if _epoch_ms(p["timestamp"]) >= t_first * 1000 - TRIGGER_MS]
    ing.query.stop()
    if undo is not None:
        undo()
    windows["streaming"].append((t_first * 1000, time.time() * 1000))

    # -- correctness, outside the timed region ----------------------------
    rep.check("steady_drained", steady_ok, f"{n_steady} events")
    rep.check("bursts_drained", burst_ok, f"{BURSTS} x {BURST_ROWS} rows in {burst_s} s")
    read = ing.read_all()
    rep.check("destination_offsets_increase", *checks.strictly_increasing([o for o, _ in read]))
    rep.check("destination_exactly_once", *checks.ids_exactly_once(ing.generated, [i for _, i in read]))
    rep.check("consumer_exactly_once", *checks.ids_exactly_once(ing.generated, [i for i, _ in seen]))
    fresh_ms = [t - created[i] for i, t in seen if i in created]
    # checkpoint dirs the engine made for itself under the private TMPDIR
    leaked = [d for d in os.listdir(os.environ["TMPDIR"]) if d.startswith("ds_ckpt_")]

    # -- metrics -----------------------------------------------------------
    trig = streaming_progress(progress)
    limit = 2 * TRIGGER_MS + trig.get("streaming.trigger_ms_p50", 0.0)
    fr = harness.summarize(fresh_ms, limit)
    burst_rps = BURST_ROWS / statistics.median(burst_s)
    # CPU of the Python process, JVM and Python workers, less this
    # thread's; the bursts count at their median, so that one stalled
    # burst does not move the figure
    cpu_s = phase_cpu[0] + BURSTS * statistics.median(phase_cpu[1:]) - own_s
    run.put("setup_s", setup_s, "s")
    run.put("session.jvm_start_s", jvm_s, "s")
    run.put("session.warmup_s", warm_s, "s")
    run.put("cpu_us_per_record", cpu_s * 1e6 / (n_steady + BURSTS * BURST_ROWS), "us/record")
    run.put("freshness_p50_ms", fr["p50"], "ms")
    run.put("freshness_tail_ms", fr["tail_value"], "ms")
    run.put("burst_records_s", burst_rps, "records/s")
    run.put("log.generator_late_ms_tail", harness.tail(late_ms)[1], "ms")
    run.put("slo.over_limit", fr["over_limit"], "count")
    run.put("streaming.ckpt_dirs_leaked", len(leaked), "count")
    run.put("stream.active_segments_end", len(ing.stream.refresh().active), "count")
    for k, v in trig.items():
        run.put(k, v, "count" if k in ("streaming.triggers",) else ("rows" if "rows" in k else "ms"))
    run.put("error_rate", rep.failed / max(1, rep.attempted), "ratio")
    rep.detail.update({"freshness": fr, "burst_s": burst_s, "phase_cpu_s": phase_cpu, "own_cpu_s": own_s})
    if run.tracer is not None:
        import tracing

        for name, (value, unit) in tracing.layer_metrics(run.tracer).items():
            run.put(name, value, unit)
        for name, (value, unit) in tracing.streaming_metrics(run.tracer).items():
            run.put(name, value, unit)
        for name, (value, unit) in tracing.ingest_metrics(run.tracer).items():
            run.put(name, value, unit)


def _epoch_ms(timestamp):
    """Epoch ms of a recentProgress ISO timestamp."""
    from datetime import datetime

    return datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp() * 1000


#: recentProgress durationMs components reported per trigger
PROGRESS_PARTS = ("addBatch", "getBatch", "queryPlanning", "walCommit", "commitOffsets", "latestOffset")


def streaming_progress(progress):
    """Per-trigger numbers from a query's recentProgress: triggers that
    ran a batch, their execution time and its breakdown, rows per
    trigger and the idle gap between one trigger's end and the next
    trigger's start."""
    ran = [p for p in progress if p.get("numInputRows", 0) > 0]
    if not ran:
        return {"streaming.triggers": 0}
    out = {
        "streaming.triggers": len(ran),
        "streaming.trigger_ms_p50": harness.median(p["durationMs"]["triggerExecution"] for p in ran),
        "streaming.rows_per_trigger_p50": harness.median(p["numInputRows"] for p in ran),
    }
    for part in PROGRESS_PARTS:
        vals = [p["durationMs"].get(part, 0) for p in ran]
        out[f"streaming.{part}_ms_p50"] = harness.median(vals)
    starts = [(_epoch_ms(p["timestamp"]), p["durationMs"].get("triggerExecution", 0)) for p in progress]
    gaps = [s1 - (s0 + d0) for (s0, d0), (s1, _d1) in zip(starts, starts[1:])]
    out["streaming.inter_trigger_gap_ms_p50"] = harness.median(gaps) if gaps else 0.0
    return out
