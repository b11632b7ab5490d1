"""log_point: the reference's own surface, no Spark.

Open loop: the producer issues fixed-size produce batches at RATE
batches per second, each timed from its scheduled send time, while a
pager, a ``tail`` long-poller and a compactor work the same stream from
a process of their own, as separate clients of the log would; writes,
reads and compaction share one manifest on disk.  The last CLOSED_SHARE
of the run is a closed loop: the producer sends back to back, the
readers and compactor still running, which gives the saturated produce
throughput.

Traffic and where each number comes from:

- BATCH_RECORDS: the produce batch BASELINE.md sets the ack target for
  ("batch of <=100 JSON records").
- RATE: 20 batches of 100 = 2000 records/s, the rate ``start_ingest``
  was measured to sustain at a 200 ms trigger, so both open loops carry
  the same traffic; a single producer was measured at 37 000 records/s
  (2.7 ms per 100-record produce), so the open loop leaves it idle
  most of the time.
- PAGE, PAGE_EVERY_S: 100 records per 50 ms is the produce rate, so the
  pager keeps pace with the head.
- COMPACT_EVERY_S: the reference compacts on every 200 ms flush alarm
  (BASELINE.md: compaction trigger probability 1.0 per alarm).
- CLOSED_MAX_BATCHES_PER_S: inputs for the closed loop, above the
  measured single-producer capacity of 370 batches/s.
"""

from __future__ import annotations

import multiprocessing
import os
import random
import statistics
import threading
import time

import checks
import harness
import inputs

BATCH_RECORDS = 100
RATE = 20  # produce batches per second in the open loop
CLOSED_SHARE = 0.3
PAGE = 100  # records per consume page
#: The pager and the compactor wait a seeded random time, uniform in
#: [0.5, 1.5] x their mean interval, between calls: with fixed periods
#: their phase against the producer's ticks would be set once per run
#: by start-up, and runs would differ by which phase they drew.
PAGE_EVERY_S = 0.05
COMPACT_EVERY_S = 0.2
TAIL_TIMEOUT_S = 0.5
#: Set-ups measured per run: this process's own, then fresh processes
#: repeating it; setup_s is their median.
SETUP_REPEATS = 5
#: Produces of the warm-up: enough to load every code path, few enough
#: that the fsyncs (four per produce) do not make set-up time a measure
#: of the disk.
WARM_PRODUCES = 3
#: Latency limits (BASELINE.md): produce ack 400 ms; tail delivery two
#: 200 ms flush intervals plus one flush's time.
ACK_LIMIT_MS = 400.0
TAIL_LIMIT_MS = 600.0
CLOSED_MAX_BATCHES_PER_S = 400
STREAM = "log"


def _setup(seed, seconds, root, i):
    """One set-up: the package import (the first in a process), a fresh
    catalog, the seeded inputs, and a warm-up pass over every operation
    on a scratch stream."""
    from durablestreams_spark import StreamCatalog
    from durablestreams_spark.maintenance import compact

    n_open = int(RATE * seconds * (1 - CLOSED_SHARE)) + 1
    n_closed = int(CLOSED_MAX_BATCHES_PER_S * seconds * CLOSED_SHARE) + 1
    batches = inputs.log_batches(seed, n_open + n_closed, BATCH_RECORDS)
    warm = StreamCatalog(os.path.join(root, f"setup{i}")).stream("warmup")
    for b in batches[:WARM_PRODUCES]:
        warm.produce(b)
    cur = "-"
    for _ in range(10):
        page = warm.consume(cur, PAGE)
        cur = page[-1].offset if page else "-"
    warm.tail(PAGE, 0, after_offset="-")
    compact(warm)
    warm.destroy()
    return batches, n_open


def cold_setup(seed, seconds, root, i, done):
    """A repeat of set-up in a fresh process, import included."""
    _setup(seed, seconds, root, i)
    done.put(i)


def window_rate(acks, wall, windows=8):
    """Median over ``windows`` equal slices of the closed loop of the
    records acked per second in each slice: one stall (a checkpoint
    write, a lost commit race) moves one slice, not the result."""
    width = wall / windows
    per = [0] * windows
    for t, n in acks:
        per[min(int(t / width), windows - 1)] += n
    return statistics.median(per) / width


class _Ops:
    """Counts attempted and failed operations of one process."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors = []

    def __call__(self, where, fn, *a, **kw):
        self.attempted += 1
        try:
            return fn(*a, **kw), True
        except Exception as exc:  # a failed op is counted, the run goes on
            self.failed += 1
            self.errors.append(f"{where}: {type(exc).__name__}: {exc}")
            return None, False


def readers(catalog_root, seed, trace, ready, go, stop, out):
    """The reader process: pager, tail long-poller and compactor threads
    on the shared stream from ``go`` until ``stop``; puts its
    measurements on ``out``.  Tail returns are wall-clock stamped so the
    producer process can match them to its send times."""
    from durablestreams_spark import StreamCatalog, maintenance

    tracer = None
    if trace:
        import tracing

        tracer = tracing.Tracer()
        tracing.install(tracer)
    stream = StreamCatalog(catalog_root).stream(STREAM)
    ops = _Ops()
    page_ms, views, tail_seen = [], [], {}  # tail_seen: batch -> epoch s

    def pager():
        rng = random.Random(f"pager:{seed}")
        cur, view = "-", []
        while not stop.is_set():
            t0 = time.perf_counter()
            page, ok = ops("consume", stream.consume, cur, PAGE)
            page_ms.append((time.perf_counter() - t0) * 1000.0 if ok else float("inf"))
            if ok:
                view.extend((r.offset, r.data["id"]) for r in page)
                if len(page) < PAGE:  # at the head: a new reader starts over
                    views.append(view)
                    cur, view = "-", []
                else:
                    cur = page[-1].offset
            stop.wait(PAGE_EVERY_S * rng.uniform(0.5, 1.5))
        views.append(view)

    def tailer():
        cur = ""
        while not stop.is_set():
            recs, ok = ops("tail", stream.tail, 1000, TAIL_TIMEOUT_S, after_offset=cur)
            t_ret = time.time()
            if ok and recs:
                cur = recs[-1].offset
                for r in recs:
                    tail_seen.setdefault(r.data["b"], t_ret)

    def compactor():
        rng = random.Random(f"compactor:{seed}")
        while not stop.wait(COMPACT_EVERY_S * rng.uniform(0.5, 1.5)):
            ops("compact", maintenance.compact, stream)

    threads = [threading.Thread(target=f, name=f.__name__) for f in (pager, tailer, compactor)]
    parent = os.getppid()
    ready.set()
    while not go.wait(0.5):
        if os.getppid() != parent:  # the producer process died
            return
    for t in threads:
        t.start()
    for t in threads:
        while t.is_alive():
            t.join(timeout=0.5)
            if os.getppid() != parent:  # the producer process died: stop too
                stop.set()
    res = {
        "attempted": ops.attempted,
        "failed": ops.failed,
        "errors": ops.errors[:20],
        "page_ms": page_ms,
        "views": views,
        "tail_seen": tail_seen,
    }
    if tracer is not None:
        res["layers"] = tracing.layer_metrics(tracer)
        res["manifest"] = {
            "commit": tracer.durations_ms("manifest.commit"),
            "load": tracer.durations_ms("manifest.load"),
            "conflicts": tracer.counters["manifest.conflicts"],
        }
    out.put(res)


def run(run):
    catalog_root = os.path.join(run.root, "timed")
    ctx = multiprocessing.get_context("spawn")
    ready, go, stop, out = ctx.Event(), ctx.Event(), ctx.Event(), ctx.Queue()
    proc = ctx.Process(
        target=readers,
        args=(catalog_root, run.seed, run.tracer is not None, ready, go, stop, out),
        name="readers",
    )
    proc.start()  # its start-up overlaps this process's set-up
    try:
        _run(run, ctx, catalog_root, ready, go, stop, out)
    finally:
        stop.set()
        go.set()
        proc.join(timeout=30)
        if proc.is_alive():
            proc.kill()
            proc.join()


def _run(run, ctx, catalog_root, ready, go, stop, out):
    from durablestreams_spark import StreamCatalog

    rep = run.report
    t_warm = time.perf_counter()
    batches, n_open = _setup(run.seed, run.seconds, run.root, 0)
    warm_s = time.perf_counter() - t_warm
    if not ready.wait(timeout=60):
        raise RuntimeError("reader process did not start")
    setups = [time.perf_counter() - run.t_process]
    done = ctx.Queue()
    for i in range(1, SETUP_REPEATS):
        p = ctx.Process(target=cold_setup, args=(run.seed, run.seconds, run.root, i, done), name=f"setup{i}")
        t0 = time.perf_counter()
        p.start()
        run.rss.exclude.add(p.pid)  # a copy of set-up, not part of the run
        done.get(timeout=60)
        setups.append(time.perf_counter() - t0)
        p.join()
    run.put("setup_s", statistics.median(setups), "s")
    run.put("session.warmup_s", warm_s, "s")
    rep.detail["setup_s"] = setups
    go.set()

    undo = None
    if run.tracer is not None:
        import tracing

        undo = tracing.install(run.tracer)
    stream = StreamCatalog(catalog_root).stream(STREAM)
    ops = _Ops()
    acked = {}  # offset -> id
    send_start = {}  # batch -> epoch s at the produce call
    ack_ms, late_ms, acks = [], [], []  # acks: closed loop (s since its start, records)

    cpu0 = harness.tree_cpu_s()
    t_start = time.perf_counter()
    interval = 1.0 / RATE
    for b in range(n_open):
        due = t_start + b * interval
        now = time.perf_counter()
        if now < due:
            time.sleep(due - now)
        start = time.perf_counter()
        late_ms.append((start - due) * 1000.0)
        send_start[b] = time.time()
        res, ok = ops("produce", stream.produce, batches[b])
        ack_ms.append((time.perf_counter() - due) * 1000.0 if ok else float("inf"))
        if ok:
            acked.update(zip(res.offsets, (r["id"] for r in batches[b])))
    # CPU per record over the open loop: a fixed amount of work in a
    # fixed time, whatever the machine's speed
    cpu_s = harness.tree_cpu_s() - cpu0  # producer and reader processes
    open_records = len(acked)
    # closed loop: back to back for the rest of the run
    t_closed = time.perf_counter()
    end = t_closed + run.seconds * CLOSED_SHARE
    b = n_open
    while time.perf_counter() < end and b < len(batches):
        res, ok = ops("produce", stream.produce, batches[b])
        if ok:
            acks.append((time.perf_counter() - t_closed, len(batches[b])))
            acked.update(zip(res.offsets, (r["id"] for r in batches[b])))
        b += 1
    wall = time.perf_counter() - t_closed
    stop.set()
    readers_out = out.get(timeout=60)  # drain before the join in run()
    if undo is not None:
        undo()
    rep.op(True, ops.attempted + readers_out["attempted"])
    rep.failed += ops.failed + readers_out["failed"]
    rep.errors.extend(ops.errors + readers_out["errors"])

    # -- correctness, outside the timed region ----------------------------
    read, cur = [], "-"
    while True:
        page = stream.consume(cur, 5000)
        if not page:
            break
        read.extend((r.offset, r.data["id"]) for r in page)
        cur = page[-1].offset
    rep.check("log_exactly_once", *checks.log_exactly_once(acked, read))
    views = readers_out["views"]
    bad_views = [v for v in views if not checks.strictly_increasing([o for o, _ in v])[0]]
    wrong_ids = sum(1 for v in views for o, i in v if acked.get(o) != i)
    rep.check(
        "pager_order_and_ids",
        not bad_views and not wrong_ids,
        f"{len(views)} passes, {len(bad_views)} out of order, {wrong_ids} wrong ids",
    )
    tail_ms = [(t - send_start[b]) * 1000.0 for b, t in readers_out["tail_seen"].items() if b < n_open]
    rep.check("tail_delivered", len(tail_ms) > 0, f"{len(tail_ms)} batches")

    # -- metrics -----------------------------------------------------------
    ack = harness.summarize(ack_ms, ACK_LIMIT_MS)
    tl = harness.summarize(tail_ms, TAIL_LIMIT_MS)
    pg = harness.summarize(readers_out["page_ms"])
    rps = window_rate(acks, wall)
    run.put("cpu_us_per_record", cpu_s * 1e6 / max(1, open_records), "us/record")
    run.put("produce_ack_p50_ms", ack["p50"], "ms")
    run.put("produce_ack_tail_ms", ack["tail_value"], "ms")
    run.put("consume_page_p50_ms", pg["p50"], "ms")
    run.put("tail_delivery_p50_ms", tl["p50"], "ms")
    run.put("log_saturated_records_s", rps, "records/s")
    run.put("log.generator_late_ms_tail", harness.tail(late_ms)[1], "ms")
    run.put("slo.over_limit", ack["over_limit"] + tl["over_limit"], "count")
    run.put("stream.active_segments_end", len(stream.refresh().active), "count")
    run.put("error_rate", rep.failed / max(1, rep.attempted), "ratio")
    rep.detail.update({"produce_ack": ack, "tail_delivery": tl, "consume_page": pg, "closed_wall_s": wall})
    if run.tracer is not None:
        _layers(run, readers_out)


#: Per-layer metrics the reader process measures (consume, tail and
#: compaction all run there).
_READER_LAYERS = (
    "stream.consume_read_ms_p50",
    "stream.rows_decoded_per_row_returned",
    "stream.tail_wakeups_per_delivery",
    "stream.tail_refolds",
    "maintenance.compact_ms_p50",
    "maintenance.compacts",
    "maintenance.compact_lost_races",
    "maintenance.segments_merged",
)


def _layers(run, readers_out):
    """Per-layer metrics of both processes: produce-side layers from
    this process, reader-side ones from the reader process, and the
    manifest over the commits and loads of both."""
    import tracing

    mine = tracing.layer_metrics(run.tracer)
    theirs = readers_out["layers"]
    for name, (value, unit) in mine.items():
        run.put(name, theirs[name][0] if name in _READER_LAYERS else value, unit)
    m = readers_out["manifest"]
    commits = run.tracer.durations_ms("manifest.commit") + m["commit"]
    loads = run.tracer.durations_ms("manifest.load") + m["load"]
    run.put("manifest.commit_ms_p50", harness.median(commits) if commits else 0.0, "ms")
    run.put("manifest.commits", len(commits), "count")
    run.put("manifest.load_ms_p50", harness.median(loads) if loads else 0.0, "ms")
    run.put("manifest.loads", len(loads), "count")
    run.put("manifest.conflicts", run.tracer.counters["manifest.conflicts"] + m["conflicts"], "count")
