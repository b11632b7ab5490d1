"""corpus_batch: Spark executor work over the log, one client.

Closed loop, one client.  Each pass bulk-ingests the seeded event
table into a fresh stream (``produce_bulk``: one manifest commit) and
runs the log query mix over ``Stream.to_df``.  On traced runs the
registered LLM operators then run over the seeded document and
embedding tables, each checked and then timed; the first run of the ANN
operator builds its persisted artifact.  Every Spark action goes
through the noop sink, so column pruning cannot skip projected work;
set-up runs every query once (codegen, Python workers) and discards it.

Sizes: the tables have the shapes of the sf0.1 test corpus (100 000
events, 5 000 documents, 2 000 embeddings) at a fifth of its rows.  A
fifth is what a measured run allows: on a 4-core host a run at three
tenths took 50-85 s (25-55 s of set-up, then four passes of 4-8 s
each), and a run should stay under a minute.
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys
import time

import checks
import harness
import inputs
import sparkrun

HERE = os.path.dirname(os.path.abspath(__file__))
N_EVENTS = 20_000
N_DOCS = 1_000
N_VECS = 400
BATCH = 1000  # records per logical epoch, as in operators/logops.py
MIN_PASSES = 6
OPERATORS = (
    "dedup_minhash_lsh_pairs",
    "similarity_ivfpq_topk",
    "text_bpe_tokenize",
    "text_quality_classifier_nb",
)
PAYLOAD = "event_id LONG, user_id LONG, event_type STRING, value DOUBLE, event_us LONG"


def _offset(rn):
    """Offset of the rn-th record (1-based) of a fresh stream ingested
    with BATCH records per epoch (the _ORACLE_OFFSETS arithmetic)."""
    return f"{(rn - 1) // BATCH + 1:016d}{(rn - 1) % BATCH:016d}"


def log_queries(seed):
    """The relational mix over the log: name -> (spark fn(stream, spark),
    DuckDB oracle SQL over the ``events`` table)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window as W

    from durablestreams_spark.functions.asof import asof_join
    from durablestreams_spark.functions.payload import typed_view
    from durablestreams_spark.operators.logops import _ORACLE_OFFSETS

    lo_rn = 1 + (seed * 7919) % (N_EVENTS // 2)
    lo, hi = _offset(lo_rn), _offset(lo_rn + N_EVENTS // 10)

    def typed(stream, spark, **kw):
        return typed_view(stream.to_df(spark, **kw), PAYLOAD)

    def payload_agg(stream, spark):
        return typed(stream, spark).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
            F.max("value").alias("top"),
            F.countDistinct("user_id").alias("users"),
        )

    def window_rank(stream, spark):
        w = W.partitionBy("event_type").orderBy(F.col("value").desc(), F.col("event_id"))
        return (
            typed(stream, spark)
            .withColumn("rk", F.row_number().over(w))
            .where("rk <= 5")
            .select("event_type", "event_id", "value", "rk")
        )

    def asof(stream, spark):
        ev = typed(stream, spark)
        left = ev.where("event_type = 'purchase'").select("user_id", "event_us", "event_id")
        right = ev.where("event_type = 'click'").select("user_id", "event_us", F.col("event_id").alias("click_id"))
        return asof_join(left, right, on="event_us", by=["user_id"], tiebreak=["click_id"]).select(
            "event_id", F.col("click_id_right").alias("click_id")
        )

    def offset_range(stream, spark):
        return (
            typed(stream, spark, after_offset=lo)
            .where((F.col("offset") > lo) & (F.col("offset") <= hi))
            .select("event_id", "offset")
        )

    us = "(epoch_us(ts))"
    return {
        "payload_agg": (
            payload_agg,
            "SELECT event_type, count(*) AS n, round(sum(value), 2) AS total, max(value) AS top, "
            "count(DISTINCT user_id) AS users FROM events GROUP BY event_type",
        ),
        "window_rank": (
            window_rank,
            "SELECT event_type, event_id, value, rk FROM (SELECT event_type, event_id, value, "
            "row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk "
            "FROM events) WHERE rk <= 5",
        ),
        "asof_join": (
            asof,
            f"SELECT l.event_id, r.event_id AS click_id FROM "
            f"(SELECT * FROM events WHERE event_type = 'purchase') l LEFT JOIN "
            f"(SELECT * FROM events WHERE event_type = 'click') r "
            f"ON r.user_id = l.user_id AND {us.replace('ts', 'r.ts')} < {us.replace('ts', 'l.ts')} "
            f"QUALIFY row_number() OVER (PARTITION BY l.event_id "
            f"ORDER BY {us.replace('ts', 'r.ts')} DESC NULLS LAST, r.event_id DESC) = 1",
        ),
        "offset_range": (
            offset_range,
            f"SELECT event_id, \"offset\" FROM ({_ORACLE_OFFSETS}) WHERE \"offset\" > '{lo}' AND \"offset\" <= '{hi}'",
        ),
    }


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def ingest(spark, corpus_dir, root, n):
    """Bulk-ingest the event table into a fresh stream; returns it."""
    from pyspark.sql import functions as F

    from durablestreams_spark import ingest as bulk
    from durablestreams_spark import StreamCatalog
    from durablestreams_spark.analytics.core import table

    stream = StreamCatalog(os.path.join(root, f"ingest{n}")).stream("events_log")
    events = table(spark, corpus_dir, "events").withColumn("event_us", F.unix_micros("ts"))
    bulk.produce_bulk(
        stream,
        events,
        order_by=["ts", "event_id"],
        batch_records=BATCH,
        payload_cols=["event_id", "user_id", "event_type", "value", "event_us"],
    )
    return stream


def _collect(df):
    return df.columns, [tuple(r) for r in df.collect()]


def _check(rep, name, output, oracles):
    if output is None:
        rep.check(name, False, "query failed")
    elif name not in oracles:
        rep.check(name, False, "oracle failed")
    else:
        rep.check(name, *checks.same_result(*output, oracles[name]))


def _start_oracles(run, corpus_dir, queries, tag):
    """Start a DuckDB oracle process; returns (process, answer path)."""
    req = os.path.join(run.root, f"oracle-{tag}-request.json")
    ans = os.path.join(run.root, f"oracle-{tag}-answer.json")
    with open(req, "w") as f:
        json.dump({"corpus_dir": corpus_dir, "queries": queries}, f)
    proc = subprocess.Popen([sys.executable, os.path.join(HERE, "oracles.py"), req, ans])
    run.rss.exclude.add(proc.pid)
    return proc, ans


def _oracle_answers(proc, ans, timeout=120):
    try:
        proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    try:
        with open(ans) as f:
            return {k: tuple(v) for k, v in json.load(f).items()}
    except (OSError, ValueError):
        return {}


def run(run):
    spark, jvm_s = sparkrun.start(run, "perfbench-corpus_batch")
    windows = {"analytics": [], "operators": []}
    try:
        _run(run, spark, jvm_s, windows)
    finally:
        sparkrun.stop(spark)
    if run.tracer is not None:
        ev = sparkrun.read_event_log(run, windows)
        for k in ("jobs", "executor_cpu_s", "job_gap_s", "shuffle_read_mb", "shuffle_write_mb"):
            unit = "count" if k == "jobs" else ("MB" if k.endswith("_mb") else "s")
            run.put(f"analytics.{k}", ev["analytics"][k], unit)
        run.put("operators.python_eval_s", ev["operators"]["python_eval_s"], "s")
        run.put("operators.shuffle_write_mb", ev["operators"]["shuffle_write_mb"], "MB")
        for name in OPERATORS:
            run.put(f"operators.{name}.executor_cpu_s", ev[f"operators.{name}"]["executor_cpu_s"], "s")


def _run(run, spark, jvm_s, windows):
    from pyspark.sql import functions as F

    import durablestreams_spark.operators.similarity as similarity
    from durablestreams_spark.analytics.core import all_queries
    from durablestreams_spark.operators.logops import _ORACLE_OFFSETS

    rep = run.report
    registered = all_queries()
    # persisted serving artifacts live in the run directory: cleared
    # with it, built by the first run of their operator
    similarity._ANN_CACHE_ROOT = os.path.join(run.root, "annidx")
    undo = None
    if run.tracer is not None:
        import tracing

        undo = tracing.install(run.tracer)

    t_setup = time.perf_counter()
    corpus_dir = os.path.join(run.root, "corpus")
    inputs.corpus(run.seed, corpus_dir, N_EVENTS, N_DOCS, N_VECS)
    queries = log_queries(run.seed)
    oracle_sql = {f"log_query.{n}": sql for n, (_fn, sql) in queries.items()}
    oracle_sql["ingest_offsets_oracle"] = _ORACLE_OFFSETS
    outputs, phases = {}, rep.detail.setdefault("setup_phases_s", {})
    phases["generate"] = time.perf_counter() - t_setup

    # The DuckDB oracles run in a process of their own while the ingest
    # and log-query warm-up runs here.  Each query's warm-up output is
    # what the oracle checks: the timed runs below write to the noop
    # sink and return nothing to compare.
    oracle_proc, oracle_ans = _start_oracles(run, corpus_dir, oracle_sql, "log")
    try:
        t0 = time.perf_counter()
        warm = ingest(spark, corpus_dir, run.root, "warm")
        phases["ingest"] = time.perf_counter() - t0
        for n, (fn, _sql) in queries.items():
            outputs[f"log_query.{n}"] = _collect(fn(warm, spark))
        phases["log_queries"] = time.perf_counter() - t0 - phases["ingest"]
    finally:
        # the oracle process must not share the CPU with the timed passes
        oracles = _oracle_answers(oracle_proc, oracle_ans)
    spark.sparkContext._jvm.System.gc()  # set-up garbage is not collected on the clock
    run.put("session.jvm_start_s", jvm_s, "s")
    run.put("session.warmup_s", time.perf_counter() - t_setup, "s")
    run.put("setup_s", time.perf_counter() - run.t_process, "s")

    # -- timed: passes of ingest + log query mix for the run's seconds --
    # Timings are medians over the passes.  CPU per record is taken over
    # the first MIN_PASSES passes, the same work in every run: the JVM is
    # still compiling through them (a pass's CPU falls by a third from the
    # first to the third, and still falls at the ninth), so the lowest
    # pass would depend on how many passes a run fitted in and on where
    # in that fall one pass's noise landed.
    t_timed = time.perf_counter()
    t_end = t_timed + run.seconds
    ingest_s, query_s, files, cpu_s = [], {q: [] for q in queries}, [], []
    stream = None
    while len(ingest_s) < MIN_PASSES or time.perf_counter() < t_end:
        n = len(ingest_s)
        cpu0 = harness.tree_cpu_s()
        t0 = time.perf_counter()
        stream = ingest(spark, corpus_dir, run.root, n)
        ingest_s.append(time.perf_counter() - t0)
        files.append(len(stream.refresh().active))
        rep.op(True)
        for name, (fn, _sql) in queries.items():
            w0 = time.time() * 1000
            t0 = time.perf_counter()
            noop(fn(stream, spark))
            query_s[name].append(time.perf_counter() - t0)
            windows["analytics"].append((w0, time.time() * 1000))
            rep.op(True)
        cpu_s.append(harness.tree_cpu_s() - cpu0)  # Python process, JVM and Python workers
    # peak memory of set-up and the passes: what an untraced run does
    run.put("peak_rss_mb", run.rss.peak_mb, "MB")
    # The operator mix is a per-layer diagnostic, run on traced runs
    # only, after the end-to-end passes: a first run of each operator
    # (Python workers, codegen, the ANN artifact build; its output is
    # checked), then one timed run.
    op_s = {}
    if run.tracer is not None:
        op_sql = {f"operator.{n}": registered[n].oracle for n in OPERATORS}
        oracle_sql.update(op_sql)
        op_proc, op_ans = _start_oracles(run, corpus_dir, op_sql, "operators")
        for name in OPERATORS:
            t0 = time.perf_counter()
            outputs[f"operator.{name}"] = _collect(registered[name].fn(spark, corpus_dir))
            phases[name] = time.perf_counter() - t0
        oracles.update(_oracle_answers(op_proc, op_ans))  # done before the timed runs
        for name in OPERATORS:
            w0 = time.time() * 1000
            t0 = time.perf_counter()
            noop(registered[name].fn(spark, corpus_dir))
            op_s[name] = time.perf_counter() - t0
            windows["operators"].append((w0, time.time() * 1000))
            windows[f"operators.{name}"] = windows["operators"][-1:]
            rep.op(True)
    if undo is not None:
        undo()

    # -- correctness, outside the timed region ----------------------------
    for name in oracle_sql:
        if name != "ingest_offsets_oracle":
            _check(rep, name, outputs.get(name), oracles)
    got = stream.to_df(spark).select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id"), "offset"
    )
    _check(rep, "ingest_offsets_oracle", _collect(got), oracles)

    # -- metrics -----------------------------------------------------------
    per_query = {q: statistics.median(v) for q, v in query_s.items()}
    log_query_s = sum(per_query.values())
    ingest_rps = N_EVENTS / statistics.median(ingest_s)
    run.put("cpu_us_per_record", sum(cpu_s[:MIN_PASSES]) * 1e6 / (MIN_PASSES * N_EVENTS), "us/record")
    run.put("ingest_records_s", ingest_rps, "records/s")
    run.put("ingest.files", statistics.median(files), "count")
    run.put("log_query_s", log_query_s, "s")
    if op_s:
        run.put("operator_query_s", sum(op_s.values()), "s")
        for name, v in op_s.items():
            run.put(f"operators.{name}.wall_s", v, "s")
    run.put("error_rate", rep.failed / max(1, rep.attempted), "ratio")
    rep.detail.update({"passes": len(ingest_s), "ingest_s": ingest_s, "query_s": query_s, "cpu_s": cpu_s, "operators_s": op_s})
    if run.tracer is not None:
        import tracing

        for name, (value, unit) in tracing.ingest_metrics(run.tracer, since=t_timed).items():
            run.put(name, value, unit)
        for name, (value, unit) in tracing.artifact_metrics(run.tracer).items():
            run.put(name, value, unit)
