"""Structured Streaming tests: group-commit ingest (incl. exactly-once
replay), tail-follow, watermarked windowed aggs, and the
applyInPandasWithState stateful operator.

Strategy: every streaming result is checked against the equivalent
batch computation over the same inputs — streaming and batch must
agree once the stream is drained (availableNow)."""

import json
import os
import threading
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

SF_DIR = "/root/testdata/sf0.001"

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
    ]
)


def _write_json_files(path, n_files=3, rows_per_file=5):
    os.makedirs(path, exist_ok=True)
    eid = 0
    for i in range(n_files):
        with open(os.path.join(path, f"f{i}.json"), "w") as f:
            for _ in range(rows_per_file):
                f.write(
                    json.dumps(
                        {"event_id": eid, "user_id": eid % 3, "value": eid * 0.5}
                    )
                    + "\n"
                )
                eid += 1
    return eid


def test_ingest_group_commit_availablenow(spark, catalog, tmp_path):
    """File source → foreachBatch group commit; all records land with
    strictly increasing offsets, one micro-batch per file."""
    from durablestreams_spark.streaming import start_ingest

    src = str(tmp_path / "src")
    total = _write_json_files(src)
    source = (
        spark.readStream.schema(EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    stream = catalog.stream("ingested")
    q = start_ingest(
        stream,
        source,
        checkpoint_dir=str(tmp_path / "ckpt"),
        app_id="test-ingest",
        order_by=["event_id"],
        available_now=True,
    )
    q.awaitTermination(120)

    recs = stream.consume("-", limit=1000)
    assert len(recs) == total
    offsets = [r.offset for r in recs]
    assert offsets == sorted(offsets) and len(set(offsets)) == total
    assert [r.data["event_id"] for r in recs] == list(range(total))
    # one segment per micro-batch = per file (group commit)
    assert len(stream.refresh().active) == 3


def test_ingest_exactly_once_replay(spark, catalog, tmp_path):
    """A replayed micro-batch (same app_id + batch_id) is a no-op."""
    from durablestreams_spark.streaming.ingest import flush_batch

    stream = catalog.stream("replay")
    batch = spark.createDataFrame(
        [(1, 1, 1.0), (2, 2, 2.0)], "event_id long, user_id long, value double"
    )
    assert flush_batch(stream, batch, 0, "app-a") is True
    assert flush_batch(stream, batch, 0, "app-a") is False  # replay
    assert flush_batch(stream, batch, 1, "app-a") is True  # next batch
    assert flush_batch(stream, batch, 0, "app-b") is True  # other app
    assert len(stream.consume("-", limit=100)) == 6


@pytest.mark.parametrize(
    "order_by", [["k", "sub"], ["k", "sub", "event_id"]], ids=["ties", "total"]
)
def test_flush_batch_order_matches_order_by(spark, catalog, order_by):
    """Point-path offsets follow ``orderBy(*order_by)`` — ascending,
    NULLS FIRST — even though the batch arrives in 4 partitions."""
    from durablestreams_spark.streaming.ingest import flush_batch

    # k and sub hold NULLs and ties; event_id is unique
    rows = [
        (i, None if i % 7 == 0 else (i * 13) % 5, None if i % 4 == 0 else i % 3)
        for i in range(300)
    ]
    batch = spark.createDataFrame(
        rows, "event_id long, k long, sub long"
    ).repartition(4)
    stream = catalog.stream("ordered")
    assert flush_batch(stream, batch, 0, "app", order_by) is True

    got = [r.data for r in stream.consume("-", limit=1000)]
    ref = [json.loads(s) for s in batch.orderBy(*order_by).toJSON().collect()]

    def keys(records):
        return [tuple(d.get(c) for c in order_by) for d in records]

    # Rows tied on every order_by key have no defined relative order.
    assert keys(got) == keys(ref)
    assert sorted(d["event_id"] for d in got) == list(range(300))
    if "event_id" in order_by:
        assert got == ref


def test_flush_batch_path_boundary(spark, catalog, monkeypatch):
    """SMALL_BATCH_ROWS rows take the point path (one segment), one
    more row takes produce_bulk; both are exactly-once with strictly
    increasing offsets."""
    from durablestreams_spark.streaming import ingest as s_ingest

    monkeypatch.setattr(s_ingest, "SMALL_BATCH_ROWS", 50)
    bulk_calls = []
    real_bulk = s_ingest.produce_bulk

    def spy(*args, **kwargs):
        bulk_calls.append(kwargs["txn"])
        return real_bulk(*args, **kwargs)

    monkeypatch.setattr(s_ingest, "produce_bulk", spy)

    def batch(first, n):
        return spark.range(first, first + n).selectExpr(
            "id AS event_id", "id % 3 AS user_id"
        ).repartition(3)

    stream = catalog.stream("boundary")
    assert s_ingest.flush_batch(stream, batch(0, 50), 0, "app", ["event_id"])
    assert bulk_calls == [] and len(stream.refresh().active) == 1
    assert s_ingest.flush_batch(stream, batch(50, 51), 1, "app", ["event_id"])
    assert bulk_calls == [("app", 1)]

    # replays of either batch are acked without writing
    assert s_ingest.flush_batch(stream, batch(0, 50), 0, "app", ["event_id"]) is False
    assert s_ingest.flush_batch(stream, batch(50, 51), 1, "app", ["event_id"]) is False
    assert bulk_calls == [("app", 1)]

    recs = stream.consume("-", limit=1000)
    offsets = [r.offset for r in recs]
    assert all(a < b for a, b in zip(offsets, offsets[1:]))
    assert [r.data["event_id"] for r in recs] == list(range(101))


def test_flush_batch_empty_batch_advances_watermark(spark, catalog):
    """An empty micro-batch commits only its txn watermark; replaying
    it is a no-op."""
    from durablestreams_spark.streaming.ingest import flush_batch

    empty = spark.createDataFrame([], "event_id long, value double")
    stream = catalog.stream("empty")
    assert flush_batch(stream, empty, 4, "app", ["event_id"]) is True
    state = stream.refresh()
    assert state.txns["app"] == 4 and not state.active
    assert flush_batch(stream, empty, 4, "app", ["event_id"]) is False
    assert stream.refresh().version == state.version


def test_flush_batch_point_path_is_one_job(spark, catalog, tmp_path):
    """A point-path flush is one bounded Spark job: the probe that
    decides the path also fetches the rows.  Counted per job group."""
    from durablestreams_spark.streaming.ingest import flush_batch

    src = str(tmp_path / "src")
    total = _write_json_files(src, n_files=3, rows_per_file=100)
    batch = spark.read.schema(EVENTS_SCHEMA).json(src)
    stream = catalog.stream("one_job")
    sc = spark.sparkContext
    sc.setJobGroup("flush-one-job", "point-path flush")
    try:
        assert flush_batch(stream, batch, 0, "app", ["event_id"]) is True
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("flush-one-job")) == 1
    assert len(stream.consume("-", limit=1000)) == total


def test_flush_batch_one_partition_bulk_is_two_jobs(spark, catalog, tmp_path, monkeypatch):
    """A bulk flush of a one-partition batch (one source file) is the
    probe plus ONE write job, and persists nothing: not the batch, not
    the offset stage, neither during the write nor after it."""
    from durablestreams_spark import ingest
    from durablestreams_spark.streaming import ingest as s_ingest

    monkeypatch.setattr(s_ingest, "SMALL_BATCH_ROWS", 50)
    sc = spark.sparkContext

    def persisted():  # earlier tests may have left persisted RDDs
        return set(sc._jsc.getPersistentRDDs().keySet())

    before = persisted()
    persisted_at_write = []
    finish = ingest._finish_bulk

    def spy(*args, **kwargs):
        persisted_at_write.append(persisted())
        return finish(*args, **kwargs)

    monkeypatch.setattr(ingest, "_finish_bulk", spy)
    src = str(tmp_path / "src")
    total = _write_json_files(src, n_files=1, rows_per_file=200)
    batch = spark.read.schema(EVENTS_SCHEMA).json(src)
    assert batch.rdd.getNumPartitions() == 1
    stream = catalog.stream("one_range_flush")
    sc.setJobGroup("flush-one-range", "one-range bulk flush")
    try:
        assert s_ingest.flush_batch(stream, batch, 0, "app", ["event_id"]) is True
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup("flush-one-range")) == 2
    assert persisted_at_write == [before]
    assert persisted() == before
    recs = stream.consume("-", limit=1000)
    assert [r.data["event_id"] for r in recs] == list(range(total))


def test_flush_batch_compiles_once(spark, catalog, tmp_path, monkeypatch):
    """After one warm point flush, one warm bulk flush and one warm
    one-range bulk flush (a one-file batch), later flushes generate no
    new Java class, although each has a new batch id and continues
    from a new epoch: the probe holds no codegen'd Limit and the offset
    stage keeps base_epoch out of its code."""
    from durablestreams_spark.streaming import ingest as s_ingest

    monkeypatch.setattr(s_ingest, "SMALL_BATCH_ROWS", 50)
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    first = 0

    def batch(n, files):
        # a fresh dir per batch, as a file source's micro-batch reads;
        # one file is one partition (the one-range bulk path)
        nonlocal first
        src = tmp_path / f"src{first}"
        src.mkdir()
        for part in range(files):
            with open(src / f"part{part}.json", "w") as f:
                for eid in range(first + part, first + n, files):
                    f.write(json.dumps({"event_id": eid, "user_id": eid % 3}) + "\n")
        first += n
        return spark.read.schema("event_id long, user_id long").json(str(src))

    stream = catalog.stream("compiles")
    # point, bulk, one-range bulk, then the same again
    sizes = [(30, 3), (80, 3), (80, 1), (30, 3), (80, 3), (80, 1), (30, 3)]
    epochs = []
    for bid, (n, files) in enumerate(sizes):
        if bid == 3:
            compiled = metrics.METRIC_COMPILATION_TIME().getCount()
        assert s_ingest.flush_batch(stream, batch(n, files), bid, "app", ["event_id"])
        epochs.append(stream.refresh().last_epoch_ms)
    assert metrics.METRIC_COMPILATION_TIME().getCount() - compiled == 0
    assert len(set(epochs)) == len(sizes)
    recs = stream.consume("-", limit=1000)
    assert [r.data["event_id"] for r in recs] == list(range(sum(n for n, _ in sizes)))


def test_probe_payload_matches_tojson(spark):
    """The probe's to_json(struct(*)) strings are toJSON's, byte for
    byte: NULLs, NaN, -0.0, timestamps, nested array/map/struct,
    quotes, non-ASCII text and a dotted column name."""
    import datetime

    from durablestreams_spark.streaming.ingest import _probe

    schema = (
        "id long, `a.b` double, ts timestamp, s string, "
        "arr array<double>, m map<string,int>, "
        "st struct<x: string, y: array<struct<z: double>>>"
    )
    rows = [
        (0, None, None, None, None, None, None),
        (1, float("nan"), datetime.datetime(2024, 2, 29, 23, 59, 59, 123456),
         'quote " and \\ back', [1.0, None, float("-inf")], {"k": 1, "é": None},
         ("ünï €", [(float("nan"),), None])),
        (2, -0.0, datetime.datetime(1969, 12, 31, 0, 0), "日本語\n\ttab",
         [], {}, (None, [])),
        (3, 1e300, datetime.datetime(2000, 1, 1), "", [-0.0], {"": 0}, ("", None)),
    ]
    batch = spark.createDataFrame(rows, schema).repartition(3)
    ref = batch.orderBy("id").toJSON().collect()
    assert _probe(batch, ["id"], 10) == ref
    assert sorted(_probe(batch, None, 10)) == sorted(ref)
    assert _probe(batch, ["id"], 2) == ref[:2]


def test_ingest_restart_on_filesystem_checkpoint(spark, catalog, tmp_path):
    """Checkpoints are written through the FileSystem-based manager; a
    restart on the same checkpoint dir picks up only the new file, and
    no temp file is left behind."""
    from durablestreams_spark.streaming import start_ingest

    assert spark.conf.get("spark.sql.streaming.checkpointFileManagerClass") == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )
    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")
    stream = catalog.stream("restarted")

    def drain():
        source = (
            spark.readStream.schema(EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )
        q = start_ingest(
            stream, source, ckpt, "restart", order_by=["event_id"],
            available_now=True,
        )
        q.awaitTermination(120)
        assert q.exception() is None

    _write_json_files(src, n_files=2)
    for k in range(2):  # the source takes files in mtime order
        os.utime(os.path.join(src, f"f{k}.json"), (time.time() - 10 + k,) * 2)
    drain()
    with open(os.path.join(src, "f2.json"), "w") as f:
        for eid in range(10, 15):
            f.write(json.dumps({"event_id": eid, "user_id": 0, "value": 0.0}) + "\n")
    drain()

    assert len(stream.refresh().active) == 3
    assert [r.data["event_id"] for r in stream.consume("-", limit=100)] == list(range(15))
    leftovers = [
        os.path.join(d, fn)
        for d, _dirs, files in os.walk(ckpt)
        for fn in files
        if ".tmp" in fn
    ]
    assert leftovers == []


def test_tail_receives_concurrent_produce(spark, catalog, tmp_path):
    """Streaming tail delivers records produced after it starts
    (reference long-poll e2e, tests/index.test.ts:130-163)."""
    from durablestreams_spark.streaming import tail_query

    stream = catalog.stream("tailed")
    stream.produce([{"v": "old"}])
    cursor = stream.consume("-", limit=10)[-1].offset

    q = tail_query(
        spark,
        stream,
        checkpoint_dir=str(tmp_path / "ckpt"),
        after_offset=cursor,
        sink_table="tail_t1",
    )
    try:

        def later():
            time.sleep(1.0)
            stream.produce([{"v": "new1"}, {"v": "new2"}])

        t = threading.Thread(target=later)
        t.start()
        deadline = time.time() + 60
        got = []
        while time.time() < deadline:
            got = [
                json.loads(r.data)["v"]
                for r in spark.sql("SELECT data FROM tail_t1").collect()
            ]
            if len(got) >= 2:
                break
            time.sleep(0.3)
        t.join()
        assert sorted(got) == ["new1", "new2"]  # strictly after cursor
    finally:
        q.stop()


def _events_stream(spark):
    """The sf0.001 events table replayed as a stream — the production
    footer-sniffing reader, so a fixture physical-type change breaks
    here exactly as it would break the graded queries."""
    from durablestreams_spark.operators.streaming_queries import (
        _events_stream as prod_stream,
    )

    return prod_stream(spark, SF_DIR)


def test_streaming_tumbling_window_matches_batch(spark, tmp_path):
    """Watermarked tumbling window over the replayed events stream ==
    the batch window_tumbling_daily query."""
    from durablestreams_spark.analytics.windows import window_tumbling

    agg = (
        _events_stream(spark)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("win_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["w"]["start"].isoformat(), r["event_type"]): r["n"]
        for r in spark.sql("SELECT * FROM win_t").collect()
    }
    expect = {
        (r["window_start"].replace(" ", "T"), r["event_type"]): r["n"]
        for r in window_tumbling(spark, SF_DIR).collect()
    }
    assert got == expect


def test_stateful_running_user_stats(spark, tmp_path):
    """applyInPandasWithState running totals: after draining the stream
    in multiple micro-batches, the last emitted row per user equals the
    batch aggregate."""
    from durablestreams_spark.streaming import running_user_stats

    src = _events_stream(spark).select("user_id", "ts", "value")
    q = (
        running_user_stats(src)
        .writeStream.format("memory")
        .queryName("stateful_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.sql("SELECT * FROM stateful_t").collect()
    last = {}
    for r in emitted:  # memory sink appends in emit order per batch
        last[r["user_id"]] = (r["n_events"], round(r["sum_value"], 6))
    batch = {
        r["user_id"]: (r["n"], round(r["s"], 6))
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert last == batch


def test_transform_with_state_gate(spark, tmp_path):
    """transformWithStateInPandas (Spark-4 typed-state API) is gated on
    protobuf: with a runtime available (pip-installed or discovered on
    the host by _protobuf_compat) the MapState histogram must match
    the batch aggregate; without one the wrapper must raise a CLEAR
    ImportError instead of Spark's opaque driver-worker crash."""
    import pytest

    from durablestreams_spark._protobuf_compat import enable_protobuf_runtime
    from durablestreams_spark.streaming.stateful import user_type_histogram

    src = _events_stream(spark).select("user_id", "event_type")
    if not enable_protobuf_runtime(spark):
        with pytest.raises(ImportError, match="protobuf"):
            user_type_histogram(src)
        return
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    q = (
        user_type_histogram(src)
        .writeStream.format("memory")
        .queryName("tws_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "tws_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    last = {
        r["user_id"]: (r["n_events"], r["n_types"])
        for r in spark.sql("SELECT * FROM tws_t").collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_type").alias("t"),
        )
        .collect()
    }
    assert last == batch


def test_type_histogram_fallback_matches_batch(spark, tmp_path):
    """The applyInPandasWithState JSON-blob histogram (the no-protobuf
    fallback behind streaming_tws_type_histogram) must produce the
    same per-user (n_events, n_types) as the batch aggregate — the
    identical contract the TWS MapState variant is graded against."""
    from durablestreams_spark.streaming.stateful import (
        user_type_histogram_fallback,
    )

    src = _events_stream(spark).select("user_id", "event_type")
    q = (
        user_type_histogram_fallback(src)
        .writeStream.format("memory")
        .queryName("hist_fb")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "fb_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    last = {
        r["user_id"]: (r["n_events"], r["n_types"])
        for r in spark.sql("SELECT * FROM hist_fb").collect()
    }
    batch = {
        r["user_id"]: (r["n"], r["t"])
        for r in spark.read.parquet(f"{SF_DIR}/events.parquet")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("event_type").alias("t"),
        )
        .collect()
    }
    assert last == batch


def test_tws_sessionize_matches_session_window(spark):
    """The timer-based TWS sessionizer must produce exactly the
    sessions Spark's own batch session_window computes — including
    each user's LAST session, which only emits because the sentinel
    batches advance the watermark and fire the close timers."""
    from durablestreams_spark.analytics.core import all_queries
    from durablestreams_spark.streaming.stateful import SESSION_GAP_US

    # Boundary convention differs at EXACTLY gap: the processor (and the
    # graded DuckDB gaps-and-islands oracle) merge events exactly
    # SESSION_GAP apart (strict `>` split), while Spark's session_window
    # splits there.  This parity test is only valid when the fixture has
    # no exact-boundary gaps — assert that precondition instead of
    # letting a future fixture change flake the comparison.
    from pyspark.sql import Window as W

    ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
    gaps = (
        ev.select(
            "user_id",
            (
                F.unix_micros("ts")
                - F.lag(F.unix_micros("ts")).over(
                    W.partitionBy("user_id").orderBy("ts", "event_id")
                )
            ).alias("gap_us"),
        )
        .where(F.col("gap_us") == SESSION_GAP_US)
        .count()
    )
    assert gaps == 0, "fixture has an exact 30-min gap; parity undefined"

    got = {
        (r.user_id, r.start_us, r.end_us, r.n_events)
        for r in all_queries()["streaming_tws_sessionize"]
        .fn(spark, SF_DIR)
        .collect()
    }
    batch = spark.read.parquet(f"{SF_DIR}/events.parquet")
    want = {
        (r.user_id, r.s, r.e, r.n)
        for r in batch.groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("w")
        )
        .agg(
            F.min(F.unix_micros("ts")).alias("s"),
            F.max(F.unix_micros("ts")).alias("e"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert got == want
    # every user's max-end session is present (the timer-flush proof)
    by_user_last = {}
    for u, s, e, n in want:
        if u not in by_user_last or e > by_user_last[u][1]:
            by_user_last[u] = (s, e, n)
    for u, (s, e, n) in by_user_last.items():
        assert (u, s, e, n) in got


def test_stream_stream_interval_join_matches_batch(spark, tmp_path):
    """Watermarked stream-stream interval join (purchase ⟕ clicks within
    30 min before, same user) == the identical batch join."""
    from durablestreams_spark.streaming.joins import interval_join

    ev = _events_stream(spark)
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("pts"),
        F.col("event_id").alias("purchase_id"),
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("user_id"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"),
    )
    joined = interval_join(
        purchases,
        clicks,
        on="user_id",
        left_ts="pts",
        right_ts="cts",
        max_lag="30 minutes",
        watermark="1 hour",
    ).select("purchase_id", "click_id")
    q = (
        joined.writeStream.format("memory")
        .queryName("ssj_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r.purchase_id, r.click_id)
        for r in spark.sql("SELECT * FROM ssj_t").collect()
    }

    from durablestreams_spark.analytics.core import table

    bev = table(spark, SF_DIR, "events")
    bp = bev.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("ts").alias("pts"), F.col("event_id").alias("purchase_id")
    )
    bc = bev.where(F.col("event_type") == "click").select(
        F.col("user_id").alias("cuser"),
        F.col("ts").alias("cts"),
        F.col("event_id").alias("click_id"),
    )
    expect = {
        (r.purchase_id, r.click_id)
        for r in bp.join(
            bc,
            (F.col("user_id") == F.col("cuser"))
            & (F.col("cts") <= F.col("pts"))
            & (F.col("cts") >= F.col("pts") - F.expr("INTERVAL 30 minutes")),
        )
        .select("purchase_id", "click_id")
        .collect()
    }
    assert got == expect and len(got) > 0


def test_streaming_session_window_matches_batch(spark, tmp_path):
    """Native session_window (merging-state agg) over the replayed
    stream == the batch window_session_30m groups."""
    agg = (
        _events_stream(spark)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("sess_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        # truncate to seconds: the batch query formats session_start
        # with a seconds-precision pattern
        (r["user_id"], r["w"]["start"].strftime("%Y-%m-%dT%H:%M:%S")): r["n_events"]
        for r in spark.sql("SELECT * FROM sess_t").collect()
    }

    from durablestreams_spark.analytics.windows import window_session

    expect = {
        (r["user_id"], r["session_start"].replace(" ", "T")): r["n_events"]
        for r in window_session(spark, SF_DIR).collect()
    }
    assert got == expect and len(got) > 0


def test_streaming_exact_dedup_within_watermark(spark, tmp_path):
    """Streaming exact dedup (SURVEY §2.2 'content-hash + window-dedup
    for streaming'): duplicate payloads across micro-batches collapse;
    the drained result equals batch dropDuplicates."""
    src_dir = str(tmp_path / "dupsrc")
    os.makedirs(src_dir)
    base = "2024-01-01 00:{m:02d}:00"
    rows = [  # content c1 appears in both files, c2 twice in one file
        (0, base.format(m=1), "c1"),
        (1, base.format(m=2), "c2"),
        (2, base.format(m=2), "c2"),
        (3, base.format(m=3), "c3"),
        (4, base.format(m=4), "c1"),
    ]
    for fi, chunk in enumerate((rows[:3], rows[3:])):
        with open(os.path.join(src_dir, f"f{fi}.json"), "w") as f:
            for rid, ts, content in chunk:
                f.write(json.dumps({"rid": rid, "ts": ts, "content": content}) + "\n")

    src = (
        spark.readStream.schema("rid long, ts timestamp, content string")
        .option("maxFilesPerTrigger", 1)
        .json(src_dir)
    )
    deduped = (
        src.withColumn("content_hash", F.sha2("content", 256))
        .withWatermark("ts", "10 minutes")
        .dropDuplicatesWithinWatermark(["content_hash"])
    )
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_t")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        r.content for r in spark.sql("SELECT content FROM dedup_t").collect()
    )
    assert got == ["c1", "c2", "c3"]


def test_stream_as_streaming_source_end_to_end(spark, catalog, tmp_path):
    """Full pipeline over the durable log itself: produce JSON records
    into a stream, read it back with read_stream, project the payload
    through a typed view, run a watermarked windowed agg — result equals
    the same query run batch-side over the same stream."""
    from durablestreams_spark.functions.payload import typed_view

    s = catalog.stream("pipeline")
    base = 1_700_000_000_000  # epoch-ms of the synthetic event times
    for b in range(3):
        s.produce(
            [
                {"sensor": f"s{i % 2}", "at_ms": base + (b * 10 + i) * 60_000, "v": b * 10 + i}
                for i in range(10)
            ]
        )

    schema = "sensor STRING, at_ms BIGINT, v DOUBLE"

    def pipeline(df):
        typed = typed_view(df, schema)
        return (
            typed.withColumn("evt", F.timestamp_millis("at_ms"))
            .withWatermark("evt", "10 minutes")
            .groupBy(F.window("evt", "1 hour").alias("w"), "sensor")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("sv"))
        )

    q = (
        pipeline(s.read_stream(spark))
        .writeStream.format("memory")
        .queryName("pipe_t")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["w"]["start"].isoformat(), r["sensor"]): (r["n"], r["sv"])
        for r in spark.sql("SELECT * FROM pipe_t").collect()
    }
    expect = {
        (r["w"]["start"].isoformat(), r["sensor"]): (r["n"], r["sv"])
        for r in pipeline(s.to_df(spark)).collect()
    }
    assert got == expect and len(got) > 0


def test_seeded_tail_bridges_compaction_gap(spark, catalog, tmp_path):
    """A consumer arriving AFTER compaction + tombstone GC must still
    get full history exactly once: read_stream alone can't (raw files
    gone, compacted files deliberately unglobbed) — seeded_tail serves
    history from the manifest-backed batch reader and only-new records
    from the live tail, split at a cursor offset."""
    import json as _json

    from durablestreams_spark.maintenance import clean_tombstones, compact
    from durablestreams_spark.streaming.tail import seeded_tail

    s = catalog.stream("seeded_tail_gap")
    for i in range(3):
        s.produce([{"v": i}], epoch_ms=i + 1)
    assert compact(s) is not None
    # GC far in the future: raw segments are really deleted
    future = int(time.time() * 1000) + 10**9
    assert clean_tombstones(s, now_ms=future)
    raw = [f for f in os.listdir(s.segments_dir) if f.endswith(".parquet")]
    assert raw == []  # the gap is real: a plain tail would see nothing

    history, tail, cursor = seeded_tail(spark, s)
    got_history = sorted(
        _json.loads(r["data"])["v"] for r in history.collect()
    )
    assert got_history == [0, 1, 2]

    # new produce after the seed: must arrive on the tail side only
    s.produce([{"v": 99}], epoch_ms=10)
    q = (
        tail.writeStream.format("memory")
        .queryName("seeded_tail_sink")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_seeded"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    rows = spark.sql("SELECT data, offset FROM seeded_tail_sink").collect()
    assert [_json.loads(r["data"])["v"] for r in rows] == [99]
    assert all(r["offset"] > cursor for r in rows)


def test_cdc_apply_cross_batch_disorder(spark, tmp_path):
    """Last-writer-wins CDC apply must be robust to a LATE micro-batch
    carrying OLDER changes: a stale upsert cannot overwrite a newer
    value, and a stale upsert cannot resurrect a tombstoned key.
    Batch order is forced with maxFilesPerTrigger=1 + explicit mtimes
    (FileStreamSource picks files oldest-first)."""
    import pandas as pd

    from durablestreams_spark.streaming.stateful import cdc_apply_fallback

    src_dir = str(tmp_path / "cdcsrc")
    os.makedirs(src_dir)
    # batch 0 (newer changes), batch 1 (older, late-arriving changes)
    batches = [
        [
            {"user_id": 1, "ts_us": 100, "event_id": 10, "value": 1.0, "op": "upsert"},
            {"user_id": 2, "ts_us": 200, "event_id": 20, "value": 3.0, "op": "delete"},
            {"user_id": 3, "ts_us": 10, "event_id": 1, "value": 2.0, "op": "upsert"},
        ],
        [
            {"user_id": 1, "ts_us": 50, "event_id": 5, "value": 9.9, "op": "upsert"},
            {"user_id": 2, "ts_us": 150, "event_id": 15, "value": 8.8, "op": "upsert"},
            {"user_id": 3, "ts_us": 500, "event_id": 50, "value": 7.5, "op": "upsert"},
        ],
    ]
    for i, rows in enumerate(batches):
        p = os.path.join(src_dir, f"b{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema(
            "user_id long, ts_us long, event_id long, value double, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    q = (
        cdc_apply_fallback(src)
        .writeStream.format("memory")
        .queryName("cdc_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(180)
    out = spark.sql("SELECT * FROM cdc_t").toPandas()
    # two emissions per key (one per batch); the final one is the
    # max-(ts_us, event_id) winner regardless of arrival order
    final = (
        out.sort_values(["user_id", "last_ts_us", "last_event_id"])
        .groupby("user_id")
        .tail(1)
        .set_index("user_id")
    )
    # key 1: stale upsert ignored — newer (100, 10, 1.0) survives
    assert tuple(final.loc[1][["last_ts_us", "last_event_id", "last_value", "deleted"]]) == (100, 10, 1.0, 0)
    # key 2: tombstone retained — stale upsert cannot resurrect
    assert final.loc[2]["deleted"] == 1
    # key 3: genuinely newer change wins
    assert tuple(final.loc[3][["last_ts_us", "last_event_id", "last_value", "deleted"]]) == (500, 50, 7.5, 0)


def test_cdc_apply_tws_cross_batch_disorder(spark, tmp_path):
    """Same disorder scenario as the fallback test, driven through the
    PRIMARY path: transformWithStateInPandas ValueState on RocksDB.
    Skipped only when no protobuf runtime exists on the host."""
    import pandas as pd

    from durablestreams_spark._protobuf_compat import enable_protobuf_runtime
    from durablestreams_spark.streaming.stateful import cdc_apply_tws

    if not enable_protobuf_runtime(spark):
        pytest.skip("no protobuf runtime on this host")

    src_dir = str(tmp_path / "cdctws")
    os.makedirs(src_dir)
    batches = [
        [
            {"user_id": 1, "ts_us": 100, "event_id": 10, "value": 1.0, "op": "upsert"},
            {"user_id": 2, "ts_us": 200, "event_id": 20, "value": 3.0, "op": "delete"},
        ],
        [
            {"user_id": 1, "ts_us": 50, "event_id": 5, "value": 9.9, "op": "upsert"},
            {"user_id": 2, "ts_us": 150, "event_id": 15, "value": 8.8, "op": "upsert"},
        ],
    ]
    for i, rows in enumerate(batches):
        p = os.path.join(src_dir, f"b{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))
    src = (
        spark.readStream.schema(
            "user_id long, ts_us long, event_id long, value double, op string"
        )
        .option("maxFilesPerTrigger", "1")
        .json(src_dir)
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        q = (
            cdc_apply_tws(src)
            .writeStream.format("memory")
            .queryName("cdc_tws_t")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .trigger(availableNow=True)
            .start()
        )
        assert q.awaitTermination(180)
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)
    out = spark.sql("SELECT * FROM cdc_tws_t").toPandas()
    final = (
        out.sort_values(["user_id", "last_ts_us", "last_event_id"])
        .groupby("user_id")
        .tail(1)
        .set_index("user_id")
    )
    assert tuple(final.loc[1][["last_ts_us", "last_event_id", "last_value", "deleted"]]) == (100, 10, 1.0, 0)
    assert final.loc[2]["deleted"] == 1


def test_stateful_fallbacks_multi_batch_state_reuse(spark, tmp_path):
    """Regression for the PySpark-4 GroupState.get-is-a-property bug:
    every applyInPandasWithState fallback must survive a SECOND
    micro-batch for the SAME key (state.exists True on re-entry).
    Batch order is forced with maxFilesPerTrigger=1 + explicit mtimes;
    the single-file variants of these tests never exercised the
    state-exists branch, which is how `state.get()` (a tuple call)
    slipped through."""
    from durablestreams_spark.operators.streaming_queries import _drain
    from durablestreams_spark.streaming.stateful import (
        running_user_ewma,
        running_user_stats,
        user_type_histogram_fallback,
        EWMA_ALPHA,
    )

    src_dir = str(tmp_path / "mbsrc")
    os.makedirs(src_dir)
    batches = [
        [
            {"user_id": 1, "event_id": 1, "ts": "2024-01-01 00:01:00",
             "value": 1.0, "event_type": "click"},
            {"user_id": 1, "event_id": 2, "ts": "2024-01-01 00:02:00",
             "value": 3.0, "event_type": "view"},
        ],
        [  # same key again -> state.exists is True in this batch
            {"user_id": 1, "event_id": 3, "ts": "2024-01-01 00:03:00",
             "value": 5.0, "event_type": "click"},
        ],
    ]
    for i, rows in enumerate(batches):
        p = os.path.join(src_dir, f"b{i}.json")
        with open(p, "w") as f:
            for r in rows:
                f.write(json.dumps(r) + "\n")
        os.utime(p, (1_700_000_000 + i, 1_700_000_000 + i))

    def _src():
        return (
            spark.readStream.schema(
                "user_id long, event_id long, ts timestamp, "
                "value double, event_type string"
            )
            .option("maxFilesPerTrigger", "1")
            .json(src_dir)
        )

    stats = _drain(
        running_user_stats(_src().select("user_id", "ts", "value")), "update"
    ).toPandas()
    # two emissions (one per batch); the last carries the full fold
    assert len(stats) == 2
    last = stats.sort_values("n_events").iloc[-1]
    assert (last["n_events"], last["sum_value"]) == (3, 9.0)

    hist = _drain(
        user_type_histogram_fallback(_src().select("user_id", "event_type")),
        "update",
    ).toPandas()
    assert len(hist) == 2
    last = hist.sort_values("n_events").iloc[-1]
    assert (last["n_events"], last["n_types"]) == (3, 2)

    ewma = _drain(
        running_user_ewma(_src().select("user_id", "ts", "event_id", "value")),
        "update",
    ).toPandas()
    assert len(ewma) == 2
    a = EWMA_ALPHA
    want = a * 5.0 + (1 - a) * (a * 3.0 + (1 - a) * 1.0)
    last = ewma.sort_values("n_events").iloc[-1]
    assert last["n_events"] == 3 and abs(last["ewma_value"] - want) < 1e-12


def test_tws_queries_fall_back_without_protobuf(spark, monkeypatch):
    """Grading must not silently depend on host contents: with
    SPARK_GRAFT_FORCE_NO_PROTOBUF=1 the protobuf discovery reports
    failure and the graded TWS queries take their
    applyInPandasWithState fallbacks — which must produce the
    identical row set the live transformWithStateInPandas path does.
    Skipped only where the primary path itself cannot run."""
    from durablestreams_spark._protobuf_compat import enable_protobuf_runtime
    from durablestreams_spark.analytics.core import all_queries

    if not enable_protobuf_runtime(spark):
        pytest.skip("no protobuf runtime: cannot compare both branches")

    qs = all_queries()
    for name in ("streaming_tws_type_histogram", "streaming_cdc_apply"):
        primary = {tuple(r) for r in qs[name].fn(spark, SF_DIR).collect()}
        monkeypatch.setenv("SPARK_GRAFT_FORCE_NO_PROTOBUF", "1")
        try:
            assert not enable_protobuf_runtime(spark)
            fallback = {tuple(r) for r in qs[name].fn(spark, SF_DIR).collect()}
        finally:
            monkeypatch.delenv("SPARK_GRAFT_FORCE_NO_PROTOBUF")
        assert primary == fallback and len(primary) > 0, name
