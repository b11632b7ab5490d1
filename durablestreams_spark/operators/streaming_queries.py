"""Structured Streaming operators inside the graded oracle gate.

Each query here runs a REAL streaming query (readStream → stateful op
→ memory sink, drained with availableNow) and returns the sink as a
DataFrame; the DuckDB oracle recomputes the drained result relationally.
This puts watermarked aggregation and applyInPandasWithState under the
same value-hash check as the batch surface, not just under pytest.

Determinism note: the source is one parquet file ⇒ availableNow drains
it in a single micro-batch, so update-mode emissions equal the final
state.  (With multiple batches the LAST emission per key still equals
the oracle; single-batch just means no superseded rows in the sink.)
"""

from __future__ import annotations

import hashlib
import os
import stat as _stat
import functools
import tempfile
import uuid
from dataclasses import dataclass
from typing import Callable, NamedTuple

import pandas as pd

from pyspark.sql import functions as F

from ..analytics.core import query, table
from .cache_marker import build_once, cache_root, fixture_fingerprint, publish_once
from ..analytics.windows import (
    SESSION_30M_ORACLE,
    SLIDING_12H_ORACLE,
    TUMBLING_DAILY_ORACLE,
)

_FMT_S = "yyyy-MM-dd HH:mm:ss"


def _events_stream(spark, sf_dir: str):
    """The events table replayed as a stream (same event-time ingress
    normalization as ``analytics.core.table``, driven by the parquet
    footer rather than a hardcoded physical type)."""
    # Same conf pins as analytics.core.table(): nanosAsLong so a
    # TIMESTAMP(NANOS) footer can't throw PARQUET_TYPE_ILLEGAL in a
    # vanilla grading session; UTC so window starts and date_format
    # strings match the oracle's naive-UTC rendering.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    from ..analytics.core import ts_unit_info

    unit, physical = ts_unit_info(f"{sf_dir}/events.parquet")
    # Physical representation decides the DECLARED type (TimestampType
    # over a plain INT64 column fails the parquet read; an int64-µs
    # file must still be declared long), the unit decides the
    # CONVERSION.  timestamp[ns] reads as long too (nanosAsLong).
    int64_physical = physical == "int64" or unit == "ns"
    ts_decl = "long" if int64_physical else "timestamp"
    raw = (
        spark.readStream.schema(
            f"event_id long, ts {ts_decl}, user_id long, event_type string, "
            "value double, props string"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(sf_dir)
    )
    if int64_physical:
        conv = "ts div 1000" if unit == "ns" else "ts"
        raw = raw.withColumn("ts", F.expr(f"timestamp_micros({conv})"))
    return raw


def _await_drain(q, what: str):
    """Wait for an availableNow query to drain.  A partial result would
    grade as a spurious hash mismatch that looks like an engine bug,
    so a drain still running after 600 s is stopped and fails loudly."""
    if not q.awaitTermination(600):
        q.stop()
        raise TimeoutError(f"{what} did not finish in 600s")


def _drain(df, output_mode: str):
    """Run a streaming DF to a memory sink until drained; return the
    sink table as a batch DataFrame.  The result is materialized off
    the sink (localCheckpoint), so the sink's temp view is dropped and
    its checkpoint dir removed before returning."""
    spark = df.sparkSession
    sink = f"graded_{uuid.uuid4().hex[:12]}"
    with tempfile.TemporaryDirectory(
        prefix="ds_ckpt_", ignore_cleanup_errors=True
    ) as ckpt:
        q = (
            df.writeStream.format("memory")
            .queryName(sink)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        try:
            _await_drain(q, f"streaming drain into {sink}")
            return spark.sql(f"SELECT * FROM {sink}").localCheckpoint(
                eager=True
            )
        finally:
            spark.catalog.dropTempView(sink)


@query(
    "streaming_tumbling_daily",
    TUMBLING_DAILY_ORACLE,
    doc="LIVE watermarked tumbling window (readStream → withWatermark → "
    "window agg → complete-mode sink, drained): the streaming twin of "
    "window_tumbling_daily, value-hash-checked against the same oracle.",
)
def streaming_tumbling_daily(spark, sf_dir):
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    out = _drain(agg, "complete")
    return out.select(
        F.date_format("w.start", _FMT_S).alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@query(
    "streaming_sliding_12h",
    SLIDING_12H_ORACLE,
    doc="LIVE sliding window (1-day width / 12-h slide) over the event "
    "stream: readStream → withWatermark → window agg, complete-mode "
    "drain. Each event is Expand-replicated into width/slide = 2 open "
    "windows of streaming state; the oracle rebuilds the same grid "
    "arithmetic relationally.",
)
def streaming_sliding_12h(spark, sf_dir):
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day", "12 hours").alias("w"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    out = _drain(agg, "complete")
    return out.select(
        F.date_format("w.start", _FMT_S).alias("window_start"),
        "n",
        "sum_value",
    )


@query(
    "streaming_session_30m",
    SESSION_30M_ORACLE,
    doc="LIVE session windows (30-min gap) per user: readStream → "
    "withWatermark → session_window agg — Spark's MERGING state "
    "operator (sessions coalesce as events arrive), the hardest "
    "streaming-state shape. Oracle: gaps-and-islands over the same "
    "events.",
)
def streaming_session_30m(spark, sf_dir):
    agg = (
        _events_stream(spark, sf_dir)
        .withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
        )
    )
    out = _drain(agg, "complete")
    return out.select(
        "user_id",
        F.date_format("w.start", _FMT_S).alias("session_start"),
        "n_events",
        "sum_value",
    )


@query(
    "streaming_ingest_roundtrip",
    "SELECT event_id FROM events",
    doc="The group-commit SINK under the oracle gate (SURVEY.md §2.1 "
    "#5): readStream over events → start_ingest (foreachBatch flush "
    "into a durable stream, exactly-once txn stamping) → manifest-"
    "backed scan back out. Every event must come back exactly once — "
    "a dropped batch or a replayed double-commit both break the "
    "value-hash against the plain events oracle.",
)
def streaming_ingest_roundtrip(spark, sf_dir):
    from ..stream import StreamCatalog
    from ..streaming.ingest import start_ingest

    def build(root):
        q = start_ingest(
            StreamCatalog(os.path.join(root, "streams")).stream("events_sink"),
            _events_stream(spark, sf_dir).select("event_id"),
            checkpoint_dir=os.path.join(root, "ckpt"),
            app_id="graded_ingest",
            order_by=["event_id"],
            available_now=True,
        )
        # a timeout leaves no marker: caching a partial sink would
        # poison every later run
        _await_drain(q, "streaming_ingest_roundtrip drain")

    root = build_once(
        cache_root("/tmp/durablestreams_ingestq_v2", sf_dir), sf_dir, build
    )
    stream = StreamCatalog(os.path.join(root, "streams")).stream("events_sink")
    df = stream.to_df(spark)
    return df.select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id")
    )


@query(
    "streaming_interval_join_purchase_click",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           round(epoch(p.ts) - epoch(c.ts), 3) AS gap_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
    doc="LIVE stream-stream interval join (purchases x clicks <=30 min "
    "prior, same user): both sides watermarked, event-time range "
    "condition bounds the join state (without it, state grows forever "
    "— the canonical stream-join OOM). Drained append-mode sink must "
    "equal the batch range join the oracle computes.",
)
def streaming_interval_join_purchase_click(spark, sf_dir):
    from ..streaming.joins import interval_join

    ev = _events_stream(spark, sf_dir)
    purchases = ev.where(F.col("event_type") == "purchase")
    clicks = ev.where(F.col("event_type") == "click")
    joined = interval_join(
        purchases, clicks, on="user_id", max_lag="30 minutes"
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("r.event_id").alias("click_id"),
        F.round(
            F.unix_micros(F.col("l.ts")) / 1e6
            - F.unix_micros(F.col("r.ts")) / 1e6,
            3,
        ).alias("gap_sec"),
    )
    return _drain(joined, "append")


@query(
    "streaming_stateful_user_totals",
    """
    SELECT user_id, count(*) AS n_events, round(sum(value), 4) AS sum_value
    FROM events GROUP BY user_id
    """,
    doc="LIVE applyInPandasWithState running totals, drained: the final "
    "emission per user must equal the batch aggregate — custom "
    "stateful streaming under the oracle gate.",
)
def streaming_stateful_user_totals(spark, sf_dir):
    from ..streaming.stateful import running_user_stats

    from pyspark.sql import Window as W

    src = _events_stream(spark, sf_dir).select("user_id", "ts", "value")
    out = _drain(running_user_stats(src), "update")
    # keep the final (highest n_events) emission per user — a no-op for
    # the single-batch drain, correctness armor for multi-batch drains
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .where(F.col("__rn") == 1)
        .select("user_id", "n_events", F.round("sum_value", 4).alias("sum_value"))
    )


@query(
    "streaming_dedup_watermarked",
    "SELECT event_id FROM events",
    doc="LIVE streaming exact dedup: the events stream unioned with "
    "itself (every id arrives twice) -> withWatermark -> "
    "dropDuplicatesWithinWatermark(event_id) -> drained sink. State "
    "is watermark-bounded (keys older than the watermark are evicted "
    "— the only way streaming dedup survives unbounded streams); the "
    "doubled input proves the operator actually drops, since the "
    "oracle is the single-copy event set.",
)
def streaming_dedup_watermarked(spark, sf_dir):
    a = _events_stream(spark, sf_dir).select("event_id", "ts")
    b = _events_stream(spark, sf_dir).select("event_id", "ts")
    doubled = a.unionByName(b).withWatermark("ts", "1 hour")
    deduped = doubled.dropDuplicatesWithinWatermark(["event_id"])
    out = _drain(deduped, "append")
    return out.select("event_id")


@query(
    "log_seeded_tail",
    "SELECT event_id FROM events",
    doc="Backfill-then-follow across the compaction boundary (the "
    "late-consumer visibility gap): most of the events table is bulk-"
    "ingested, every raw segment is compacted away and tombstone-GC'd "
    "(raw files really deleted), THEN the remaining events arrive as "
    "live produces. seeded_tail must deliver exactly the full event "
    "set — compacted history from the manifest-backed batch reader, "
    "late records from the cursor-filtered live tail, no record lost "
    "to the gap and none double-delivered at the seam. Oracle: the "
    "plain events table.",
)
def log_seeded_tail(spark, sf_dir):
    from ..maintenance import clean_tombstones, compact
    from ..stream import StreamCatalog
    from ..streaming.tail import seeded_tail
    from ..ingest import produce_bulk

    LATE = 500

    def build(root):
        stream = StreamCatalog(os.path.join(root, "streams")).stream("events_gap")
        ev = table(spark, sf_dir, "events").select("event_id", "ts")
        n = ev.count()
        ordered = ev.orderBy("ts", "event_id")
        bulk = ordered.limit(max(0, n - LATE))
        produce_bulk(
            stream,
            bulk,
            order_by=["ts", "event_id"],
            batch_records=1000,
            payload_cols=["event_id"],
            segment_rows=max(250, (n - LATE) // 8),
        )
        # Compact until nothing is compactable, then GC with a far-
        # future clock: every raw bulk segment is tombstoned and its
        # file DELETED — the gap a plain tail cannot see across.
        while compact(stream) is not None:
            pass
        clean_tombstones(stream, now_ms=2**53)
        # The LATE most-recent events arrive as live point produces
        # (bounded driver collect — LATE rows — by design: this is the
        # trickle path, not the bulk path).
        late_rows = (
            ordered.join(bulk.select("event_id"), "event_id", "left_anti")
            .orderBy("ts", "event_id")
            .collect()
        )
        stream.produce([{"event_id": int(r["event_id"])} for r in late_rows])

    root = build_once(
        cache_root("/tmp/durablestreams_seededtail_v1", sf_dir), sf_dir, build
    )
    stream = StreamCatalog(os.path.join(root, "streams")).stream("events_gap")
    history, tail, cursor = seeded_tail(spark, stream)
    # History at the seam: everything at or before the cursor...
    hist_ids = history.where(F.col("offset") <= F.lit(cursor)).select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id")
    )
    # ...but on the FIRST run the cursor is snapshotted before any
    # late record was folded in, so the live produces stream in via
    # the tail; on re-runs they're manifest history and the tail is
    # rightly empty.  Union of the two sides == the full event set
    # either way, which is exactly the exactly-once-at-the-seam claim.
    drained = _drain(tail, "append")
    tail_ids = drained.select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id")
    )
    return hist_ids.unionByName(tail_ids)


@query(
    "streaming_enrich_static_join",
    """
    WITH profile AS (
        SELECT user_id, count(*) AS user_total
        FROM events GROUP BY user_id
    )
    SELECT e.event_type, count(*) AS n,
           CAST(sum(p.user_total) AS BIGINT) AS sum_user_totals
    FROM events e JOIN profile p USING (user_id)
    GROUP BY e.event_type
    """,
    doc="LIVE stream-static enrichment: the events stream equi-joins "
    "a STATIC user-profile dimension (itself a batch aggregate of "
    "the same table) inside each micro-batch — the standard "
    "enrichment topology where the dim re-resolves per batch with no "
    "stream-side state at all; only the final per-type rollup keeps "
    "state.  The join carries NO broadcast hint: the per-user dim is "
    "corpus-proportional, so forcing a broadcast would be a 100 TB "
    "scale bug of the unbounded-vocab class; it shuffle-joins "
    "instead.  Drained complete-mode sink must equal the oracle's "
    "batch self-join aggregate.",
)
def streaming_enrich_static_join(spark, sf_dir):
    from ..analytics.core import table

    profile = (
        table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("user_total"))
    )
    # no broadcast hint: the per-user profile dim is CORPUS-
    # proportional (one row per user), so forcing a broadcast is a
    # 100 TB scale bug of the same class as an unbounded vocab table.
    # Stream-static equijoins shuffle fine without it.  NOTE: do not
    # expect the planner to auto-broadcast an aggregated dim even
    # when its OUTPUT is small — without CBO, the size estimate of an
    # Aggregate inherits its child scan's sizeInBytes, so the
    # autoBroadcastJoinThreshold is effectively never met for a dim
    # derived from a big scan; a genuinely-bounded dim that must
    # broadcast needs an explicit hint (see the bounded-side hints in
    # text.py / pipeline_llm.py).
    enriched = _events_stream(spark, sf_dir).join(profile, "user_id")
    agg = enriched.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("user_total").alias("sum_user_totals"),
    )
    return _drain(agg, "complete").select("event_type", "n", "sum_user_totals")


def _events_with_sentinel_dir(spark, sf_dir: str) -> str:
    """A /tmp copy of events.parquet plus a strictly-newer sentinel
    file (one far-future purchase + click for a non-existent user),
    marker-cached per fixture.  Outer stream-stream joins only emit
    their null-padded rows once the watermark passes a row's join
    window; at end-of-input the watermark stalls at max(ts) - delay and
    every unmatched row in that final lag would be withheld forever.
    Replaying the sentinel as a SECOND file (maxFilesPerTrigger=1 ⇒ its
    own micro-batch) pushes the final watermark past all real data so
    the drain flushes the complete outer result — the same trick a
    production backfill uses to close its last window."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(root):
        src = f"{sf_dir}/events.parquet"
        shutil.copy(src, os.path.join(root, "00_events.parquet"))
        t = pq.read_table(src)
        ts_field = t.schema.field("ts")
        max_ts = pa.compute.max(t.column("ts")).as_py()
        if pa.types.is_integer(ts_field.type):
            day = 86_400_000_000_000 if max_ts > 10**17 else 86_400_000_000
            far = [max_ts + (30 + i) * day for i in range(3)]
        else:
            import datetime

            far = [max_ts + datetime.timedelta(days=30 + i) for i in range(3)]
        # Sentinels are 1 day apart and alternate type, so they can't match
        # each other in the interval join; user -1 is filtered from every
        # graded output.  THREE sentinel FILES (= three micro-batches under
        # maxFilesPerTrigger=1): cascaded stateful operators flush one
        # layer per batch, and — measured, not just theorized — the
        # DOWNSTREAM layer's watermark advances from the upstream
        # operator's EMITTED rows, so each chained layer needs one more
        # sentinel batch to flow through the one above it.  One file was
        # enough for single-layer joins; two still stranded the last day
        # of a two-layer chained aggregation.
        for i, (eid, ts_v, etype) in enumerate(
            [(-1, far[0], "purchase"), (-2, far[1], "click"), (-3, far[2], "purchase")]
        ):
            sentinel = pa.table(
                {
                    "event_id": pa.array([eid], pa.int64()),
                    "ts": pa.array([ts_v], ts_field.type),
                    "user_id": pa.array([-1], pa.int64()),
                    "event_type": pa.array([etype], pa.string()),
                    "value": pa.array([0.0], pa.float64()),
                    "props": pa.array(["{}"], pa.string()),
                },
                schema=t.schema,
            )
            pq.write_table(sentinel, os.path.join(root, f"0{i + 1}_sentinel.parquet"))
        # FileStreamSource orders by modification time: events strictly
        # first, then the sentinels in order.
        now = os.stat(os.path.join(root, "03_sentinel.parquet")).st_mtime
        os.utime(os.path.join(root, "02_sentinel.parquet"), (now - 3, now - 3))
        os.utime(os.path.join(root, "01_sentinel.parquet"), (now - 6, now - 6))
        os.utime(os.path.join(root, "00_events.parquet"), (now - 10, now - 10))

    return build_once(
        cache_root("/tmp/durablestreams_ssjoin_v3", sf_dir), sf_dir, build
    )


@query(
    "streaming_interval_join_left_outer",
    """
    SELECT p.event_id AS purchase_id, c.event_id AS click_id,
           round(epoch(p.ts) - epoch(c.ts), 3) AS gap_sec
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
      ON p.user_id = c.user_id
     AND c.ts <= p.ts
     AND c.ts >= p.ts - INTERVAL 30 MINUTE
    """,
    doc="LIVE stream-stream LEFT OUTER interval join: purchases with "
    "no same-user click in the prior 30 min must ALSO emit, null-"
    "padded — the attribution query's 'unattributed conversions' "
    "half. Outer emission is watermark-gated state eviction, so the "
    "drain appends a far-future sentinel file as its own micro-batch "
    "(maxFilesPerTrigger=1) to push the final watermark past all real "
    "rows; without it every purchase in the last watermark+lag of "
    "event time is withheld at end-of-input and the result is "
    "silently partial. Oracle: the batch LEFT JOIN.",
)
def streaming_interval_join_left_outer(spark, sf_dir):
    from ..analytics.core import ts_unit_info
    from ..streaming.joins import interval_join

    unit, physical = ts_unit_info(f"{sf_dir}/events.parquet")
    int64_physical = physical == "int64" or unit == "ns"
    ts_decl = "long" if int64_physical else "timestamp"
    root = _events_with_sentinel_dir(spark, sf_dir)
    raw = (
        spark.readStream.schema(
            f"event_id long, ts {ts_decl}, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    if int64_physical:
        conv = "ts div 1000" if unit == "ns" else "ts"
        raw = raw.withColumn("ts", F.expr(f"timestamp_micros({conv})"))
    purchases = raw.where(F.col("event_type") == "purchase")
    clicks = raw.where(F.col("event_type") == "click")
    joined = interval_join(
        purchases, clicks, on="user_id", max_lag="30 minutes", how="left_outer"
    ).select(
        F.col("l.event_id").alias("purchase_id"),
        F.col("l.user_id").alias("user_id"),
        F.col("r.event_id").alias("click_id"),
        F.round(
            F.unix_micros(F.col("l.ts")) / 1e6
            - F.unix_micros(F.col("r.ts")) / 1e6,
            3,
        ).alias("gap_sec"),
    )
    out = _drain(joined, "append")
    return out.where(F.col("user_id") >= 0).select(
        "purchase_id", "click_id", "gap_sec"
    )


@query(
    "streaming_top_users_by_value",
    """
    SELECT user_id, round(sum(value), 4) AS total_value,
           CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    ORDER BY total_value DESC, user_id LIMIT 10
    """,
    doc="LIVE complete-mode leaderboard: streaming aggregate -> global "
    "orderBy + limit, the one place Structured Streaming allows a "
    "streaming sort (complete mode re-emits the full result each "
    "batch, so the sink sort is over the final aggregate state — "
    "O(groups), never O(events)). Drained top-10 must equal the batch "
    "leaderboard.",
)
def streaming_top_users_by_value(spark, sf_dir):
    agg = (
        _events_stream(spark, sf_dir)
        .groupBy("user_id")
        .agg(
            F.round(F.sum("value"), 4).alias("total_value"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .orderBy(F.col("total_value").desc(), "user_id")
        .limit(10)
    )
    return _drain(agg, "complete")


@query(
    "streaming_stateful_user_ewma",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(list_reduce(list(value ORDER BY ts, event_id),
                             (acc, x) -> 0.125 * x + 0.875 * acc), 6)
               AS ewma_value
    FROM events GROUP BY user_id
    """,
    doc="LIVE order-sensitive stateful streaming: per-user EWMA via "
    "applyInPandasWithState, drained and compared to the oracle's "
    "identical (ts, event_id)-ordered fold. The running-totals "
    "stateful op is commutative and hides ordering/replay bugs; an "
    "EWMA changes value under any mis-order or double-fold, so this "
    "is the stateful operator that actually proves per-key ordered, "
    "exactly-once state evolution. alpha = 1/8 (binary-exact) keeps "
    "all three engines' IEEE op sequences identical.",
)
def streaming_stateful_user_ewma(spark, sf_dir):
    from ..streaming.stateful import running_user_ewma

    from pyspark.sql import Window as W

    src = _events_stream(spark, sf_dir).select(
        "user_id", "ts", "event_id", "value"
    )
    out = _drain(running_user_ewma(src), "update")
    # latest emission per user (multi-batch drains emit supersets)
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            F.round("ewma_value", 6).alias("ewma_value"),
        )
    )


@query(
    "streaming_tws_sessionize",
    """
    WITH o AS (
        SELECT user_id, event_id, epoch_us(ts) AS us,
               lag(epoch_us(ts)) OVER (PARTITION BY user_id
                                       ORDER BY ts, event_id) AS prev
        FROM events),
    g AS (
        SELECT user_id, us,
               sum(CASE WHEN prev IS NULL OR us - prev > 1800000000
                        THEN 1 ELSE 0 END)
                   OVER (PARTITION BY user_id ORDER BY us, event_id) AS sid
        FROM o)
    SELECT user_id, CAST(min(us) AS BIGINT) AS start_us,
           CAST(max(us) AS BIGINT) AS end_us,
           count(*) AS n_events
    FROM g GROUP BY user_id, sid
    """,
    doc="LIVE transformWithStateInPandas sessionization with "
    "EVENT-TIME TIMERS — the Spark-4 capability applyInPandasWithState "
    "cannot express: a 30-min-gap session closes (and emits exactly "
    "once) when the WATERMARK passes last-event+gap via "
    "handleExpiredTimer, not when a later event happens to arrive.  "
    "Stale timers from extended sessions are ignored by re-checking "
    "expiry against state.  The drain appends far-future sentinel "
    "files (maxFilesPerTrigger=1) so the final watermark advance "
    "fires every remaining close timer — without it the last open "
    "session per user is silently withheld at end-of-input.  Oracle: "
    "the batch gaps-and-islands sessionization.",
)
def streaming_tws_sessionize(spark, sf_dir):
    from ..analytics.core import ts_unit_info
    from ..streaming.stateful import user_sessions_tws

    unit, physical = ts_unit_info(f"{sf_dir}/events.parquet")
    int64_physical = physical == "int64" or unit == "ns"
    ts_decl = "long" if int64_physical else "timestamp"
    root = _events_with_sentinel_dir(spark, sf_dir)
    raw = (
        spark.readStream.schema(
            f"event_id long, ts {ts_decl}, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    if int64_physical:
        conv = "ts div 1000" if unit == "ns" else "ts"
        raw = raw.withColumn("ts", F.expr(f"timestamp_micros({conv})"))
    src = (
        raw.select(
            "user_id", "event_id", "ts", F.unix_micros("ts").alias("ts_us")
        )
        .withWatermark("ts", "1 hour")
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = _drain(user_sessions_tws(src), "update")
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)
    return out.where(F.col("user_id") >= 0).select(
        "user_id", "start_us", "end_us", "n_events"
    )


@query(
    "streaming_tws_type_histogram",
    """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY user_id
    """,
    doc="LIVE transformWithStateInPandas (Spark-4 typed-state API): "
    "per-user event-type histogram in typed MapState — per-key state "
    "I/O is O(types touched per batch), not O(total state), the "
    "property that matters when keys accumulate wide state over long "
    "streams.  Drained with availableNow on the RocksDB state store; "
    "the final emission per user must equal the batch aggregate, "
    "which IS the oracle.  The protobuf runtime TWS workers need is "
    "discovered on the host (_protobuf_compat); when none exists the "
    "query degrades to the applyInPandasWithState JSON-blob fallback "
    "with the identical output contract (documented trade: fallback "
    "state I/O is O(total state) per batch).",
)
def streaming_tws_type_histogram(spark, sf_dir):
    from .._protobuf_compat import enable_protobuf_runtime
    from ..streaming.stateful import (
        user_type_histogram,
        user_type_histogram_fallback,
    )

    from pyspark.sql import Window as W

    src = _events_stream(spark, sf_dir).select("user_id", "event_type")
    if enable_protobuf_runtime(spark):
        prov_key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(prov_key, None)
        spark.conf.set(
            prov_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            out = _drain(user_type_histogram(src), "update")
        finally:
            if old is None:
                spark.conf.unset(prov_key)
            else:
                spark.conf.set(prov_key, old)
    else:
        out = _drain(user_type_histogram_fallback(src), "update")
    # latest emission per user (multi-batch drains emit supersets)
    w = W.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("user_id", "n_events", "n_types")
    )


@query(
    "streaming_cdc_apply",
    """
    WITH ranked AS (
        SELECT user_id, event_id, epoch_us(ts) AS us, value,
               CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS del,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events)
    SELECT user_id, CAST(us AS BIGINT) AS last_ts_us,
           event_id AS last_event_id, round(value, 4) AS last_value
    FROM ranked WHERE rn = 1 AND del = 0
    """,
    doc="LIVE CDC materialization (the Debezium 'apply changelog to "
    "table' pattern): events reinterpreted as a keyed changelog "
    "('error' = delete, else upsert), folded last-writer-wins into a "
    "one-row-per-user snapshot via transformWithStateInPandas "
    "ValueState; deletes become retained tombstones so out-of-order "
    "upserts cannot resurrect a deleted key, and the max-(ts,event_id) "
    "fold is robust to cross-batch disorder by construction.  Oracle: "
    "batch QUALIFY rn=1 last-value-wins with delete filtering.  "
    "Degrades to the applyInPandasWithState fallback (identical "
    "contract) when no protobuf runtime exists on the host.",
)
def streaming_cdc_apply(spark, sf_dir):
    from .._protobuf_compat import enable_protobuf_runtime
    from ..streaming.stateful import cdc_apply_fallback, cdc_apply_tws

    from pyspark.sql import Window as W

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
        F.when(F.col("event_type") == "error", F.lit("delete"))
        .otherwise(F.lit("upsert"))
        .alias("op"),
    )
    if enable_protobuf_runtime(spark):
        prov_key = "spark.sql.streaming.stateStore.providerClass"
        old = spark.conf.get(prov_key, None)
        spark.conf.set(
            prov_key,
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        try:
            out = _drain(cdc_apply_tws(src), "update")
        finally:
            if old is None:
                spark.conf.unset(prov_key)
            else:
                spark.conf.set(prov_key, old)
    else:
        out = _drain(cdc_apply_fallback(src), "update")
    # latest emission per user (multi-batch drains emit supersets)
    w = W.partitionBy("user_id").orderBy(
        F.col("last_ts_us").desc(), F.col("last_event_id").desc()
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where((F.col("rn") == 1) & (F.col("deleted") == 0))
        .select(
            "user_id",
            "last_ts_us",
            "last_event_id",
            F.round("last_value", 4).alias("last_value"),
        )
    )


@query(
    "streaming_chained_windows",
    """
    WITH w1 AS (
        SELECT epoch_us(ts) // 21600000000 AS b6, user_id,
               count(*) AS n
        FROM events GROUP BY b6, user_id
    )
    SELECT strftime(to_timestamp((b6 * 21600000000 // 86400000000)
                                 * 86400), '%Y-%m-%d') AS day,
           CAST(count(*) AS BIGINT) AS n_user_windows,
           CAST(max(n) AS BIGINT) AS max_user_6h,
           CAST(sum(n) AS BIGINT) AS total_events
    FROM w1 GROUP BY day ORDER BY day
    """,
    doc="LIVE chained event-time window aggregation (Spark >= 3.4): a "
    "6-hour per-user count feeds a second, daily aggregation INSIDE "
    "the same streaming query — two stateful operators back to back, "
    "the pattern that previously forced an intermediate sink and a "
    "second job. Append-mode, so the second agg only sees FINALIZED "
    "6h windows; the far-future sentinel micro-batch pushes the final "
    "watermark past all real data, flushing both state layers at "
    "end-of-input. Oracle: the same two-level bucket arithmetic in "
    "plain SQL (Spark windows are epoch-aligned, so integer division "
    "reproduces them exactly).",
)
def streaming_chained_windows(spark, sf_dir):
    from ..analytics.core import ts_unit_info

    unit, physical = ts_unit_info(f"{sf_dir}/events.parquet")
    int64_physical = physical == "int64" or unit == "ns"
    ts_decl = "long" if int64_physical else "timestamp"
    root = _events_with_sentinel_dir(spark, sf_dir)
    raw = (
        spark.readStream.schema(
            f"event_id long, ts {ts_decl}, user_id long, event_type string, "
            "value double, props string"
        )
        .option("maxFilesPerTrigger", "1")
        .parquet(root)
    )
    if int64_physical:
        conv = "ts div 1000" if unit == "ns" else "ts"
        raw = raw.withColumn("ts", F.expr(f"timestamp_micros({conv})"))
    # The sentinels flow through BOTH aggregation layers (the
    # downstream layer's watermark advances from the rows the upstream
    # layer emits — filtering them out before w1 leaves the last real
    # day stranded in w2's state forever); they are removed at the END
    # via the min(user_id) probe, which only sentinel-days trip.
    w1 = (
        raw.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours").alias("w6"), "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w2 = (
        w1.groupBy(F.window(F.window_time("w6"), "1 day").alias("wd"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_user_windows"),
            F.max("n").cast("long").alias("max_user_6h"),
            F.sum("n").cast("long").alias("total_events"),
            F.min("user_id").alias("min_user"),
        )
    )
    out = _drain(w2, "append")
    return (
        out.where(F.col("min_user") >= 0)
        .select(
            F.date_format(F.col("wd.start"), "yyyy-MM-dd").alias("day"),
            "n_user_windows",
            "max_user_6h",
            "total_events",
        )
        .orderBy("day")
    )


@query(
    "streaming_tws_lastn",
    """
    WITH lastn AS (
        SELECT user_id, ts, event_id, value, epoch_us(ts) AS us,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events),
    g AS (
        SELECT user_id,
               list(value ORDER BY ts, event_id) AS vals,
               CAST(max(us) AS BIGINT) AS max_ts_us
        FROM lastn WHERE rn <= 5 GROUP BY user_id)
    SELECT user_id, CAST(len(vals) AS BIGINT) AS n_buf,
           round(list_reduce(vals, (acc, x) -> acc + x) / len(vals), 6)
               AS lastn_mean,
           max_ts_us
    FROM g
    """,
    doc="LIVE transformWithStateInPandas ListState (the third Spark-4 "
    "typed-state primitive, completing Value/Map/List + timers "
    "coverage): a per-user rolling last-5-events buffer merged BY "
    "EVENT TIME each batch, so late batches with older events cannot "
    "evict newer ones — the buffer converges to the true event-time "
    "last-N under any batch order, O(N) state per key forever.  The "
    "mean folds the buffer in ascending (ts, event_id) order and the "
    "oracle replays the identical ordered fold (list_reduce), so "
    "summation order cannot diverge.  Oracle: batch top-5-per-user "
    "window.",
)
def streaming_tws_lastn(spark, sf_dir):
    from ..streaming.stateful import user_lastn_tws

    from pyspark.sql import Window as W

    src = _events_stream(spark, sf_dir).select(
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "event_id",
        "value",
    )
    prov_key = "spark.sql.streaming.stateStore.providerClass"
    old = spark.conf.get(prov_key, None)
    spark.conf.set(
        prov_key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    try:
        out = _drain(user_lastn_tws(src), "update")
    finally:
        if old is None:
            spark.conf.unset(prov_key)
        else:
            spark.conf.set(prov_key, old)
    # latest emission per user (multi-batch drains emit supersets).
    # max_ts_us alone can tie: a later batch carrying older-but-in-window
    # events changes the buffer without raising max_ts_us — n_seen is the
    # processor's monotone per-key emission counter, so max n_seen IS the
    # final emission, deterministically.
    w = W.partitionBy("user_id").orderBy(F.col("n_seen").desc())
    return (
        out.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            "n_buf",
            F.round("lastn_mean", 6).alias("lastn_mean"),
            "max_ts_us",
        )
    )


# Imported adjacent to its single consumer (streaming_quality_score):
# the oracle is an f-string, so it must be module-level.  No cycle:
# text never imports streaming_queries.
from .text import _NB_SCORED_CTES  # noqa: E402


def _nb_serving_model(spark, sf_dir):
    """(lam dict, prior) from the persisted-model cache — trains and
    writes the cache on miss (the similarity.py ANN-index pattern,
    FAISS's train-once/serve-many: the offline training pass must not
    be charged to every serve; measured 15 s of the 28 s sf1 serve
    before the cache landed).  The collected model is NB_BUCKETS
    floats + a scalar, fingerprint-keyed to the documents fixture
    with every model-shaping knob folded into the params tag
    (cache_marker doctrine); bump the trailing version on a
    training-logic change."""
    import json as _json

    from .text import (
        CURATE_MIN_STOPWORDS,
        GOPHER_MAX_MWL,
        GOPHER_MAX_SYMBOL_RATIO,
        GOPHER_MAX_WORDS,
        GOPHER_MIN_ALPHA_FRAC,
        GOPHER_MIN_MWL,
        GOPHER_MIN_WORDS,
        GOPHER_STOPWORDS,
        NB_BUCKETS,
        _nb_training,
    )

    # EVERY label-shaping knob is folded in: the five Gopher gate
    # thresholds and a digest of the stopword lexicon shape the seed
    # labels and thus the trained model — leaving any of them out
    # serves a stale cached model after a constant change unless
    # someone remembers to bump :v1 (the round-5 failure mode the
    # cache_marker doctrine exists to prevent).
    lex = hashlib.md5(",".join(GOPHER_STOPWORDS).encode()).hexdigest()[:8]
    gate = (
        f"w{GOPHER_MIN_WORDS}-{GOPHER_MAX_WORDS}"
        f":mwl{GOPHER_MIN_MWL}-{GOPHER_MAX_MWL}"
        f":a{GOPHER_MIN_ALPHA_FRAC}:s{GOPHER_MAX_SYMBOL_RATIO}"
        f":lex{lex}"
    )
    params = (
        f"nb{NB_BUCKETS}:uni+bi:curate-stop{CURATE_MIN_STOPWORDS}:{gate}:v1"
    )

    def build(root):
        _, llr, prior = _nb_training(spark, sf_dir)
        # Bounded collects: llr is NB_BUCKETS rows by construction, the
        # prior one scalar — vocabulary state (SCALE.md §9).
        lam = {int(r["bkt"]): float(r["lam"]) for r in llr.collect()}
        pri = float(prior.collect()[0]["pri"])
        with open(os.path.join(root, "model.json"), "w") as fh:
            _json.dump({"lam": lam, "pri": pri}, fh)

    root = build_once(
        cache_root("/tmp/durablestreams_nbmodel_v1", sf_dir),
        sf_dir,
        build,
        name="documents",
        params=params,
    )
    # the build path serves the JSON round-trip too: shortest-repr
    # floats parse back to the identical doubles
    with open(os.path.join(root, "model.json")) as fh:
        model = _json.load(fh)
    return (
        {int(k): float(v) for k, v in model["lam"].items()},
        float(model["pri"]),
    )


def _nb_logit_fixed_model(lam, pri):
    """(hi, lo, pri_fixed) fixed-point form of a collected NB model:
    each lam double CAST exactly to 18 decimal places (the decimal
    fold's semantics) and split into int64-safe halves (hi = units of
    1e-9, lo = remainder < 1e9), so per-doc sums stay exact in two
    int64 accumulators: over <= 1e6 features/doc, |sum_hi| <=
    1e6 * 4e10 and sum_lo <= 1e6 * 1e9 — both far inside int64.

    The quantization goes through ``repr(float)`` — the SHORTEST
    decimal representation — because that is what Spark's
    ``CAST(double AS DECIMAL(28,18))`` quantizes (Double.toString),
    NOT the double's exact binary expansion: e.g. 2.302585092994046
    casts to ...046000000 in Spark while Decimal(float) would give
    ...045901... (r15 ADVICE high).  Pinned against the live Spark
    cast by test_nb_fixed_model_matches_spark_cast."""
    from decimal import ROUND_HALF_UP, Decimal

    import numpy as np

    from .text import NB_BUCKETS

    q18 = Decimal(1).scaleb(-18)
    hi = np.zeros(NB_BUCKETS, dtype=np.int64)
    lo = np.zeros(NB_BUCKETS, dtype=np.int64)
    for b in range(NB_BUCKETS):
        iv = int(
            Decimal(repr(float(lam.get(b, 0.0))))
            .quantize(q18, rounding=ROUND_HALF_UP)
            .scaleb(18)
        )
        hi[b], lo[b] = iv // 10**9, iv % 10**9
    pri_fixed = int(
        Decimal(repr(float(pri)))
        .quantize(q18, rounding=ROUND_HALF_UP)
        .scaleb(18)
    )
    return hi, lo, pri_fixed


def _nb_logit_col(feats_col, lam, pri):
    """Row-local serving expression: the 4-dp-rounded NB logit of a
    features array under the collected model.  The bucket ids are
    computed JVM-side (codegen md5 — the oracle's definition), then a
    VECTORIZED pandas UDF does the accumulation (r15 optimization,
    guide §4.2): Spark's higher-order ``aggregate`` is interpreted
    per element, and the previous per-token DECIMAL fold measured
    +12.4 s executor-CPU over the feats baseline at sf1 vs +7.1 s
    for this Arrow path (only the int32 bucket array crosses the
    boundary, never the token strings).  Arithmetic stays EXACT: the
    model is served as fixed-point 1e-18 units split into two
    int64-safe halves (_nb_logit_fixed_model), per-doc sums are
    integer, and the final half-up round to the 4-dp grid is integer
    div/mod — bit-identical to the decimal fold (pinned by
    test_nb_serving_exactness) and to the _NB_SCORED_CTES oracle.
    Buckets absent from training default to 0.0 (no evidence) —
    unreachable when serving the training corpus.  A NULL features
    array scores NULL (the decimal fold this replaced propagated
    NULL through transform/aggregate — r15 ADVICE); the prior-only
    score is reserved for genuinely empty arrays.  Stateless and
    row-local, so legal in every streaming consumer."""
    import numpy as np

    from .text import _nb_bucket

    hi, lo, pri_fixed = _nb_logit_fixed_model(lam, pri)

    @F.pandas_udf("double")
    def _score(bkts: pd.Series) -> pd.Series:
        out = np.empty(len(bkts), dtype=np.float64)
        P = 10**9
        G = 10**14  # 1e-18 units per 1e-4 grid step
        for i, arr in enumerate(bkts):
            if arr is None:
                out[i] = np.nan  # -> NULL (fold parity)
                continue
            if len(arr) == 0:
                tot = pri_fixed
            else:
                a = np.asarray(arr)
                tot = int(hi[a].sum()) * P + int(lo[a].sum()) + pri_fixed
            q, r = divmod(tot if tot >= 0 else -tot, G)
            if r * 2 >= G:
                q += 1
            out[i] = (q if tot >= 0 else -q) / 1e4
        return pd.Series(out)

    return _score(
        F.transform(feats_col, lambda t: _nb_bucket(t).cast("int"))
    )


#: The documents fixture file name — ONE definition feeding both the
#: stream's pathGlobFilter and the split estimate of _spread_stream
#: (a rename must not be able to silently disable the rebalance at
#: one call site and reintroduce the scan starvation).
_DOCS_FILE = "documents.parquet"


def _docs_stream(spark, sf_dir: str):
    """The documents table replayed as a stream."""
    return (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, "
            "n_chars long"
        )
        .option("pathGlobFilter", _DOCS_FILE)
        .parquet(sf_dir)
    )


def _docs_stream_spread(spark, sf_dir: str):
    """_docs_stream with the CPU-heavy-stage rebalance (see
    _spread_stream) — use this for any consumer whose scan stage does
    per-token hashing / metric work."""
    return _spread_stream(
        _docs_stream(spark, sf_dir), os.path.join(sf_dir, _DOCS_FILE)
    )


def _spread_stream(df, src_path: str):
    """core.spread() for a STREAMING scan feeding a CPU-heavy row-local
    stage (md5 feature hashing, SimHash): a streaming DF exposes no
    inputFiles(), so the split estimate comes from the source file's
    size directly — same FilePartition math as spread(), same
    contract: repartition ONLY when the scan would yield fewer
    partitions than the cluster has cores (the single-file local
    fixture), a no-op at scale where each micro-batch carries >= cores
    file splits.  Measured on streaming_dedup_neardup at sf1: the
    simhash scan stage ran 3 tasks on 32 cores without it."""
    spark = df.sparkSession
    n_par = spark.sparkContext.defaultParallelism
    from ..analytics.core import _parse_bytes

    max_split = _parse_bytes(
        spark.conf.get("spark.sql.files.maxPartitionBytes")
    )
    try:
        st = os.stat(src_path)
        if _stat.S_ISDIR(st.st_mode):
            # A multi-file dataset: st_size would be the inode size
            # (~4 KB), which always under-estimates to 1 split and
            # turns the contract's at-scale no-op into a per-batch
            # shuffle (r10 ADVICE).  Sum the data files instead —
            # RECURSIVELY, because a Hive-partitioned layout keeps all
            # data under key=value subdirectories and a one-level scan
            # would see 0 bytes (the same wrong repartition, r11
            # review).
            size = 0
            for root, _dirs, files in os.walk(src_path):
                size += sum(
                    os.path.getsize(os.path.join(root, f))
                    for f in files
                    if not f.startswith(("_", "."))
                )
        else:
            size = st.st_size
    except OSError:
        return df  # remote/unstatable — assume at-scale, don't shuffle
    if -(-size // max_split) >= n_par:
        return df
    return df.repartition(n_par)



@query(
    "streaming_quality_score",
    f"""
    WITH {_NB_SCORED_CTES}
    SELECT doc_id, n_feats, nb_logit, (nb_logit > 0) AS pred_keep
    FROM nbs
    """,
    doc="LIVE model serving in a stream — the train-offline / "
    "score-online topology every production quality classifier "
    "deploys: the NB model is trained in BATCH on the static corpus "
    "(the exact shared _nb_training definition the graded batch "
    "classifier runs — one model, three graded consumers), its "
    "NB_BUCKETS-row llr table and scalar prior are collected "
    "(bounded O(1024), the BPE-merge-collect contract), PERSISTED "
    "per corpus fingerprint (the ANN-index train-once/serve-many "
    "pattern: the offline training pass must not be charged to every "
    "serve) and folded into the streaming projection as a DENSE "
    "ARRAY literal — O(1) indexing, where a literal MAP's element_at "
    "is an O(buckets) linear scan per lookup (measured 6x slower "
    "end-to-end at sf1) — then the documents stream is scored "
    "row-locally: feats array -> transform(bucket -> "
    "element_at(arr)) -> aggregate sum + prior.  "
    "The streaming query is therefore completely STATELESS — no "
    "watermark, no state store, no stream-side join or aggregation — "
    "which is the only shape that serves a model at 100 TB/day "
    "ingest: scoring throughput is scan throughput, and the model "
    "'broadcast' is vocabulary state of constant size exactly like "
    "the BPE merge table.  Drained append-mode sink must equal the "
    "batch classifier's scores doc-for-doc (same oracle CTEs).",
)
def streaming_quality_score(spark, sf_dir):
    from .text import _nb_feats_array

    lam, pri = _nb_serving_model(spark, sf_dir)
    wrds = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    # _spread_stream: the per-token feature hashing is the CPU-heavy
    # row-local stage; the single-file fixture otherwise scores on 3
    # of 32 cores (no-op at scale — see the helper's contract).
    scored = _docs_stream_spread(spark, sf_dir).select(
        "doc_id", _nb_feats_array(wrds).alias("feats")
    ).where(F.size("feats") > 0)
    logit = _nb_logit_col(F.col("feats"), lam, pri)
    out = scored.select(
        "doc_id",
        F.size("feats").cast("long").alias("n_feats"),
        logit.alias("nb_logit"),
        (logit > 0).alias("pred_keep"),
    )
    return _drain(out, "append")


@query(
    "streaming_quality_monitor",
    f"""
    WITH {_NB_SCORED_CTES},
    j AS (
        SELECT n.doc_id, d.source, n.gopher_keep, n.nb_logit
        FROM nbs n JOIN documents d USING (doc_id)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(CASE WHEN gopher_keep THEN 1 ELSE 0 END) AS BIGINT)
               AS n_keep,
           floor(CAST(sum(CAST(nb_logit AS DECIMAL(38, 6))) AS DOUBLE)
                 / count(*) * 10000 + 0.5) / 10000 AS mean_logit
    FROM j
    GROUP BY source
    """,
    doc="LIVE per-source ingest-quality DASHBOARD — the monitor every "
    "production data pipeline runs next to its firehose: the "
    "documents stream is annotated row-locally with the shared "
    "five-rule Gopher gate (_gopher_metrics + _gopher_keep_curate_col "
    "— the exact seed-label definition the NB model trains on) and "
    "the served NB logit (the cached model via _nb_serving_model / "
    "_nb_logit_col — same serving expression as "
    "streaming_quality_score), then rolled up per source in a "
    "complete-mode streaming aggregation whose state is O(#sources) "
    "— BOUNDED, unlike a per-key rollup, so the monitor runs forever "
    "at any ingest rate.  mean_logit aggregates the 4-dp-rounded "
    "logits as exact DECIMAL(38,6) sums (lossless cast, "
    "order-independent) with floor-form rounding, per the SCALE.md "
    "policy — a streaming shuffle must not be able to flip the "
    "reported mean.  Drained sink must equal the batch oracle built "
    "from the shared NB CTEs.",
)
def streaming_quality_monitor(spark, sf_dir):
    from .text import (
        _gopher_keep_curate_col,
        _gopher_metrics,
        _nb_feats_array,
    )

    lam, pri = _nb_serving_model(spark, sf_dir)
    # _spread_stream: Gopher metrics + per-token feature hashing are
    # the CPU-heavy row-local stages (see streaming_quality_score).
    m = _gopher_metrics(
        _docs_stream_spread(spark, sf_dir),
        keep_words=True,
        extra_cols=("source",),
    )
    ann = m.select(
        "source",
        _gopher_keep_curate_col().alias("keep"),
        _nb_feats_array(F.col("wrds")).alias("feats"),
    ).where(F.size("feats") > 0)
    scored = ann.select(
        "source",
        "keep",
        _nb_logit_col(F.col("feats"), lam, pri).alias("nb_logit"),
    )
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.col("keep").cast("long")).alias("n_keep"),
        F.sum(F.col("nb_logit").cast("decimal(38,6)")).alias("logit_sum"),
    )
    out = _drain(agg, "complete")
    return out.select(
        "source",
        "n_docs",
        "n_keep",
        (
            F.floor(
                F.col("logit_sum").cast("double") / F.col("n_docs") * 10000
                + 0.5
            )
            / 10000
        ).alias("mean_logit"),
    )


# Shared verbatim with the batch dedup_simhash oracle (one signature
# definition, two graded consumers — the _NB_SCORED_CTES pattern);
# the banding geometry interpolates the SAME constants the stream
# side uses so a knob change cannot leave a stale oracle.
from .dedup import (  # noqa: E402
    _SIMHASH_CTES,
    NEARDUP_BAND_BITS as _ND_BITS,
    NEARDUP_BANDS as _ND_BANDS,
    NEARDUP_MAX_HAMMING as _ND_HAM,
    band_key_exprs as _band_key_exprs,
)


@query(
    "streaming_dedup_neardup",
    f"""
    WITH {_SIMHASH_CTES},
    bands AS (
        SELECT doc_id, simhash, b.b AS band_id,
               (simhash // (1::BIGINT << ({_ND_BITS} * b.b)))
                   % {1 << _ND_BITS} AS band_key
        FROM sig, (SELECT UNNEST(generate_series(0, {_ND_BANDS - 1})) AS b) b
    )
    SELECT DISTINCT s.doc_id AS doc_id, c.doc_id AS dup_of,
           CAST(bit_count(xor(s.simhash, c.simhash)) AS BIGINT) AS hamming
    FROM bands s
    JOIN bands c ON s.band_id = c.band_id AND s.band_key = c.band_key
               AND c.doc_id < s.doc_id
    WHERE bit_count(xor(s.simhash, c.simhash)) <= {_ND_HAM}
    """,
    doc="LIVE online near-dup detection — the ingest-time twin of the "
    "batch near-dup family, and the serving topology a production "
    "pipeline runs on its firehose: each incoming document's 32-bit "
    "SimHash is computed ROW-LOCALLY in the stream (simhash_expr — "
    "bit-identical to the batch dedup_simhash aggregate, but zero "
    "aggregation state), exploded into 4x8-bit band keys (a "
    "stateless 1->4 flatMap), and equi-joined per micro-batch "
    "against the PERSISTED batch-built signature index "
    "(_band_index_path — the ANN/NB train-once/serve-many artifact).  "
    "Pigeonhole makes the band join EXACT at the graded threshold: "
    "hamming <= 3 < 4 bands forces agreement on a whole band, so "
    "the oracle is the clean all-near-dup-pairs semantic.  A pair "
    "matching in several bands would fan out k rows; a row-local "
    "first-matching-band predicate (band_id = the smallest agreeing "
    "band, recomputed from the two signatures in the row) keeps "
    "exactly one — DISTINCT-free dedup of the join fan-out, so the "
    "stream side needs NO aggregation, NO watermark, NO state store: "
    "detection throughput is scan throughput, the only shape that "
    "screens 100 TB/day at ingest.  dup_of < doc_id orients each "
    "pair at the later arrival (its 'already-ingested' match, the "
    "batch min-id-wins convention).  Drained append-mode sink must "
    "equal the batch band-join oracle pair-for-pair.  Reference "
    "capability: none — BASELINE.json north-star operator (VERDICT "
    "r9 top task).",
)
def streaming_dedup_neardup(spark, sf_dir):
    return _drain(_neardup_stream_df(spark, sf_dir), "append")


def _neardup_stream_df(spark, sf_dir):
    """The un-drained streaming topology of streaming_dedup_neardup —
    split out so the plan audit can assert statelessness (no
    Aggregate, no watermark, no state store) and the persisted-index
    provenance on the live streaming DF itself."""
    fam = SIMHASH_FAMILY
    src = _docs_stream_spread(spark, sf_dir).select("doc_id", "text")
    # Stream-static inner equi-join: stateless on the stream side
    # (re-resolves the static index per micro-batch).  No broadcast
    # hint — the index is corpus-proportional (the
    # streaming_enrich_static_join rule).
    idx = _band_index_path(fam, spark, sf_dir, base=False)
    return _band_join(
        fam,
        _doc_bands(fam, src),
        spark.read.parquet(idx),
        F.col("o_doc_id") < F.col("doc_id"),
    ).select(
        "doc_id",
        F.col("o_doc_id").alias("dup_of"),
        _hamming(fam).cast("long").alias("hamming"),
    )


def _exact_hash_index(spark, sf_dir, base):
    """Persisted exact-dedup index: (content md5 -> first doc_id) over
    the corpus, or (``base``) over its ':ndlive' BASE split, the live
    gate's historical corpus — the artifact an ingest gate joins to
    answer 'have we already got these bytes?' without any stream-side
    state.  One partial-aggregated corpus pass at build, O(1) rows per
    distinct content at rest; fingerprint-keyed like the SimHash band
    index and the NB model (the train-once/serve-many protocol).  At
    100 TB: bucketBy(h) so serving joins need no index-side shuffle."""

    def build(root):
        docs = table(spark, sf_dir, "documents")
        if base:
            docs = docs.where(_base_split("doc_id", _NDLIVE_TAG))
        (
            docs.groupBy(F.md5("text").alias("h"))
            .agg(F.min("doc_id").alias("first_id"))
            .write.mode("overwrite")
            .parquet(os.path.join(root, "index.parquet"))
        )

    cache = (
        _Cache(
            "/tmp/durablestreams_hashidx_base_v1",
            "documents",
            f"md5:minid:{_BASE_TAG}:v1",
        )
        if base
        else _Cache(
            "/tmp/durablestreams_hashidx_v1", "documents", "md5:minid:v1"
        )
    )
    return spark.read.parquet(
        os.path.join(_cached(cache, sf_dir, build), "index.parquet")
    )


@query(
    "streaming_ingest_gate",
    f"""
    WITH {_NB_SCORED_CTES},
    hx AS (SELECT md5(text) AS h, min(doc_id) AS first_id
           FROM documents GROUP BY 1),
    j AS (
        SELECT d.doc_id, (x.first_id < d.doc_id) AS exact_dup,
               n.gopher_keep, n.nb_logit
        FROM documents d
        JOIN hx x ON md5(d.text) = x.h
        JOIN nbs n USING (doc_id)
    )
    SELECT doc_id, exact_dup, gopher_keep, nb_logit,
           (NOT exact_dup AND gopher_keep AND nb_logit > 0) AS keep
    FROM j
    """,
    doc="The composed LIVE ingest GATE — the per-document admission "
    "decision a production firehose actually applies, every signal "
    "served from a batch-built artifact with ZERO stream-side state: "
    "(1) exact-dup against the PERSISTED content-hash index "
    "(_exact_hash_index: md5 -> first doc_id; a 1:1 stream-static "
    "equi-join, so 'is this already in the corpus' costs one shuffled "
    "lookup, not a stateful dropDuplicates over unbounded history), "
    "(2) the row-local five-rule Gopher gate (the shared "
    "_gopher_metrics / _gopher_keep_curate_col definitions), and "
    "(3) the served NB quality logit (the persisted model via "
    "_nb_serving_model, dense-array O(1) lookups).  keep = not an "
    "exact dup AND gopher_keep AND logit > 0 — the decision "
    "pipeline_curate_v2/v3 make offline, now made per document AT "
    "INGEST, hash-gated against the batch composition of the same "
    "shared definitions.  Gate throughput is scan throughput; every "
    "artifact is train-once/serve-many.  Reference capability: none "
    "— BASELINE.json north-star operator.",
)
def streaming_ingest_gate(spark, sf_dir):
    from .text import (
        _gopher_keep_curate_col,
        _gopher_metrics,
        _nb_feats_array,
    )

    lam, pri = _nb_serving_model(spark, sf_dir)
    hx = _exact_hash_index(spark, sf_dir, base=False)
    src = _docs_stream_spread(spark, sf_dir)
    m = _gopher_metrics(src, keep_words=True, extra_cols=("text",))
    ann = m.select(
        "doc_id",
        F.md5("text").alias("h"),
        _gopher_keep_curate_col().alias("gopher_keep"),
        _nb_feats_array(F.col("wrds")).alias("feats"),
    ).where(F.size("feats") > 0)
    scored = ann.select(
        "doc_id",
        "h",
        "gopher_keep",
        _nb_logit_col(F.col("feats"), lam, pri).alias("nb_logit"),
    )
    # 1:1 stream-static equi-join on the content hash; no broadcast
    # hint (the index is corpus-proportional).
    gated = scored.join(hx, "h").select(
        "doc_id",
        (F.col("first_id") < F.col("doc_id")).alias(_LADDER["exact"]),
        "gopher_keep",
        "nb_logit",
    )
    out = gated.withColumn("keep", _ladder_keep(["exact"]))
    return _drain(out, "append")


#: Documents base/delta split for the LIVE new-vs-new detectors: docs
#: whose md5-tag sorts below the cut are the "historical" base corpus
#: (what the persisted index was built from); the rest are the live
#: delta replayed into the stream.  Same convention as similarity's
#: ':ivfup' 80/20 split.
_NDLIVE_TAG = ":ndlive"
_NDLIVE_CUT = "cc"
#: Replay slice count — with maxFilesPerTrigger=1 this forces
#: >= _NDLIVE_FILES micro-batches, so the CROSS-BATCH path (detect a
#: pair whose first member arrived in an earlier batch, via the
#: incremental index append) is genuinely exercised every run, not
#: just the intra-batch self-join.
_NDLIVE_FILES = 4

#: Observability for the plan-audit test: the last live run's batch
#: count, state-operator list, and emitted-pair provenance.
_NDLIVE_LAST_RUN: dict = {}


def _base_split(id_col: str, tag: str):
    """True for rows in the ``tag`` base split (row-local): the md5 of
    the id and the tag sorts below _NDLIVE_CUT."""
    return (
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(tag))), 1, 2
        )
        < _NDLIVE_CUT
    )


def _guarded_index_swap(spark, idx_path: str, refresh_fn, guard_marker):
    """The ONE guarded-swap skeleton every refreshable serving artifact
    goes through (the banded near-dup families' refresh_band_index,
    the exact-hash postings, the NB counts, the bench shingles):
    O_EXCL lockfile (a second refresher returns None — no
    clobber window), one-time plain-dir -> symlink-versioned layout
    migration, ``refresh_fn(current_index_df) -> refreshed_df``
    computed and written to a NEW version directory, guard-marker
    content re-checked AFTER the write (a racer that advanced the
    epoch mid-compute aborts this refresh loudly, debris removed),
    POSIX-atomic symlink repoint, retention-1 GC of older versions.
    Returns the refreshed DataFrame read back from the swapped path,
    or None on a lost race."""
    import shutil as _shutil

    lock = idx_path + ".lock"
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
        os.close(fd)
    except FileExistsError:
        return None  # another refresher holds the artifact
    try:
        guard0 = None
        if guard_marker is not None and os.path.exists(guard_marker):
            with open(guard_marker) as fh:
                guard0 = fh.read()
        # One-time layout migration: a plain directory becomes
        # version v0 behind the symlink.  (Do this at seed time in
        # new deployments — the migration itself has a brief window.)
        if os.path.isdir(idx_path) and not os.path.islink(idx_path):
            v0 = idx_path + ".v-genesis"
            os.rename(idx_path, v0)
            tmp = idx_path + ".swp-genesis"
            os.symlink(v0, tmp)
            os.rename(tmp, idx_path)
        refreshed = refresh_fn(spark.read.parquet(idx_path))
        prev_target = os.path.realpath(idx_path)
        nxt = idx_path + f".v-{uuid.uuid4().hex[:8]}"
        refreshed.write.parquet(nxt)
        if guard_marker is not None:
            guard1 = None
            if os.path.exists(guard_marker):
                with open(guard_marker) as fh:
                    guard1 = fh.read()
            if guard1 != guard0:
                _shutil.rmtree(nxt, ignore_errors=True)
                return None  # epoch advanced under us — abort loudly
        tmp = idx_path + f".swp-{uuid.uuid4().hex[:8]}"
        os.symlink(nxt, tmp)
        os.rename(tmp, idx_path)  # POSIX-atomic symlink repoint
        # retention 1: keep the version readers may still be
        # scanning; GC everything older
        keep = {os.path.realpath(nxt), prev_target}
        base = os.path.basename(idx_path)
        parent = os.path.dirname(idx_path) or "."
        for e in os.scandir(parent):
            if (
                e.name.startswith(base + ".v")
                and os.path.realpath(e.path) not in keep
            ):
                _shutil.rmtree(e.path, ignore_errors=True)
        return spark.read.parquet(idx_path)
    finally:
        try:
            os.remove(lock)
        except OSError:
            pass


class _Cache(NamedTuple):
    """Identity of one marker-cached artifact: it lives in
    ``cache_root(base, sf_dir)`` and its ``_built`` marker records the
    ``name`` fixture's fingerprint plus ``params``.  A change to any of
    the three strings rebuilds (or orphans) every existing copy."""

    base: str
    name: str
    params: str


def _cached(cache: _Cache, sf_dir: str, build) -> str:
    """``build_once`` for a ``_Cache`` identity; returns the root."""
    return build_once(
        cache_root(cache.base, sf_dir),
        sf_dir,
        build,
        name=cache.name,
        params=cache.params,
    )


def _seeded_refresh_build(
    spark,
    sf_dir: str,
    cache: _Cache,
    idx_name: str,
    seed_fn,
    refresh_fn,
):
    """The ONE marker-guarded genesis bootstrap every graded refresh
    query runs (factored from its four hand-rolled copies, r12
    review): seed the symlink-versioned layout (``seed_fn(v0_path)``
    writes or copies the genesis version), create a REAL guard epoch
    file so the guarded swap is exercised non-vacuously, run ONE
    incremental refresh (``refresh_fn(idx_path, guard_path)``),
    RAISE on a lost race — an assert would vanish under python -O and
    the marker would cache a pre-refresh artifact forever — and
    only then mark the artifact built.  Returns the live idx path."""
    idx_p = os.path.join(cache_root(cache.base, sf_dir), idx_name)

    def build(root):
        v0 = idx_p + ".v-genesis"
        seed_fn(v0)
        os.symlink(v0, idx_p)
        guard = os.path.join(root, "_guard")
        with open(guard, "w") as fh:
            fh.write(f"epoch-0:{cache.params}")
        if refresh_fn(idx_p, guard) is None:
            raise RuntimeError(
                "guarded-swap refresh lost its race in a graded build"
            )

    _cached(cache, sf_dir, build)
    return idx_p


def refresh_exact_index(
    spark,
    idx_path: str,
    delta_docs,
    removed_ids,
    guard_marker: str | None = None,
):
    """Incremental refresh of the exact-dedup index (the
    refresh_band_index contract applied to content hashes, VERDICT
    r11 task 4) — with the FIRST-ID RE-ELECTION subtlety: the serving
    shape is (h -> first_id = min doc_id), but a (h, first_id) table
    cannot express 'the min was deleted, promote the next-smallest
    survivor' without re-reading the corpus.  So the REFRESHABLE
    artifact is the full POSTING list (h, doc_id) — the same layout
    the band index already uses — and first_id is derived at
    serve/read time by a min-per-group over the postings; deletion of
    a group's leader then re-elects automatically from the surviving
    rows.  Refresh = tombstone removed_ids out of the postings
    (left-anti) + append the delta's (md5(text), doc_id) rows, at
    O(|delta| + |index rows|); corpus text never re-read.  Same
    guarded atomic swap.  Returns the refreshed posting DataFrame or
    None on a lost race."""

    def _refresh(cur):
        kept = cur.select("h", "doc_id").join(
            removed_ids, "doc_id", "left_anti"
        )
        delta_rows = (
            delta_docs.select("doc_id", "text")
            .join(removed_ids, "doc_id", "left_anti")
            .select(F.md5("text").alias("h"), "doc_id")
        )
        return kept.unionByName(delta_rows)

    return _guarded_index_swap(spark, idx_path, _refresh, guard_marker)


def refresh_nb_model(
    spark,
    idx_path: str,
    delta_docs,
    guard_marker: str | None = None,
):
    """Guarded-swap RETRAIN of the NB quality model (VERDICT r11 task
    5 — the operator a drift alert from streaming_embedding_drift /
    streaming_quality_monitor triggers): the refreshable artifact is
    the model's ADDITIVE sufficient statistics (per-bucket (pc, nc)
    feature-class counts + the bkt = -1 doc-count row, text._nb_counts)
    rather than the derived lambdas — counts over doc-disjoint splits
    SUM to the counts over the union, so merging the delta's count
    table into the persisted one yields a model BIT-IDENTICAL to a
    full retrain (log of identical integers) at O(|delta| +
    NB_BUCKETS) cost: the historical corpus is never re-read, never
    re-tokenized.  Same _guarded_index_swap contract as the band and
    hash indexes: O_EXCL lock, guard re-check after the write, atomic
    symlink repoint, lost race returns None."""
    from .text import _nb_counts

    def _refresh(cur):
        delta_c = _nb_counts(delta_docs.select("doc_id", "text"))
        return (
            cur.unionByName(delta_c)
            .groupBy("bkt")
            .agg(F.sum("pc").alias("pc"), F.sum("nc").alias("nc"))
        )

    return _guarded_index_swap(spark, idx_path, _refresh, guard_marker)


from .text import _CALIB_SQL as _TX_CALIB_SQL  # noqa: E402


@query(
    "text_nb_model_refresh",
    _TX_CALIB_SQL,
    doc="NB model REFRESH lifecycle, graded end-to-end (VERDICT r11 "
    "task 5): train the quality classifier's sufficient statistics on "
    "the ':ndlive' base 80% only, persist them behind the versioned "
    "symlink, then run ONE guarded-swap refresh merging the delta "
    "20%'s counts (refresh_nb_model: O(|delta| + NB_BUCKETS), the "
    "base corpus never re-read — NB counts are additive, so the "
    "merged statistics are integer-identical to full-retrain "
    "statistics and the derived model is BIT-identical).  The graded "
    "rows are the full CALIBRATION table (the text_classifier_"
    "calibration ladder — precision/recall/F1/accuracy at 9 operating "
    "points) computed by scoring the whole corpus under the model "
    "derived FROM THE SWAPPED FILES, and must hash-equal the "
    "trained-once calibration oracle — the 'refreshed model == full "
    "retrain' proof, re-graded through the downstream artifact a "
    "data team actually consumes.  At 100 TB: a drift alert triggers "
    "a count-merge over the day's arrivals plus a 1025-row table "
    "rewrite, not a corpus re-tokenization — the difference between "
    "a minutes-long nightly job and an impossible one.  Swap "
    "semantics (lost race returns None, no debris) pinned by the "
    "shared-skeleton race tests.",
)
def text_nb_model_refresh(spark, sf_dir):
    from .text import (
        NB_BUCKETS,
        _calibration_from_scored,
        _nb_counts,
        _nb_feature_stream,
        _nb_model_from_counts,
        _nb_score,
    )
    from ..analytics.core import spread

    docs = table(spark, sf_dir, "documents")
    idx_p = _seeded_refresh_build(
        spark,
        sf_dir,
        cache=_Cache(
            "/tmp/durablestreams_nbrefresh_v1",
            "documents",
            f"nbcounts{NB_BUCKETS}:base<{_NDLIVE_CUT}{_NDLIVE_TAG}:v1",
        ),
        idx_name="counts.parquet",
        seed_fn=lambda v0: _nb_counts(
            docs.where(_base_split("doc_id", _NDLIVE_TAG))
        ).write.parquet(v0),
        refresh_fn=lambda p, guard: refresh_nb_model(
            spark,
            p,
            docs.where(~_base_split("doc_id", _NDLIVE_TAG)),
            guard_marker=guard,
        ),
    )
    llr, prior = _nb_model_from_counts(spark.read.parquet(idx_p))
    _, f = _nb_feature_stream(spread(table(spark, sf_dir, "documents")))
    scored = _nb_score(f, llr, prior)
    return _calibration_from_scored(
        scored.select("doc_id", "gopher_keep", "nb_logit")
    )


#: Deterministic "deleted docs" subset for the graded refresh run —
#: exercises the tombstone path on a fixture that never deletes.
NEARDUP_REFRESH_REMOVE_MOD = 97


@query(
    "dedup_neardup_index_refresh",
    f"""
    WITH docs_live AS (
        SELECT * FROM documents
        WHERE doc_id % {NEARDUP_REFRESH_REMOVE_MOD} <> 0
    ),
    {_SIMHASH_CTES.replace("FROM documents", "FROM docs_live")}
    SELECT CAST(b.b AS BIGINT) AS band_id,
           CAST((simhash // (1::BIGINT << ({_ND_BITS} * b.b)))
                % {1 << _ND_BITS} AS BIGINT) AS band_key,
           doc_id, simhash
    FROM sig, (SELECT UNNEST(generate_series(0, {_ND_BANDS - 1})) AS b) b
    """,
    doc="Near-dup index MAINTENANCE lifecycle, graded end-to-end "
    "(VERDICT r10 task 4): start from the persisted BASE-split band "
    "index (the ':ndlive' 80% artifact), then run ONE incremental "
    "refresh — append the delta 20%'s signatures, tombstone a "
    f"deterministic 'deleted' subset (doc_id % "
    f"{NEARDUP_REFRESH_REMOVE_MOD} = 0) — through the guarded-swap "
    "refresh operator (refresh_band_index: O(|delta| + |index|), "
    "the historical corpus text never re-read; swap aborts if a "
    "racing refresher already advanced the guard marker, the "
    "maintenance.compact contract).  The graded rows are the "
    "refreshed artifact read back FROM THE SWAPPED FILES and must "
    "hash-equal a FULL REBUILD over (corpus minus removed) — the "
    "'base UNION delta index == full rebuild' proof; any dropped "
    "tombstone, missed append, or double-append is a hash mismatch.  "
    "At 100 TB: refresh cost tracks the day's arrivals plus one "
    "index-sized anti-join (bucketBy(band_key) keeps it "
    "exchange-free at rest), vs a full rebuild's corpus re-signature "
    "— the difference between a nightly job and an impossible one.",
)
def dedup_neardup_index_refresh(spark, sf_dir):
    return _graded_refresh(
        SIMHASH_FAMILY, spark, sf_dir, NEARDUP_REFRESH_REMOVE_MOD
    )


#: Exact-refresh derived corpus: every doc_id % COPY_MOD == 0 doc gets
#: an identical-text copy at +COPY_OFFSET, planting multi-member exact
#: content groups (the driver fixture has NONE at sf <= 0.01, so
#: re-election would otherwise be vacuous).  Removal hits doc_id %
#: REMOVE_MOD == 0 — every removed doc is its group's MIN (originals
#: sort below copies) with a surviving copy (COPY_OFFSET % 10 = 6, so
#: copies never match the removal predicate): every tombstone forces a
#: first_id re-election.
EXACT_REFRESH_COPY_MOD = 5
EXACT_REFRESH_REMOVE_MOD = 10
EXACT_REFRESH_COPY_OFFSET = 1 << 40


def _exact_refresh_derived(spark, sf_dir):
    """(doc_id, text) of the derived exact-refresh corpus."""
    docs = table(spark, sf_dir, "documents").select("doc_id", "text")
    copies = docs.where(
        F.col("doc_id") % EXACT_REFRESH_COPY_MOD == 0
    ).select(
        (F.col("doc_id") + F.lit(EXACT_REFRESH_COPY_OFFSET)).alias(
            "doc_id"
        ),
        "text",
    )
    return docs.unionByName(copies)


@query(
    "dedup_exact_index_refresh",
    f"""
    WITH derived AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + ({EXACT_REFRESH_COPY_OFFSET}::BIGINT) AS doc_id,
               text
        FROM documents WHERE doc_id % {EXACT_REFRESH_COPY_MOD} = 0
    ),
    live AS (
        SELECT * FROM derived
        WHERE doc_id % {EXACT_REFRESH_REMOVE_MOD} <> 0
    )
    SELECT md5(text) AS h, min(doc_id) AS first_id
    FROM live GROUP BY 1
    """,
    doc="Exact-dedup index MAINTENANCE lifecycle with FIRST-ID "
    "RE-ELECTION, graded end-to-end (VERDICT r11 task 4): the serving "
    "view is (content md5 -> first_id = min doc_id), but a min-only "
    "table cannot express 'the leader was deleted, promote the "
    "next-smallest survivor' without re-reading the corpus — so the "
    "refreshable artifact is the full POSTING list (h, doc_id), the "
    "band index's layout, and first_id derives at read time.  The "
    "graded run: plant an identical-text copy at +2^40 for every "
    f"doc_id % {EXACT_REFRESH_COPY_MOD} == 0 doc (multi-member exact "
    "groups — the fixture has none), build the ':ndlive' base-split "
    "posting index, then ONE guarded-swap refresh appending the delta "
    f"split and tombstoning doc_id % {EXACT_REFRESH_REMOVE_MOD} == 0 "
    "— every removed doc is its group's MIN with a surviving copy, so "
    "EVERY tombstone forces a re-election a naive (h, first_id) "
    "append could not express.  Graded rows are the min-per-group "
    "over the swapped artifact's files and must hash-equal a full "
    "rebuild over (derived corpus minus removed).  O(|delta| + "
    "|index|): corpus text never re-read (pinned by the "
    "delete-the-corpus test), postings bucketBy(h) at rest at 100 TB "
    "so tombstone anti-join and serve-time min are exchange-free.",
)
def dedup_exact_index_refresh(spark, sf_dir):
    derived = _exact_refresh_derived(spark, sf_dir)
    idx_p = _seeded_refresh_build(
        spark,
        sf_dir,
        cache=_Cache(
            "/tmp/durablestreams_exrefresh_v1",
            "documents",
            f"md5:postings:copy{EXACT_REFRESH_COPY_MOD}"
            f"@{EXACT_REFRESH_COPY_OFFSET}:rm{EXACT_REFRESH_REMOVE_MOD}"
            f":base<{_NDLIVE_CUT}{_NDLIVE_TAG}:v1",
        ),
        idx_name="postings.parquet",
        seed_fn=lambda v0: derived.where(_base_split("doc_id", _NDLIVE_TAG))
        .select(F.md5("text").alias("h"), "doc_id")
        .write.parquet(v0),
        refresh_fn=lambda p, guard: refresh_exact_index(
            spark,
            p,
            derived.where(~_base_split("doc_id", _NDLIVE_TAG)).select(
                "doc_id", "text"
            ),
            derived.where(
                F.col("doc_id") % EXACT_REFRESH_REMOVE_MOD == 0
            ).select("doc_id"),
            guard_marker=guard,
        ),
    )
    return (
        spark.read.parquet(idx_p)
        .groupBy("h")
        .agg(F.min("doc_id").alias("first_id"))
    )


def _delta_replay_stream(
    spark,
    run_dir: str,
    delta_docs,
    cols: tuple = ("doc_id", "text"),
    schema: str = "doc_id long, text string",
    rewrite: bool = True,
):
    """Replay harness shared by the live new-vs-new detectors: slice
    ``delta_docs`` (keyed by ``cols[0]``) into _NDLIVE_FILES parquet
    files and return a maxFilesPerTrigger=1 stream over them, so
    availableNow yields a genuinely multi-batch run.  Production
    replaces this with the firehose itself — the sliced re-write is
    test scaffolding, not part of the operator.  ``rewrite=False``
    re-opens a stream over an ALREADY-written delta dir without
    touching the files — required when resuming from a checkpoint,
    because the file-source log tracks processed files by PATH and a
    rewrite (fresh part-file uuids) would replay everything."""
    delta_dir = os.path.join(run_dir, "delta")
    if rewrite:
        (
            delta_docs.select(*cols)
            .repartition(_NDLIVE_FILES, cols[0])
            .write.mode("overwrite")
            .parquet(delta_dir)
        )
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(delta_dir)
    )


def _await_and_audit(
    stream, batch_fn, run_dir: str, audit: dict, app_path: str
):
    """The one foreachBatch drain of the live topologies: run
    ``batch_fn`` over ``stream`` with availableNow, checkpointed at
    ``run_dir``/ckpt (re-invoking on the same run_dir resumes), and
    record the audit facts the statelessness tests pin: batch count,
    streaming state operators (must be []), and the run-local index
    appends under ``app_path`` (epoch subdirs, counted recursively)."""
    q = (
        stream.writeStream.foreachBatch(batch_fn)
        .option("checkpointLocation", os.path.join(run_dir, "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    _await_drain(q, "live-gate drain")
    progress = [p for p in q.recentProgress if p is not None]
    appended = []
    if os.path.isdir(app_path):
        for root, _dirs, files in os.walk(app_path):
            appended += [f for f in files if f.endswith(".parquet")]
    audit.clear()
    audit.update(
        {
            "n_batches": sum(1 for p in progress if p["numInputRows"] > 0),
            "state_operators": [
                s for p in progress for s in p.get("stateOperators", [])
            ],
            "appended_files": sorted(appended),
        }
    )


_KILL_MSG = "injected mid-stream kill"


def _kill_point(run_dir: str, kill_epoch, epoch_id):
    """The kill/resume proofs' one-shot injected crash: the first
    batch with epoch_id >= kill_epoch leaves a ``_killed`` marker in
    run_dir and raises.  Batch functions call it AFTER their side-
    effect writes and BEFORE the commit — the worst ordering: an
    orphaned epoch dir a replay must both ignore (the before_epoch
    guard) and overwrite."""
    marker = os.path.join(run_dir, "_killed")
    if (
        kill_epoch is None
        or int(epoch_id) < int(kill_epoch)
        or os.path.exists(marker)
    ):
        return
    with open(marker, "w") as fh:
        fh.write(f"killed at epoch {int(epoch_id)}")
    raise RuntimeError(_KILL_MSG)


def _kill_and_resume(run_dir: str, audit: dict, drain):
    """Kill-and-resume proof over ``drain(kill_epoch=None)``, a
    resumable drain rooted at ``run_dir``: drain with a kill at epoch
    2, require that the kill fired and left its marker, then resume
    from the same checkpoint and drain fully.  Kill evidence comes
    straight from the CHECKPOINT (the audit dict is not populated on a
    failed drain — awaitTermination raises before it): the commit log
    holds exactly the epochs that completed before the crash, so
    ``first_run_committed`` < total proves the first attempt was
    genuinely partial.  Returns the resumed drain's result."""
    try:
        drain(kill_epoch=2)
        raise AssertionError(
            "injected kill did not fire — the resume proof is vacuous"
        )
    except AssertionError:
        raise
    except Exception as ex:  # the injected StreamingQueryException
        if _KILL_MSG not in str(ex):
            raise
    if not os.path.exists(os.path.join(run_dir, "_killed")):
        raise RuntimeError("kill marker missing after injected kill")
    commits_dir = os.path.join(run_dir, "ckpt", "commits")
    first_committed = (
        len([f for f in os.listdir(commits_dir) if not f.startswith(".")])
        if os.path.isdir(commits_dir)
        else 0
    )
    out = drain()
    audit.update({"killed": True, "first_run_committed": first_committed})
    return out


def _epoch_write(df, root: str, epoch_id):
    """Idempotent per-batch side-effect write: each micro-batch OWNS
    one subdirectory keyed by its epoch id and writes it in OVERWRITE
    mode, so a RETRIED batch (Spark's at-least-once foreachBatch
    semantics) rewrites its own output instead of double-appending —
    the standard exactly-once discipline for file side effects."""
    df.write.mode("overwrite").parquet(
        os.path.join(root, f"e{int(epoch_id):06d}")
    )


def _epoch_read(spark, root: str, before_epoch=None):
    """Read the union of epoch subdirs under ``root``; with
    ``before_epoch`` only epochs strictly earlier are read — a
    retried batch must not join against its OWN failed attempt's
    partial output.  Returns None when nothing is readable."""
    if not os.path.isdir(root):
        return None
    paths = sorted(
        os.path.join(root, d)
        for d in os.listdir(root)
        if d.startswith("e")
        and (before_epoch is None or int(d[1:]) < int(before_epoch))
    )
    if not paths:
        return None
    return spark.read.parquet(*paths)


def _finish_run(spark, out_root: str, schema: str):
    """Materialize a live run's output OFF its run directory
    (localCheckpoint cuts the lineage to the files), so the caller's
    run dir can be removed — the delta replay re-write plus per-batch
    appends otherwise leak multi-GB temp trees on every invocation."""
    out = _epoch_read(spark, out_root)
    if out is None:
        return spark.createDataFrame([], schema)
    return out.localCheckpoint(eager=True)


def _ndlive_run(spark, base_idx_path: str, delta_docs):
    """The live new-vs-new near-dup topology, shared by the graded
    query and the synthetic-corpus tests: replay ``delta_docs``
    (doc_id, text) as a ``_NDLIVE_FILES``-file stream and run the
    foreachBatch detect-then-append loop against the base index at
    ``base_idx_path``.  Returns the drained pair DataFrame
    (doc_id, dup_of, hamming) — batching-independent by construction
    (see streaming_dedup_neardup_live's doc).  Populates
    _NDLIVE_LAST_RUN for the audit test."""
    fam = SIMHASH_FAMILY
    with tempfile.TemporaryDirectory(
        prefix="ds_ndlive_", ignore_cleanup_errors=True
    ) as run_dir:
        app_path = os.path.join(run_dir, "appended")
        out_path = os.path.join(run_dir, "pairs")

        def _detect(batch_df, epoch_id):
            sess = batch_df.sparkSession
            # materialized ONCE: the index join, the self-join and the
            # index append all consume it
            bands = _doc_bands(fam, batch_df).localCheckpoint(eager=True)
            idx = sess.read.parquet(base_idx_path)
            prior = _epoch_read(sess, app_path, before_epoch=epoch_id)
            if prior is not None:
                idx = idx.unionByName(prior)
            _epoch_write(
                _batch_matches(fam, bands, idx).select(
                    "doc_id", F.col("o_doc_id").alias("dup_of"), "hamming"
                ),
                out_path,
                epoch_id,
            )
            # Incremental index append (the similarity_ivf_upsert
            # assignment-only pattern): this batch's signatures become
            # servable for every LATER batch.  O(batch) rows, run-local.
            _epoch_write(bands, app_path, epoch_id)

        stream = _delta_replay_stream(spark, run_dir, delta_docs)
        _await_and_audit(
            stream, _detect, run_dir, _NDLIVE_LAST_RUN, app_path
        )
        return _finish_run(
            spark, out_path, "doc_id long, dup_of long, hamming long"
        )


@query(
    "streaming_dedup_neardup_live",
    f"""
    WITH {_SIMHASH_CTES},
    bands AS (
        SELECT doc_id, simhash, b.b AS band_id,
               (simhash // (1::BIGINT << ({_ND_BITS} * b.b)))
                   % {1 << _ND_BITS} AS band_key
        FROM sig, (SELECT UNNEST(generate_series(0, {_ND_BANDS - 1})) AS b) b
    ),
    split AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR) || '{_NDLIVE_TAG}'), 1, 2)
                   < '{_NDLIVE_CUT}' AS is_base
        FROM documents
    )
    SELECT DISTINCT s.doc_id AS doc_id, c.doc_id AS dup_of,
           CAST(bit_count(xor(s.simhash, c.simhash)) AS BIGINT) AS hamming
    FROM bands s
    JOIN bands c ON s.band_id = c.band_id AND s.band_key = c.band_key
               AND c.doc_id < s.doc_id
    JOIN split s1 ON s1.doc_id = s.doc_id
    JOIN split s2 ON s2.doc_id = c.doc_id
    WHERE bit_count(xor(s.simhash, c.simhash)) <= {_ND_HAM}
      AND NOT (s1.is_base AND s2.is_base)
    """,
    doc="LIVE new-vs-new near-dup detection — closes the r10 blind "
    "spot (VERDICT r10 top task): streaming_dedup_neardup joins only "
    "the index built BEFORE the stream started, so two near-dup "
    "documents both arriving after the build — the common case on a "
    "live firehose — were never compared.  This operator splits the "
    "corpus into a 'historical' base 80% (md5 ':ndlive' tag — the "
    "ivf_upsert convention) whose banded SimHash index is the "
    "persisted artifact, replays the remaining 20% as a genuinely "
    "multi-batch stream (maxFilesPerTrigger=1 over 4 slices), and "
    "per micro-batch runs THREE stateless steps in foreachBatch: "
    "(1) batch-signatures vs (base INDEX + all prior batches' "
    "appends) equi-join on band keys — catches new-vs-historical AND "
    "new-vs-earlier-batch pairs; (2) an intra-batch band SELF-join — "
    "catches pairs both arriving in the SAME batch, bounded batch x "
    "batch with no watermark or state store; (3) append this batch's "
    "signatures to the index (the similarity_ivf_upsert "
    "assignment-only pattern) so they serve every later batch.  "
    "Every pair is emitted EXACTLY once regardless of how the stream "
    "is batched — same-batch pairs only in the self-join, cross-batch "
    "pairs only at the later member's arrival (the index never "
    "contains the current batch), multi-band agreements collapsed by "
    "the row-local smallest-agreeing-band predicate — so the drained "
    "sink equals the batch oracle over base UNION delta (minus "
    "base-base pairs, which the historical index already covers) "
    "pair-for-pair, hash-gated.  Pairs normalized to doc_id > dup_of "
    "since a smaller-id doc can arrive later.  At 100 TB: detection "
    "is scan throughput + one bounded self-join per batch; the index "
    "grows O(arrivals) and is bucketBy(band_key) at rest; pigeonhole "
    "keeps the band join exact at hamming <= 3.  Reference "
    "capability: none — north star (deployable ingest gate).",
)
def streaming_dedup_neardup_live(spark, sf_dir):
    base_idx = _band_index_path(SIMHASH_FAMILY, spark, sf_dir, base=True)
    delta = table(spark, sf_dir, "documents").where(
        ~_base_split("doc_id", _NDLIVE_TAG)
    )
    return _ndlive_run(spark, base_idx, delta)


#: Embedding-modality base/delta split tag for the live gate (the
#: ':ndlive' convention on vec_id — twins split independently of their
#: originals, so base-base, base-delta, and delta-delta twin pairs all
#: occur).
_EMBLIVE_TAG = ":emblive"

#: Audit facts of the last streaming_embedding_dedup_live run.
_EMBLIVE_LAST_RUN: dict = {}

from .dedup import (  # noqa: E402
    COSINE_TIGHT_THRESHOLD as _CT_THETA,
    _tight_bands_sql as _ct_bands_sql,
)


def _emb_tight_base_paths(spark, sf_dir) -> tuple[str, str]:
    """Persisted BASE-split artifacts of the live embedding gate, the
    FAISS id-map/storage split: (1) the SRP band posting list
    (band_id, band_key, vec_id) — 16 small rows per vector, what the
    candidate equi-join scans; (2) the vector store (vec_id, emb,
    norm) — ONE embedding copy per vector, what the exact-cosine
    verify joins.  Keeping the 64-double payload out of the 16x
    posting fan-out is what makes the index affordable at 100 TB.
    Returns (bands_path, vecs_path); foreachBatch re-reads both per
    micro-batch alongside its run-local appends."""
    from .dedup import (
        COSINE_TIGHT_BAND_BITS,
        COSINE_TIGHT_BANDS,
        COSINE_TIGHT_MOD,
        _tight_band_rows,
        _tight_corpus,
    )


    def build(root):
        vecs_p = os.path.join(root, "vecs.parquet")
        base = _tight_corpus(spark, sf_dir, COSINE_TIGHT_MOD).where(
            _base_split("vec_id", _EMBLIVE_TAG)
        )
        base.write.mode("overwrite").parquet(vecs_p)
        # Signatures derive from the PERSISTED vectors (one corpus
        # pass lands both artifacts consistent by construction).
        _tight_band_rows(spark.read.parquet(vecs_p)).write.mode(
            "overwrite"
        ).parquet(os.path.join(root, "bands.parquet"))

    root = build_once(
        cache_root("/tmp/durablestreams_emblive_v1", sf_dir),
        sf_dir,
        build,
        name="embeddings",
        params=(
            f"srp{COSINE_TIGHT_BANDS}x{COSINE_TIGHT_BAND_BITS}"
            f":mod{COSINE_TIGHT_MOD}:base<{_NDLIVE_CUT}{_EMBLIVE_TAG}:v1"
        ),
    )
    return os.path.join(root, "bands.parquet"), os.path.join(root, "vecs.parquet")


def _emblive_run(spark, bands_path: str, vecs_path: str, delta_vecs):
    """The live embedding near-dup topology (VERDICT r11 top task):
    per micro-batch, (1) row-local 256-plane SRP signature + 1->16
    band explode; (2) batch bands vs (base posting list + prior
    batches' appends) 16-bit-key equi-join, normalized (greatest,
    least) because a smaller-id vector can arrive later; (3) an
    intra-batch band self-join for pairs BOTH arriving in this batch;
    (4) exact-cosine verify on CANDIDATES ONLY against (base vector
    store + prior appends + this batch), snapped to the 1e-9 grid;
    (5) O(batch) append of this batch's bands and vectors so they
    serve every later batch.  No watermark, no state store, no
    all-pairs anywhere.  Returns the drained (vec_id, dup_of, cos)
    pairs; populates _EMBLIVE_LAST_RUN for the audit test."""
    from .dedup import (
        COSINE_TIGHT_THRESHOLD,
        _snap9,
        _tight_band_rows,
        _tight_verify,
    )
    from .similarity import _dot as _sim_dot

    with tempfile.TemporaryDirectory(
        prefix="ds_emblive_", ignore_cleanup_errors=True
    ) as run_dir:
        band_app = os.path.join(run_dir, "band_appended")
        vec_app = os.path.join(run_dir, "vec_appended")
        out_path = os.path.join(run_dir, "pairs")

        def _detect(batch_df, epoch_id):
            sess = batch_df.sparkSession
            bv = batch_df.select(
                "vec_id",
                "emb",
                F.sqrt(_sim_dot("emb", "emb")).alias("norm"),
            ).localCheckpoint(eager=True)
            bands = _tight_band_rows(bv).localCheckpoint(eager=True)
            idx_b = sess.read.parquet(bands_path)
            prior_b = _epoch_read(sess, band_app, before_epoch=epoch_id)
            if prior_b is not None:
                idx_b = idx_b.unionByName(prior_b)
            idx_v = sess.read.parquet(vecs_path)
            prior_v = _epoch_read(sess, vec_app, before_epoch=epoch_id)
            if prior_v is not None:
                idx_v = idx_v.unionByName(prior_v)
            # (2) batch vs index: new-vs-historical and new-vs-earlier-
            # batch candidates.  Multi-band agreements collapse via the
            # per-batch DISTINCT (bounded: candidates of ONE batch).
            other = idx_b.select(
                "band_id", "band_key", F.col("vec_id").alias("other")
            )
            c1 = (
                bands.join(other, ["band_id", "band_key"])
                .where(F.col("other") != F.col("vec_id"))
                .select(
                    F.least("vec_id", "other").alias("vec_a"),
                    F.greatest("vec_id", "other").alias("vec_b"),
                )
                .distinct()
            )
            # (3) intra-batch self-join: pairs both arriving now.  The two
            # arms are disjoint (the index never contains the current
            # batch), so no cross-arm dedup is needed.
            b2 = bands.select(
                "band_id", "band_key", F.col("vec_id").alias("other")
            )
            c2 = (
                bands.join(b2, ["band_id", "band_key"])
                .where(F.col("other") < F.col("vec_id"))
                .select(
                    F.col("other").alias("vec_a"),
                    F.col("vec_id").alias("vec_b"),
                )
                .distinct()
            )
            # (4) exact-cosine verify on candidates only — the ONE
            # _tight_verify definition the batch query grades through.
            allv = idx_v.unionByName(bv)
            scored = _tight_verify(allv, c1.unionByName(c2))
            pairs = scored.where(
                _snap9("cos") >= COSINE_TIGHT_THRESHOLD
            ).select(
                F.col("vec_b").alias("vec_id"),
                F.col("vec_a").alias("dup_of"),
                F.round("cos", 4).alias("cos"),
            )
            _epoch_write(pairs, out_path, epoch_id)
            # (5) incremental index append: bands AND vectors.
            _epoch_write(bands, band_app, epoch_id)
            _epoch_write(bv, vec_app, epoch_id)

        stream = _delta_replay_stream(
            spark,
            run_dir,
            delta_vecs,
            cols=("vec_id", "emb"),
            schema="vec_id long, emb array<double>",
        )
        _await_and_audit(
            stream, _detect, run_dir, _EMBLIVE_LAST_RUN, band_app
        )
        return _finish_run(
            spark, out_path, "vec_id long, dup_of long, cos double"
        )


@query(
    "streaming_embedding_dedup_live",
    f"""
    WITH {_ct_bands_sql()},
    split AS (
        SELECT vec_id,
               substr(md5(CAST(vec_id AS VARCHAR) || '{_EMBLIVE_TAG}'), 1, 2)
                   < '{_NDLIVE_CUT}' AS is_base
        FROM u
    )
    SELECT t.vec_b AS vec_id, t.vec_a AS dup_of,
           round(list_cosine_similarity(x.emb, y.emb), 4) AS cos
    FROM tcand t
    JOIN tsig x ON t.vec_a = x.vec_id
    JOIN tsig y ON t.vec_b = y.vec_id
    JOIN split sa ON sa.vec_id = t.vec_a
    JOIN split sb ON sb.vec_id = t.vec_b
    WHERE floor(list_cosine_similarity(x.emb, y.emb)
                * 1000000000 + 0.5) / 1000000000
          >= {_CT_THETA}
      AND NOT (sa.is_base AND sb.is_base)
    """,
    doc="LIVE embedding-space near-dup at ingest — the last modality "
    "gap in the deployable gate closed (VERDICT r11 top task): text "
    "dups were caught live (streaming_dedup_neardup_live) but two "
    "embedding-near-dup documents both arriving after the index build "
    "were never compared.  This composes the two pieces round 11 "
    "built separately — the PRODUCTION-threshold banded geometry "
    "(16 bands x 16-bit keys over 256 salted SRP planes at theta=0.8, "
    "the measured ~500x candidate prune) and the new-vs-new live "
    "topology (detect -> self-join -> append) — over the ':emblive' "
    "base/delta split of the tight-dedup corpus (1-in-4 sample plus "
    "planted twins; twins split independently of originals so "
    "base-base, base-delta, and delta-delta pairs all occur).  The "
    "persisted base artifact is TWO tables, the FAISS id-map/storage "
    "split: the band POSTING LIST (16 small rows/vector — what the "
    "equi-join scans) and the VECTOR STORE (one 64-double row/vector "
    "— what the verify joins), so the 16x posting fan-out never "
    "carries the embedding payload.  Per micro-batch foreachBatch "
    "runs five stateless steps: row-local SRP signature; batch-vs-"
    "(base+prior-appends) band equi-join normalized (greatest, "
    "least); intra-batch band self-join; exact-cosine verify on "
    "CANDIDATES ONLY against (vector store + appends + batch), "
    "snapped to the shared 1e-9 grid so engine ulps cannot flip a "
    "graded row; O(batch) append of bands AND vectors.  Every pair "
    "emits exactly once regardless of batching (same-batch pairs "
    "only via the self-join, cross-batch only at the later member's "
    "arrival; multi-band agreements collapse in the per-batch "
    "bounded DISTINCT), so the drained sink hash-equals the batch "
    "tight-dedup oracle over base UNION delta minus base-base pairs.  "
    "At 100 TB: detection is scan throughput + one bounded self-join "
    "per batch; every join is a 16-bit-key equi-join; the all-pairs "
    "plan appears nowhere.  Reference capability: none — north star "
    "(deployable multimodal ingest gate).",
)
def streaming_embedding_dedup_live(spark, sf_dir):
    from .dedup import COSINE_TIGHT_MOD, _tight_corpus

    bands_p, vecs_p = _emb_tight_base_paths(spark, sf_dir)
    delta = (
        _tight_corpus(spark, sf_dir, COSINE_TIGHT_MOD)
        .where(~_base_split("vec_id", _EMBLIVE_TAG))
        .select("vec_id", "emb")
    )
    return _emblive_run(spark, bands_p, vecs_p, delta)


#: Audit facts of the last streaming_ingest_gate_live run.
_GATE_LIVE_LAST_RUN: dict = {}
#: Audit facts of the last streaming_ingest_gate_resume run (the
#: kill-and-resume exactly-once proof), incl. the kill evidence.
_GATE_RESUME_LAST_RUN: dict = {}

from .pipeline_llm import (  # noqa: E402
    _BENCH_MOD as _GL_BENCH_MOD,
    _DUCK_SHINGLE5 as _GL_SHINGLE5,
)


from .pipeline_llm import _contam_flag_ctes  # noqa: E402,F401


from .multimodal import (  # noqa: E402
    AUDIO_BANDS as _AU_BANDS,
    AUDIO_HAM as _AU_HAM,
    AUDIO_MOD as _AU_MOD,
    AUDIO_OFF as _AU_OFF,
    PHASH_BANDS as _PX_BANDS,
    PHASH_HAM as _PX_HAM,
    _audio_params,
    _pixel_params,
    audio_fp_keys_for as _audio_fp_keys_for,
    audio_keys_sql as _audio_keys_sql,
    gate_auflag_sql as _gate_auflag_sql,
    gate_phash_keys as _gate_phash_keys,
    gate_phash_sql as _gate_phash_sql,
    gate_pxflag_sql as _gate_pxflag_sql,
)


#: ONE oracle for the fused live gate and its kill-and-resume twin:
#: the batch composition of the shared signal definitions over the
#: full corpus, restricted to ':ndlive' delta rows.  A resumed run
#: must hash-equal the SAME truth as an uninterrupted one.
_GATE_LIVE_SQL = f"""
    WITH {_NB_SCORED_CTES},
    {_SIMHASH_CTES.strip().rstrip()},
    nbands AS (
        SELECT doc_id, simhash, b.b AS band_id,
               (simhash // (1::BIGINT << ({_ND_BITS} * b.b)))
                   % {1 << _ND_BITS} AS band_key
        FROM sig, (SELECT UNNEST(generate_series(0, {_ND_BANDS - 1})) AS b) b
    ),
    ndflag AS (
        SELECT DISTINCT a.doc_id
        FROM nbands a
        JOIN nbands p ON a.band_id = p.band_id
                     AND a.band_key = p.band_key
                     AND p.doc_id < a.doc_id
        WHERE bit_count(xor(a.simhash, p.simhash)) <= {_ND_HAM}
    ),
    {_contam_flag_ctes()},
    {_gate_pxflag_sql("g")},
    {_gate_auflag_sql("au")},
    split AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR) || '{_NDLIVE_TAG}'), 1, 2)
                   < '{_NDLIVE_CUT}' AS is_base
        FROM documents
    ),
    hmin AS (SELECT md5(text) AS h, min(doc_id) AS first_id
             FROM documents GROUP BY 1),
    j AS (
        SELECT d.doc_id, (x.first_id < d.doc_id) AS exact_dup,
               (f.doc_id IS NOT NULL) AS near_dup,
               (pf.doc_id IS NOT NULL) AS pixel_dup,
               (af.doc_id IS NOT NULL) AS audio_dup,
               (cf.doc_id IS NOT NULL) AS contaminated,
               n.gopher_keep, n.nb_logit
        FROM documents d
        JOIN hmin x ON md5(d.text) = x.h
        JOIN nbs n ON n.doc_id = d.doc_id
        LEFT JOIN ndflag f ON f.doc_id = d.doc_id
        LEFT JOIN gpxflag pf ON pf.doc_id = d.doc_id
        LEFT JOIN auflag af ON af.doc_id = d.doc_id
        LEFT JOIN cflag cf ON cf.doc_id = d.doc_id
        JOIN split s ON s.doc_id = d.doc_id
        WHERE NOT s.is_base
    )
    SELECT doc_id, exact_dup, near_dup, pixel_dup, audio_dup,
           contaminated,
           gopher_keep, nb_logit,
           (NOT exact_dup AND NOT near_dup AND NOT pixel_dup
            AND NOT audio_dup AND NOT contaminated
            AND gopher_keep AND nb_logit > 0) AS keep
    FROM j
    """


#: Deterministic "deleted docs" subset for the graded pixel-refresh
#: run — exercises the tombstone path on a fixture that never deletes
#: (a different modulus than the near-dup refresh, so the two graded
#: artifacts never share a removal set by accident).
PIXEL_REFRESH_REMOVE_MOD = 89

#: Deterministic "deleted docs" subset for the graded audio-refresh
#: run (a third distinct modulus, so no graded artifact shares a
#: removal set with another by accident).
AUDIO_REFRESH_REMOVE_MOD = 83


# ---------------------------------------------------------------------------
# The banded near-dup index family.  SimHash text signatures, gate-image
# dHash keys and audio fingerprints run ONE protocol: band rows ->
# equi-join on (band_id, band_key) -> ordered-pair filter -> verify
# sum(bit_count(k ^ o_k)) <= h over the carried keys -> flag the larger
# member (candidates by partition key, then exact verify).  Each step
# below is defined once; a family is only the data that differs.
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class BandedFamily:
    """What one near-dup family is, as data (never set by a user).

    - ``kind``: the family's tag — the fused gate kinds
      ``{kind}_flag`` / ``{kind}_app`` and the annotation column.
    - ``keys``: docs frame -> signature key rows.
    - ``ids``: SQL projection of the key rows' ids; every band row
      carries ``doc_id`` (audio derives it from ``media_id`` and
      carries ``media_id`` too).
    - ``key_cols`` / ``bands``: the key columns, and
      ``bands(*key_cols)`` -> one band-key column per band (slices of
      one key, or one key per band).
    - ``max_ham``: the verify bound (< the band count, so the band
      join is exact by pigeonhole).
    - ``index_cols``: the persisted band index's column order.
    - ``base`` / ``refresh`` / ``flag``: the cache identities of the
      ':ndlive' base index, the graded refresh and the flag index.
    - ``full``: the cache identity of the whole-corpus index, where the
      family serves one (SimHash: streaming_dedup_neardup)."""

    kind: str
    keys: Callable
    ids: tuple
    key_cols: tuple
    bands: Callable
    max_ham: int
    index_cols: tuple
    base: _Cache
    refresh: _Cache
    flag: _Cache
    full: _Cache | None


def _simhash_keys(docs):
    """(doc_id, simhash) of the docs with at least one token — the
    batch dedup_simhash aggregate emits no row for a token-less doc."""
    from .dedup import simhash_expr

    return docs.where(
        F.expr("size(filter(split(text, '\\\\s+'), t -> t != '')) > 0")
    ).select("doc_id", simhash_expr().alias("simhash"))


def _audio_keys(docs):
    """(media_id, k0..k3) of every planted recording of the sampled
    docs (doc_id % AUDIO_MOD == 0)."""
    return _audio_fp_keys_for(docs.where(F.col("doc_id") % _AU_MOD == 0))


def _one_key_per_band(*key_cols):
    return [F.col(k) for k in key_cols]


_BASE_TAG = f"base<{_NDLIVE_CUT}{_NDLIVE_TAG}"

SIMHASH_FAMILY = BandedFamily(
    kind="nd",
    keys=_simhash_keys,
    ids=("doc_id",),
    key_cols=("simhash",),
    bands=_band_key_exprs,
    max_ham=_ND_HAM,
    index_cols=("band_id", "band_key", "doc_id", "simhash"),
    base=_Cache(
        "/tmp/durablestreams_ndlive_base_v1",
        "documents",
        f"simhash32:{_BASE_TAG}:v1",
    ),
    refresh=_Cache(
        "/tmp/durablestreams_ndrefresh_v1",
        "documents",
        f"simhash32:{_BASE_TAG}:rm{NEARDUP_REFRESH_REMOVE_MOD}:v1",
    ),
    flag=_Cache(
        "/tmp/durablestreams_ndflag_v1",
        "documents",
        f"simhash32:flag:ham{_ND_HAM}:v1",
    ),
    full=_Cache(
        "/tmp/durablestreams_neardup_v1",
        "documents",
        f"simhash32:bands{_ND_BANDS}x{_ND_BITS}:v1",
    ),
)

_PX_KEYS = tuple(f"k{b}" for b in range(_PX_BANDS))
PIXEL_FAMILY = BandedFamily(
    kind="px",
    keys=_gate_phash_keys,
    ids=("doc_id",),
    key_cols=_PX_KEYS,
    bands=_one_key_per_band,
    max_ham=_PX_HAM,
    index_cols=("doc_id", *_PX_KEYS, "band_id", "band_key"),
    base=_Cache(
        "/tmp/durablestreams_pxlive_base_v1",
        "documents",
        f"dhash64:{_BASE_TAG}:{_pixel_params()}:v1",
    ),
    refresh=_Cache(
        "/tmp/durablestreams_pxrefresh_v1",
        "documents",
        f"dhash64:{_BASE_TAG}:{_pixel_params()}"
        f":rm{PIXEL_REFRESH_REMOVE_MOD}:v1",
    ),
    flag=_Cache(
        "/tmp/durablestreams_pxflag_v1",
        "documents",
        f"dhash64:flag:{_pixel_params()}:v1",
    ),
    full=None,
)

_AU_KEYS = tuple(f"k{b}" for b in range(_AU_BANDS))
AUDIO_FAMILY = BandedFamily(
    kind="au",
    keys=_audio_keys,
    ids=(f"media_id % {_AU_OFF} AS doc_id", "media_id"),
    key_cols=_AU_KEYS,
    bands=_one_key_per_band,
    max_ham=_AU_HAM,
    index_cols=("doc_id", "media_id", *_AU_KEYS, "band_id", "band_key"),
    base=_Cache(
        "/tmp/durablestreams_aulive_base_v1",
        "documents",
        f"audiofp64:{_BASE_TAG}:{_audio_params()}:v1",
    ),
    refresh=_Cache(
        "/tmp/durablestreams_aurefresh_v1",
        "documents",
        f"audiofp64:{_BASE_TAG}:{_audio_params()}"
        f":rm{AUDIO_REFRESH_REMOVE_MOD}:v1",
    ),
    flag=_Cache(
        "/tmp/durablestreams_auflag_v1",
        "documents",
        f"audiofp64:flag:{_audio_params()}:v1",
    ),
    full=None,
)

#: Every banded family, in admission-ladder order.
BANDED_FAMILIES = (SIMHASH_FAMILY, PIXEL_FAMILY, AUDIO_FAMILY)

#: The admission ladder, in rejection order: each flag's kind (the
#: live gate's fused ``{kind}_flag`` rows; a banded family's ``kind``)
#: -> its decision column.  A document is rejected at its first set
#: flag, then by the Gopher gate, then by the NB logit; keep rule,
#: reason counts and decision schemas all derive from this table.
_LADDER = {
    "exact": "exact_dup",
    "nd": "near_dup",
    "px": "pixel_dup",
    "au": "audio_dup",
    "c": "contaminated",
}
#: A decision's signal columns: the ladder flags, then the row-local
#: Gopher verdict and NB logit.
_SIGNALS = (*_LADDER.values(), "gopher_keep", "nb_logit")
_SIGNALS_DDL = ", ".join(
    [f"{c} boolean" for c in _LADDER.values()]
    + ["gopher_keep boolean", "nb_logit double"]
)


def _and(conds):
    return functools.reduce(lambda a, b: a & b, conds)


def _ladder_steps(kinds):
    """(reason count column, reject, pass) per rung of the ladder over
    the flag ``kinds``: each flag, then Gopher, then the NB logit."""
    g, logit = F.col("gopher_keep"), F.col("nb_logit")
    cols = [_LADDER[k] for k in kinds]
    return [(f"n_{c}", F.col(c), ~F.col(c)) for c in cols] + [
        ("n_gopher_fail", ~g, g),
        ("n_nb_fail", logit <= 0, logit > 0),
    ]


def _ladder_keep(kinds):
    """The keep rule: no flag of ``kinds`` set, Gopher keeps, NB > 0."""
    return _and([ok for _, _, ok in _ladder_steps(kinds)])


def _count_if(cond):
    return F.sum(cond.cast("long")).cast("long")


def _ladder_reasons():
    """First-failing-reason counts over the whole ladder: a row counts
    under the first rung it fails, so these and the count of kept rows
    partition the rows."""
    cols, passed = [], []
    for name, reject, ok in _ladder_steps(_LADDER):
        cols.append(_count_if(_and([*passed, reject])).alias(name))
        passed.append(ok)
    return cols


def _band_rows(fam: BandedFamily, keys):
    """One row per (key row, band): every column of ``keys`` plus
    ``band_id`` (int) and ``band_key``.  The ids and keys ride along,
    so candidate verification is a row-local bit_count, never a second
    lookup."""
    return keys.select(
        "*",
        F.posexplode(F.array(*fam.bands(*fam.key_cols))).alias(
            "band_id", "band_key"
        ),
    )


def _doc_bands(fam: BandedFamily, docs):
    """Band rows of a docs frame: the family's keys, projected to its
    ids and key columns."""
    keys = fam.keys(docs).select(*[F.expr(e) for e in fam.ids], *fam.key_cols)
    return _band_rows(fam, keys)


def _other_rows(bands):
    """The candidate-side rename of a band-rows frame: every carried
    column c -> o_c (doc_id -> o_doc_id, k0 -> o_k0, ...), so both
    sides of a band join keep distinct names."""
    return bands.select(
        "band_id",
        "band_key",
        *[
            F.col(c).alias(f"o_{c}")
            for c in bands.columns
            if c not in ("band_id", "band_key")
        ],
    )


def _hamming(fam: BandedFamily):
    """Row-local hamming between a band-join row's two members: the sum
    of bit_count(k ^ o_k) over the key columns."""
    return functools.reduce(
        lambda a, b: a + b,
        [
            F.bit_count(F.col(k).bitwiseXOR(F.col(f"o_{k}")))
            for k in fam.key_cols
        ],
    )


def _least_agreeing_band(fam: BandedFamily):
    """Smallest band on which a band-join row's two members agree,
    recomputed row-locally from the carried keys: keep a matched pair
    only in THAT band's join row, so the multi-band fan-out dedups with
    zero stream-side state (DISTINCT-free).  Deliberately UNROLLED to a
    CASE (first match = smallest band), not an aggregate() fold: a
    higher-order-function lambda in a post-join predicate of a
    stream-static join can collide its lambda-variable exprIds with
    the static side's attributes when the micro-batch planner
    re-analyzes the plan (observed as
    INTERNAL_ERROR_ATTRIBUTE_NOT_FOUND on warm-cache sessions where
    the static read allocates low ids); CASE has no lambda scope."""
    own = fam.bands(*fam.key_cols)
    other = fam.bands(*[f"o_{k}" for k in fam.key_cols])
    case = F.when(own[0] == other[0], 0)
    for b in range(1, len(own)):
        case = case.when(own[b] == other[b], b)
    return case.otherwise(-1)


def _band_join(fam: BandedFamily, bands, cand, keep):
    """Candidates by (band_id, band_key) equi-join of ``bands`` against
    ``cand``'s renamed rows, limited to the ordered pairs ``keep``
    admits, verified by hamming <= max_ham in the pair's least
    agreeing band only — so every verified pair appears EXACTLY once.
    Pigeonhole makes the band join exact: hamming <= max_ham < the
    band count forces agreement on a whole band."""
    return bands.join(_other_rows(cand), ["band_id", "band_key"]).where(
        keep
        & (_hamming(fam) <= fam.max_ham)
        & (F.col("band_id") == _least_agreeing_band(fam))
    )


def _batch_matches(fam: BandedFamily, bands, idx):
    """ONE definition of the per-batch near-dup detection, shared by
    the pair detector (_ndlive_run) and the fused admission gate:
    (1) batch vs index — pairs whose other member is historical or
    arrived in an earlier batch, oriented so doc_id > o_doc_id (a
    smaller-id doc can arrive after a larger-id one); (2) the
    intra-batch band self-join — pairs BOTH arriving in this batch,
    bounded batch x batch, no watermark, no state store.  The arms are
    disjoint (the index never contains the current batch), so every
    pair appears exactly once; members of the same doc never pair
    (audio: variants of one recording).  Returns both members' carried
    ids (doc_id[, media_id], o_doc_id[, o_media_id]) and hamming."""
    ids = [
        c
        for c in bands.columns
        if c not in (*fam.key_cols, "band_id", "band_key")
    ]
    ham = _hamming(fam).cast("long").alias("hamming")
    swap = F.col("o_doc_id") > F.col("doc_id")
    cross = _band_join(
        fam, bands, idx, F.col("o_doc_id") != F.col("doc_id")
    ).select(
        *[
            F.when(swap, F.col(f"o_{c}")).otherwise(F.col(c)).alias(c)
            for c in ids
        ],
        *[
            F.when(swap, F.col(c)).otherwise(F.col(f"o_{c}")).alias(f"o_{c}")
            for c in ids
        ],
        ham,
    )
    within = _band_join(
        fam, bands, bands, F.col("o_doc_id") < F.col("doc_id")
    ).select(*ids, *[f"o_{c}" for c in ids], ham)
    return cross.unionByName(within)


def _band_pairs(fam: BandedFamily, keys):
    """The batch pair query over (media_id, key...) rows: every pair
    of media within max_ham — variants of one doc included, they are
    the planted near-dups — once, as (media_a < media_b, hamming)."""
    bands = _band_rows(fam, keys)
    return (
        _band_join(
            fam, bands, bands, F.col("media_id") < F.col("o_media_id")
        )
        .select(
            F.col("media_id").alias("media_a"),
            F.col("o_media_id").alias("media_b"),
            _hamming(fam).cast("long").alias("hamming"),
        )
        .orderBy("media_a", "media_b")
    )


def _band_index_path(fam: BandedFamily, spark, sf_dir, base) -> str:
    """Persisted band index — one parquet row per (band_id, band_key,
    ids, keys), the classic posting-list layout (Manku et al., WWW'07:
    one sorted table per permutation) — over the ':ndlive' BASE split
    (``base``: the 'historical corpus' the live detectors serve
    against) or over the whole corpus (``fam.full``).  The batch-built
    artifact the online scorers join against (the ANN-index / NB-model
    train-once/serve-many protocol: the corpus-wide signature pass must
    not be charged to every serve); at 100 TB it is
    bucketBy(band_key)-written so the serving join needs no index-side
    shuffle.  Returns the parquet PATH, not a DataFrame: a foreachBatch
    re-reads it per micro-batch alongside its run-local appends."""

    def build(root):
        docs = table(spark, sf_dir, "documents")
        if base:
            docs = docs.where(_base_split("doc_id", _NDLIVE_TAG))
        (
            _doc_bands(fam, docs)
            .select(*fam.index_cols)
            .write.mode("overwrite")
            .parquet(os.path.join(root, "index.parquet"))
        )

    cache = fam.base if base else fam.full
    return os.path.join(_cached(cache, sf_dir, build), "index.parquet")


def refresh_band_index(
    fam: BandedFamily,
    spark,
    idx_path: str,
    delta_docs,
    removed_ids,
    guard_marker: str | None = None,
):
    """Incremental REFRESH of a persisted band index, at cost
    O(|delta| + |index rows|): the historical corpus (text, images,
    recordings) is never re-read or re-signed — the FAISS
    add()/remove_ids() economics, pinned by the delete-the-corpus
    tests.

    - append: the band rows of ``delta_docs`` (doc_id plus whatever the
      family's keys read), minus docs ALREADY indexed — a re-run or an
      overlapping delta is idempotent, never a second set of postings.
    - tombstone: left-anti join of the index rows against
      ``removed_ids`` (doc_id; retires every variant of an audio doc at
      once); removed ids are also anti-joined out of the delta, so a
      doc that arrives and is deleted in the same window never lands.
    - the shared _guarded_index_swap: O_EXCL lock, guard re-check
      after the write, atomic symlink repoint, retention-1 GC.
    Returns the refreshed index DataFrame, or None on a lost race."""

    def _refresh(cur):
        kept = cur.join(removed_ids, "doc_id", "left_anti")
        fresh = delta_docs.join(removed_ids, "doc_id", "left_anti").join(
            cur.select("doc_id").distinct(), "doc_id", "left_anti"
        )
        return kept.select(*fam.index_cols).unionByName(
            _doc_bands(fam, fresh).select(*fam.index_cols)
        )

    return _guarded_index_swap(spark, idx_path, _refresh, guard_marker)


def _flag_index(fam: BandedFamily, spark, sf_dir):
    """Persisted per-doc FLAG index: the doc_ids with a smaller-id
    neighbor within max_ham anywhere in the corpus (band self-join,
    larger member kept).  Serving shape: a 1:1 stream-static LEFT join
    key, so a report's near-dup signal costs one lookup per arriving
    doc, never a band-pair fan-out in the stream."""

    def build(root):
        bands = _doc_bands(fam, table(spark, sf_dir, "documents"))
        # materialized once: both sides of the self-join read it
        bands = bands.localCheckpoint(eager=True)
        (
            _band_join(fam, bands, bands, F.col("o_doc_id") < F.col("doc_id"))
            .select("doc_id")
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(root, "flags.parquet"))
        )

    root = _cached(fam.flag, sf_dir, build)
    return spark.read.parquet(os.path.join(root, "flags.parquet"))


def _graded_refresh(fam: BandedFamily, spark, sf_dir, remove_mod: int):
    """The graded index-refresh lifecycle of one family: seed the
    versioned index with a COPY of the base-split artifact (which stays
    pristine for its other consumers), run ONE refresh appending the
    ':ndlive' delta split and tombstoning doc_id % ``remove_mod`` == 0,
    and read the refreshed rows back FROM THE SWAPPED FILES."""
    import shutil as _shutil

    docs = table(spark, sf_dir, "documents")
    idx_p = _seeded_refresh_build(
        spark,
        sf_dir,
        fam.refresh,
        "index.parquet",
        seed_fn=lambda v0: _shutil.copytree(
            _band_index_path(fam, spark, sf_dir, base=True), v0
        ),
        refresh_fn=lambda p, guard: refresh_band_index(
            fam,
            spark,
            p,
            docs.where(~_base_split("doc_id", _NDLIVE_TAG)),
            docs.where(F.col("doc_id") % remove_mod == 0).select("doc_id"),
            guard_marker=guard,
        ),
    )
    return spark.read.parquet(idx_p).select(
        *[F.col(c).cast("long").alias(c) for c in fam.index_cols]
    )


@query(
    "multimodal_pixel_index_refresh",
    f"""
    WITH docs_live AS (
        SELECT doc_id FROM documents
        WHERE doc_id % {PIXEL_REFRESH_REMOVE_MOD} <> 0
    ),
    {_gate_phash_sql("x", "docs_live")}
    SELECT k.doc_id, h.k0, h.k1, h.k2, h.k3,
           CAST(k.band_id AS BIGINT) AS band_id,
           CAST(k.band_key AS BIGINT) AS band_key
    FROM xkeys k JOIN xhk h USING (doc_id)
    """,
    doc="Pixel index MAINTENANCE lifecycle, graded end-to-end "
    "(VERDICT r13 task 3) — the fifth persisted serving-artifact "
    "family (gate-image dHash band rows) gets the same "
    "refresh/retirement path as the near-dup bands, exact-hash "
    "postings, NB statistics and bench shingles: start from the "
    "persisted BASE-split pixel index (the ':ndlive' 80% artifact "
    "the fused gate serves against), then run ONE incremental "
    "refresh — append the delta 20%'s band rows (REAL BMP/PPM "
    "encode → decode → dHash over the delta's images ONLY), "
    f"tombstone a deterministic 'deleted' subset (doc_id % "
    f"{PIXEL_REFRESH_REMOVE_MOD} = 0) — through refresh_band_index "
    "(O(|delta| + |index rows|), historical images never re-decoded "
    "— pinned by the delete-the-corpus test — behind the shared "
    "guarded atomic swap).  The graded rows are the refreshed "
    "artifact read back FROM THE SWAPPED FILES and must hash-equal "
    "a FULL REBUILD over (corpus minus removed): the oracle replays "
    "the gate-image rule arithmetically over the 72 sampled grid "
    "pixels per surviving doc, so any dropped tombstone, missed "
    "append, or double-append is a hash mismatch.  At 100 TB: "
    "refresh cost tracks the day's arrivals plus one index-sized "
    "anti-join — vs a full rebuild's corpus re-DECODE, the "
    "difference between a nightly job and an impossible one.",
)
def multimodal_pixel_index_refresh(spark, sf_dir):
    return _graded_refresh(
        PIXEL_FAMILY, spark, sf_dir, PIXEL_REFRESH_REMOVE_MOD
    )


@query(
    "multimodal_audio_index_refresh",
    f"""
    WITH s AS (SELECT doc_id FROM documents
               WHERE doc_id % {_AU_MOD} = 0
                 AND doc_id % {AUDIO_REFRESH_REMOVE_MOD} <> 0),
    {_audio_keys_sql("x", "s")}
    SELECT CAST(k.media_id % {_AU_OFF} AS BIGINT) AS doc_id,
           k.media_id, h.k0, h.k1, h.k2, h.k3,
           CAST(k.band_id AS BIGINT) AS band_id,
           CAST(k.band_key AS BIGINT) AS band_key
    FROM xkeys k JOIN xhk h USING (media_id)
    """,
    doc="Audio index MAINTENANCE lifecycle, graded end-to-end — the "
    "SIXTH persisted serving-artifact family gets the same "
    "refresh/retirement path as the near-dup bands, exact-hash "
    "postings, NB statistics, bench shingles and pixel bands (so "
    "when the audio signal joins the admission ladder its artifact "
    "already has a lifecycle): start from the persisted BASE-split "
    "audio band index, then run ONE incremental refresh — append "
    "the delta split's sampled docs' variant band rows (REAL WAV "
    "encode → chunk-walk decode → frame-sign fingerprint over the "
    "delta ONLY), tombstone a deterministic 'deleted' subset "
    f"(doc_id % {AUDIO_REFRESH_REMOVE_MOD} = 0, retiring ALL of a "
    "doc's variants at once) — through refresh_band_index "
    "(O(|delta| + |index rows|), historical recordings never "
    "re-decoded — pinned by the delete-the-corpus test — behind the "
    "shared guarded atomic swap).  The graded rows are the "
    "refreshed artifact read back FROM THE SWAPPED FILES and must "
    "hash-equal a FULL REBUILD over (sampled corpus minus removed): "
    "the oracle replays the fingerprint arithmetic (one md5 per 16 "
    "frames per doc) for every surviving variant.  At 100 TB: "
    "refresh cost tracks the day's arrivals plus one index-sized "
    "anti-join — vs a full rebuild's corpus re-DECODE.",
)
def multimodal_audio_index_refresh(spark, sf_dir):
    return _graded_refresh(
        AUDIO_FAMILY, spark, sf_dir, AUDIO_REFRESH_REMOVE_MOD
    )


#: Superset (column, type) schema of the gate's ONE fused per-batch
#: append (VERDICT r13 task 5): every arm's delta rows — flags,
#: admission metrics, hash/band/pixel index appends — union into a
#: single kind-discriminated write per micro-batch, so the gate pays
#: ONE fixed job overhead per trigger instead of eight.  Per-arm read
#: paths are unchanged in shape: each consumer filters its kind and
#: selects its columns (casting back to the base artifact's types).
_GATE_FUSED_SCHEMA = (
    ("doc_id", "long"),
    ("media_id", "long"),
    ("gopher_keep", "boolean"),
    ("nb_logit", "double"),
    ("h", "string"),
    ("first_id", "long"),
    ("simhash", "long"),
    ("band_id", "long"),
    ("band_key", "long"),
    ("k0", "long"),
    ("k1", "long"),
    ("k2", "long"),
    ("k3", "long"),
)


def _fused_tag(df, kind: str):
    """Project an arm's delta rows onto the fused superset schema."""
    have = set(df.columns)
    cols = [F.lit(kind).alias("kind")]
    for name, typ in _GATE_FUSED_SCHEMA:
        cols.append(
            (
                F.col(name).cast(typ)
                if name in have
                else F.lit(None).cast(typ)
            ).alias(name)
        )
    return df.select(*cols)


def _cast_like(df, like):
    """Cast ``df``'s columns to ``like``'s dtypes (by name) so a fused
    superset read unions cleanly with its base parquet artifact."""
    dt = dict(like.dtypes)
    return df.select(*[F.col(c).cast(dt[c]).alias(c) for c in like.columns])


def _gate_live_drain(spark, sf_dir, run_dir, audit, kill_epoch=None):
    """Drain (or RESUME) the fused admission-gate topology rooted at
    ``run_dir``: one foreachBatch pass per micro-batch computing all
    SEVEN admission signals — exact-dup (content-hash index + appends +
    intra-batch self-join), the three banded near-dup arms (text
    SimHash, gate-image dHash, audio fingerprint — one loop over
    BANDED_FAMILIES through the shared _batch_matches),
    contamination (distinct 5-gram shingles vs the broadcast
    benchmark index — the streaming_decontaminate_gate screen FUSED
    into the same pass, one replay instead of two), the row-local
    Gopher gate, and the served NB logit — then appending the
    batch's hashes and band signatures for later batches.  ALL
    side effects land in ONE kind-discriminated epoch write per
    batch (r13 task 5: eight per-arm writes cost eight fixed job
    overheads per trigger; the fused single append flattens the
    gate's per-trigger cost while each arm's read path just filters
    its kind).  Re-invoking on an EXISTING run_dir resumes
    from its checkpoint: the delta files are not rewritten (the file
    source tracks processed files by path) and committed epochs are
    not re-executed.  ``kill_epoch`` injects a one-shot crash: the
    first batch with epoch_id >= kill_epoch raises AFTER its fused
    side-effect write but BEFORE its commit (the worst ordering —
    an orphaned epoch dir a replay must both ignore via the
    before_epoch guard and overwrite)."""
    from .pipeline_llm import _shingle5_arrays
    from .text import (
        _gopher_keep_curate_col,
        _gopher_metrics,
        _nb_feats_array,
    )

    lam, pri = _nb_serving_model(spark, sf_dir)
    bench_path = _bench_shingle_index_path(spark, sf_dir)
    fused_path = os.path.join(run_dir, "fused")
    n_writes = [0]
    # The base serving indexes and the bench shingle set are
    # IMMUTABLE for the whole drain — materialize them once
    # (localCheckpoint) instead of re-scanning their parquet in every
    # micro-batch's job (at 100 TB these sit in executor block
    # storage / off-heap cache; the per-trigger cost is a lookup, not
    # a re-read).
    base_idx = _exact_hash_index(spark, sf_dir, base=True).localCheckpoint(
        eager=True
    )
    band_bases = {
        fam.kind: spark.read.parquet(
            _band_index_path(fam, spark, sf_dir, base=True)
        ).localCheckpoint(eager=True)
        for fam in BANDED_FAMILIES
    }
    bench_idx = spark.read.parquet(bench_path).localCheckpoint(eager=True)

    def _gate(batch_df, epoch_id):
        sess = batch_df.sparkSession
        hashed = batch_df.select(
            "doc_id", F.md5("text").alias("h"), "text"
        ).localCheckpoint(eager=True)
        # ONE scan of the prior fused epoch dirs per batch (not one
        # per consuming arm): the three append arms filter their kind
        # out of the same materialized frame.
        prior_all = _epoch_read(sess, fused_path, before_epoch=epoch_id)
        if prior_all is not None:
            prior_all = prior_all.localCheckpoint(eager=True)

        def _prior(kind, cols):
            if prior_all is None:
                return None
            return prior_all.where(F.col("kind") == kind).select(*cols)

        idx = base_idx
        prior = _prior("hash_app", ["h", "first_id"])
        if prior is not None:
            idx = idx.unionByName(_cast_like(prior, idx))
        # (2) batch vs index: flag the LARGER member of every
        # same-content pair — covers new-vs-historical, new-vs-
        # earlier-batch, and the retro case (smaller id arriving
        # after the larger one was already admitted).
        f1 = (
            hashed.join(idx, "h")
            .where(F.col("first_id") != F.col("doc_id"))
            .select(
                F.greatest("doc_id", "first_id").alias("doc_id")
            )
        )
        # (3) intra-batch self-join: same-batch duplicate pairs.
        partners = hashed.select("h", F.col("doc_id").alias("p"))
        f2 = (
            hashed.join(partners, "h")
            .where(F.col("p") < F.col("doc_id"))
            .select("doc_id")
        )
        # (2b/3b) the banded near-dup arms, FUSED into the same pass
        # over the same arrivals (one replay, one drain — the
        # production topology): text SimHash; gate-image dHash (real
        # encode/decode/hash in one Arrow stage — two re-encoded
        # copies of one image no longer both pass); audio fingerprint
        # of the SAMPLED docs (real WAV encode → chunk-walk decode →
        # frame-sign hash — a re-encoded RECORDING under a new doc_id
        # no longer passes).  Each: the batch's band rows vs (base
        # index + prior appends) plus the intra-batch self-join
        # (_batch_matches), reduced to per-doc flags (each pair's
        # larger member); the band rows are this batch's append.
        band_parts = []
        for fam in BANDED_FAMILIES:
            bands = _doc_bands(fam, hashed).localCheckpoint(eager=True)
            idx = band_bases[fam.kind]
            prior = _prior(f"{fam.kind}_app", idx.columns)
            if prior is not None:
                idx = idx.unionByName(_cast_like(prior, idx))
            flags = _batch_matches(fam, bands, idx).select("doc_id")
            band_parts += [
                _fused_tag(flags.distinct(), f"{fam.kind}_flag"),
                _fused_tag(bands, f"{fam.kind}_app"),
            ]
        # (2c) contamination screen, FUSED (VERDICT r11 task 6): the
        # batch's distinct 5-gram shingles vs the BROADCAST benchmark
        # index — eval-suite-sized, constant as the corpus grows, so
        # the broadcast is always legal.  Bench-member docs arriving
        # in the firehose self-hit and flag, the right admission
        # decision (never train on the eval suite).
        c_hits = (
            _shingle5_arrays(hashed)
            .select("doc_id", F.explode("shs").alias("sh"))
            .join(F.broadcast(bench_idx), "sh")
            .select("doc_id")
            .distinct()
        )
        # (1) row-local admission signals for this batch's docs (the
        # shared Gopher + served-NB definitions of the batch gate).
        m = _gopher_metrics(batch_df, keep_words=True, extra_cols=("text",))
        ann = m.select(
            "doc_id",
            _gopher_keep_curate_col().alias("gopher_keep"),
            _nb_feats_array(F.col("wrds")).alias("feats"),
        ).where(F.size("feats") > 0)
        adm = ann.select(
            "doc_id",
            "gopher_keep",
            _nb_logit_col(F.col("feats"), lam, pri).alias("nb_logit"),
        )
        # ONE fused side-effect write per batch (r13 task 5): all
        # five flag sets, the admission metrics, and the four index
        # appends (this batch's content hashes and band signatures,
        # servable for every later batch) union into a single
        # kind-discriminated epoch dir — one job, one commit unit,
        # same per-epoch OVERWRITE exactly-once discipline.
        fused = functools.reduce(
            lambda a, b: a.unionByName(b),
            [
                _fused_tag(f1.unionByName(f2), "exact_flag"),
                _fused_tag(c_hits, "c_flag"),
                _fused_tag(adm, "adm"),
                _fused_tag(
                    hashed.select("h", F.col("doc_id").alias("first_id")),
                    "hash_app",
                ),
                *band_parts,
            ],
        )
        # NOT partition_by="kind": hive-partitioning the fused epoch
        # dir was measured SLOWER at sf1 (26.7 s vs 21.3 s warm) —
        # the dynamic-partition write fans out many small files and
        # costs more than the read-side kind pruning saves at
        # micro-batch sizes; the kind filter is a cheap row filter.
        _epoch_write(fused, fused_path, epoch_id)
        n_writes[0] += 1
        _kill_point(run_dir, kill_epoch, epoch_id)

    resume = os.path.isdir(os.path.join(run_dir, "delta"))
    delta = table(spark, sf_dir, "documents").where(
        ~_base_split("doc_id", _NDLIVE_TAG)
    )
    stream = _delta_replay_stream(
        spark, run_dir, delta, rewrite=not resume
    )
    _await_and_audit(stream, _gate, run_dir, audit, fused_path)
    # one fused side-effect write per executed batch — the shape the
    # single-append plan audit pins (retried batches may add one).
    audit["n_epoch_writes"] = n_writes[0]


def _gate_live_assemble(spark, run_dir):
    """Fold a drained gate run's fused epoch dirs into the admission
    record (one row per screened delta doc, seven signals + keep), cut
    off the run files (localCheckpoint) so run_dir can be removed."""
    fused = _epoch_read(spark, os.path.join(run_dir, "fused"))
    if fused is None:
        return spark.createDataFrame(
            [], f"doc_id long, {_SIGNALS_DDL}, keep boolean"
        )
    fused = fused.localCheckpoint(eager=True)
    out = fused.where(F.col("kind") == "adm").select(
        "doc_id", "gopher_keep", "nb_logit"
    )
    for kind, col in _LADDER.items():
        flags = fused.where(F.col("kind") == f"{kind}_flag").select("doc_id")
        out = out.join(
            flags.distinct().withColumn(col, F.lit(True)), "doc_id", "left"
        ).withColumn(col, F.coalesce(col, F.lit(False)))
    return (
        out.select("doc_id", *_SIGNALS)
        .withColumn("keep", _ladder_keep(_LADDER))
        .localCheckpoint(eager=True)
    )


@query(
    "streaming_ingest_gate_live",
    _GATE_LIVE_SQL,
    doc="The composed LIVE admission gate with new-vs-new detection, "
    "fused decontamination AND the binary modality (r12 task 6) — "
    "the full SEVEN-signal production admission pass in ONE replay: "
    "the ':ndlive' delta 20% is replayed "
    "multi-batch and foreachBatch runs stateless steps: (1) row-local "
    "Gopher gate + served NB logit (the shared persisted-model "
    "artifacts); (2) batch content-hashes vs (base hash index + prior "
    "batches' appends) — for every same-content pair this flags "
    "max(doc_id, partner), so a LATER-arriving smaller id "
    "retroactively flags the earlier larger one: the flag set is "
    "ORDER-INDEPENDENT, a doc ends up flagged iff a smaller-id "
    "same-content doc exists anywhere in base UNION delta, the "
    "batch-oracle truth, regardless of batching; (3) an intra-batch "
    "hash self-join for same-batch pairs; (2b/3b) the "
    "streaming_dedup_neardup_live band detection FUSED over the same "
    "arrivals, reduced to per-doc flags; (2d/3d) the PIXEL arm: each "
    "arrival's gate-image dHash band keys (REAL encode/decode/hash "
    "in one Arrow stage) vs (base pixel index + prior appends) plus "
    "an intra-batch self-join — two re-encoded copies of the same "
    "image no longer both pass; (2e/3e) the AUDIO arm (VERDICT r14 "
    "task 1 — the seventh rung): each sampled arrival's recording "
    "fingerprint band keys (REAL WAV encode → chunk-walk decode → "
    "frame-sign hash in two Arrow stages) vs (base audio index + "
    "prior appends) plus an intra-batch self-join — a duplicate "
    "re-encoded RECORDING arriving under a new doc_id (the "
    "GATE_AU_EVERY re-recording plant) no longer passes; (2c) the "
    "decontamination "
    "screen FUSED: distinct 5-gram shingles vs the BROADCAST "
    "benchmark shingle index (eval-suite-sized, constant as the "
    "corpus grows — the broadcast is always legal), a contamination "
    "rung in the admission ladder; (4) append the batch's (h, doc_id) "
    "and band/pixel/audio-signature entries so they serve later "
    "batches.  "
    "keep = no ladder flag set (exact, near, pixel, audio, "
    "contamination) AND gopher_keep AND nb_logit > 0, hash-gated "
    "against the batch "
    "composition over the full corpus restricted to delta rows.  At "
    "100 TB: flags and appends are O(arrivals), self-joins bounded "
    "batch x batch, the shingle check is scan throughput, no "
    "watermark or state store anywhere.  Reference capability: none "
    "— north star (deployable gate).",
)
def streaming_ingest_gate_live(spark, sf_dir):
    with tempfile.TemporaryDirectory(
        prefix="ds_gatelive_", ignore_cleanup_errors=True
    ) as run_dir:
        _gate_live_drain(spark, sf_dir, run_dir, _GATE_LIVE_LAST_RUN)
        return _gate_live_assemble(spark, run_dir)


@query(
    "streaming_ingest_gate_resume",
    _GATE_LIVE_SQL,
    doc="KILL-AND-RESUME exactly-once for the live gate family "
    "(VERDICT r11 task 3): the SAME fused seven-signal topology as "
    "streaming_ingest_gate_live, but the run is crashed MID-STREAM "
    "and restarted from its checkpoint before grading.  The injected "
    "crash takes the worst ordering: the victim batch completes its "
    "fused side-effect write (all flag sets, admission rows and "
    "index appends in the one multi-signal epoch dir) and dies "
    "before its commit — leaving an "
    "orphaned epoch dir that the replayed batch must both IGNORE "
    "while detecting (_epoch_read's before_epoch guard: a batch "
    "never joins its own failed attempt's partial appends) and "
    "OVERWRITE when re-emitting (per-epoch OVERWRITE subdirs).  The "
    "restart reuses the SAME checkpoint and delta files (a rewrite "
    "would change part-file paths and replay everything — the "
    "file-source log tracks files by path), so committed epochs are "
    "not re-executed and the victim epoch re-runs with its original "
    "epoch_id.  The drained admission record must hash-equal the "
    "batch truth — the SAME oracle as the uninterrupted gate, which "
    "is the exactly-once statement: a mid-stream crash is "
    "observationally invisible in the delivered data.  This is the "
    "log engine's test_ingest_exactly_once_replay discipline applied "
    "to the gate family, graded end-to-end.",
)
def streaming_ingest_gate_resume(spark, sf_dir):
    with tempfile.TemporaryDirectory(
        prefix="ds_gateresume_", ignore_cleanup_errors=True
    ) as run_dir:
        _kill_and_resume(
            run_dir,
            _GATE_RESUME_LAST_RUN,
            functools.partial(
                _gate_live_drain, spark, sf_dir, run_dir, _GATE_RESUME_LAST_RUN
            ),
        )
        return _gate_live_assemble(spark, run_dir)


from .pipeline_llm import (  # noqa: E402
    _PACK_CTES as _PL_PACK_CTES,
    _SHARD_RANK_SQL as _PL_RANK_SQL,
    _shard_assign_sql as _pl_shard_assign_sql,
    _shard_key_sql as _pl_shard_key_sql,
    PACK_SEQ_LEN as _PL_SEQ_LEN,
    PACK_SHARDS as _PL_PACK_SHARDS,
    SHARD_SEED as _PL_SEED,
    WRITE_SHARDS as _PL_WRITE_SHARDS,
)

#: Audit facts of the last streaming_write_shards run.
_SHARDS_LIVE_LAST_RUN: dict = {}


@query(
    "streaming_write_shards",
    f"""
    WITH docs_delta AS (
        SELECT * FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || '{_NDLIVE_TAG}'), 1, 2)
              >= '{_NDLIVE_CUT}'
    ),
    {_PL_PACK_CTES.replace("FROM documents", "FROM docs_delta")},
    {_PL_RANK_SQL}
    SELECT CAST(shard_out AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tokens_in) AS BIGINT) AS n_tokens,
           CAST(sum(CAST('0x' || substr(
               md5(key || ':' || CAST(rank AS VARCHAR)), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_fp
    FROM assigned
    GROUP BY shard_out
    ORDER BY shard_id
    """,
    doc="LIVE epoch shard delivery — the daily-refresh topology that "
    "completes the batch writer (VERDICT r10 task 5): the epoch's "
    "arrivals (the ':ndlive' delta 20%, replayed multi-batch) flow "
    "through a STATELESS foreachBatch that extracts each document's "
    "pack projection (doc_id, pack shard, token count — the "
    "scan-heavy tokenization work, done at ingest rate) and appends "
    "it to the epoch accumulator; when the epoch CLOSES (availableNow "
    "drain end), the accumulated O(epoch) metadata rows — never the "
    "corpus — run through the batch writer's exact machinery: the "
    "shared _pack_from_counts rule, the seeded-md5 deterministic "
    "shuffle, the two-phase 256-bucket exact rank, one parquet "
    "partition per shard.  Epoch shards are their own delivery "
    "(epoch-local ranks from the same seed), which is how daily "
    "shard sets actually ship — yesterday's shards are immutable, "
    "the new epoch extends the set.  The drained manifest must "
    "hash-equal the BATCH writer applied to the same delta corpus "
    "(the 'streaming delivery == batch delivery' proof), and a "
    "re-run is byte-identical (pinned).  At 100 TB/day: stream side "
    "is scan throughput with zero state; the close step costs "
    "O(#epoch docs) metadata rows.",
)
def streaming_write_shards(spark, sf_dir):
    with tempfile.TemporaryDirectory(
        prefix="ds_shardslive_", ignore_cleanup_errors=True
    ) as run_dir:
        _shards_live_drain(spark, sf_dir, run_dir, _SHARDS_LIVE_LAST_RUN)
        return _shards_live_close(spark, sf_dir, run_dir)


def _shards_live_drain(spark, sf_dir, run_dir, audit, kill_epoch=None):
    """Drain (or RESUME) the epoch-delivery topology rooted at
    ``run_dir``: a stateless foreachBatch extracting each arrival's
    pack projection into per-epoch OVERWRITE subdirs (a retried batch
    rewrites its own rows — see _epoch_write).  Re-invoking on an
    existing run_dir resumes from its checkpoint without rewriting
    the delta files (the file source tracks processed files by
    path).  ``kill_epoch`` injects a one-shot crash AFTER the epoch's
    side-effect write but BEFORE its commit — the worst ordering the
    resume proof must survive."""
    from .pipeline_llm import _doc_token_counts

    acc_path = os.path.join(run_dir, "epoch_rows")

    def _extract(batch_df, epoch_id):
        _epoch_write(_doc_token_counts(batch_df), acc_path, epoch_id)
        _kill_point(run_dir, kill_epoch, epoch_id)

    resume = os.path.isdir(os.path.join(run_dir, "delta"))
    delta = table(spark, sf_dir, "documents").where(
        ~_base_split("doc_id", _NDLIVE_TAG)
    )
    stream = _delta_replay_stream(spark, run_dir, delta, rewrite=not resume)
    _await_and_audit(stream, _extract, run_dir, audit, acc_path)


def _shards_live_close(spark, sf_dir, run_dir):
    """Epoch close: pack + rank + write over the accumulated metadata
    rows (order-independent of batching: each doc contributed one
    row, and the pack sorts by doc_id within pack shards), then the
    per-shard manifest read back from the written files."""
    from .pipeline_llm import (
        _pack_from_counts,
        _shards_manifest,
        _write_shards,
    )

    counts = _epoch_read(spark, os.path.join(run_dir, "epoch_rows"))
    shards = _write_shards(
        spark,
        sf_dir,
        root=os.path.join(run_dir, "shards"),
        seqs_fn=lambda: _pack_from_counts(counts),
        params=(
            f"live-epoch:pack{_PL_SEQ_LEN}x{_PL_PACK_SHARDS}"
            f":ws{_PL_WRITE_SHARDS}:seed{_PL_SEED}:v1"
        ),
    )
    return _shards_manifest(shards).localCheckpoint(eager=True)


#: Audit facts of the last streaming_write_shards_resume run.
_SHARDS_RESUME_LAST_RUN: dict = {}


@query(
    "streaming_write_shards_resume",
    f"""
    WITH docs_delta AS (
        SELECT * FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || '{_NDLIVE_TAG}'), 1, 2)
              >= '{_NDLIVE_CUT}'
    ),
    {_PL_PACK_CTES.replace("FROM documents", "FROM docs_delta")},
    {_PL_RANK_SQL}
    SELECT CAST(shard_out AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tokens_in) AS BIGINT) AS n_tokens,
           CAST(sum(CAST('0x' || substr(
               md5(key || ':' || CAST(rank AS VARCHAR)), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_fp
    FROM assigned
    GROUP BY shard_out
    ORDER BY shard_id
    """,
    doc="KILL-AND-RESUME exactly-once for the shard DELIVERY side "
    "(VERDICT r12 task 7 — the gate family's resume proof extended "
    "to the other side-effecting live topology): the epoch-delivery "
    "run of streaming_write_shards is crashed MID-STREAM after a "
    "victim epoch's accumulator write but BEFORE its checkpoint "
    "commit (the worst ordering: an orphaned epoch subdir a replay "
    "must overwrite, not double-count), restarted from the same "
    "checkpoint and delta files (tracked by PATH — never rewritten "
    "on resume), drained to completion, and the close-step manifest "
    "must STILL hash-equal the batch writer over the same delta "
    "corpus.  Kill evidence is read from the checkpoint commit log "
    "(committed-before-crash < total proves the first attempt was "
    "genuinely partial; a failed drain never populates audit dicts). "
    "Exactly-once comes from the shared per-epoch OVERWRITE "
    "discipline (_epoch_write) — the replayed victim epoch rewrites "
    "its own subdir.  Same oracle as streaming_write_shards: a "
    "resumed delivery must produce the SAME truth as an "
    "uninterrupted one.",
)
def streaming_write_shards_resume(spark, sf_dir):
    with tempfile.TemporaryDirectory(
        prefix="ds_shardsresume_", ignore_cleanup_errors=True
    ) as run_dir:
        _kill_and_resume(
            run_dir,
            _SHARDS_RESUME_LAST_RUN,
            functools.partial(
                _shards_live_drain,
                spark,
                sf_dir,
                run_dir,
                _SHARDS_RESUME_LAST_RUN,
            ),
        )
        return _shards_live_close(spark, sf_dir, run_dir)


def _contamination_flag_index(spark, sf_dir):
    """Persisted per-doc CONTAMINATION flag index: doc_ids with at
    least one distinct 5-gram shingle in the benchmark suite
    (including bench-member docs themselves, which self-hit — the
    right admission verdict).  Derived from the persisted bench
    shingle index so the eval suite is tokenized once; serving shape
    is a 1:1 stream-static LEFT join key (the _flag_index
    protocol — the report's stream side never sees shingle fan-out)."""
    from .pipeline_llm import _BENCH_MOD, _shingle5_arrays

    def build(root):
        bench = spark.read.parquet(
            _bench_shingle_index_path(spark, sf_dir)
        )
        (
            _shingle5_arrays(table(spark, sf_dir, "documents"))
            .select("doc_id", F.explode("shs").alias("sh"))
            .join(F.broadcast(bench), "sh")
            .select("doc_id")
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(root, "flags.parquet"))
        )

    root = build_once(
        cache_root("/tmp/durablestreams_contamflag_v1", sf_dir),
        sf_dir,
        build,
        name="documents",
        params=f"shingle5:flag:bench%{_BENCH_MOD}:v1",
    )
    return spark.read.parquet(os.path.join(root, "flags.parquet"))


@query(
    "streaming_ingest_report",
    f"""
    WITH {_NB_SCORED_CTES},
    {_SIMHASH_CTES.strip()},
    {_contam_flag_ctes("r")},
    rbands AS (
        SELECT doc_id, simhash, b.b AS band_id,
               (simhash // (1::BIGINT << ({_ND_BITS} * b.b)))
                   % {1 << _ND_BITS} AS band_key
        FROM sig, (SELECT UNNEST(generate_series(0, {_ND_BANDS - 1})) AS b) b
    ),
    rflag AS (
        SELECT DISTINCT a.doc_id
        FROM rbands a
        JOIN rbands p ON a.band_id = p.band_id
                     AND a.band_key = p.band_key
                     AND p.doc_id < a.doc_id
        WHERE bit_count(xor(a.simhash, p.simhash)) <= {_ND_HAM}
    ),
    {_gate_pxflag_sql("r")},
    {_gate_auflag_sql("ra")},
    hx AS (SELECT md5(text) AS h, min(doc_id) AS first_id
           FROM documents GROUP BY 1),
    j AS (
        SELECT d.source,
               (x.first_id < d.doc_id) AS exact_dup,
               (f.doc_id IS NOT NULL) AS near_dup,
               (pf.doc_id IS NOT NULL) AS pixel_dup,
               (af.doc_id IS NOT NULL) AS audio_dup,
               (cf.doc_id IS NOT NULL) AS contaminated,
               n.gopher_keep, n.nb_logit
        FROM documents d
        JOIN hx x ON md5(d.text) = x.h
        JOIN nbs n ON n.doc_id = d.doc_id
        LEFT JOIN rflag f ON f.doc_id = d.doc_id
        LEFT JOIN rpxflag pf ON pf.doc_id = d.doc_id
        LEFT JOIN raflag af ON af.doc_id = d.doc_id
        LEFT JOIN rcflag cf ON cf.doc_id = d.doc_id
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup,
           CAST(sum(CASE WHEN NOT exact_dup AND near_dup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND pixel_dup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pixel_dup,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND audio_dup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_audio_dup,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND NOT audio_dup
                              AND contaminated
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND NOT audio_dup
                              AND NOT contaminated AND NOT gopher_keep
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_fail,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND NOT audio_dup
                              AND NOT contaminated
                              AND gopher_keep AND nb_logit <= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nb_fail,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND NOT audio_dup
                              AND NOT contaminated
                              AND gopher_keep AND nb_logit > 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted
    FROM j
    GROUP BY source
    """,
    doc="The ingest gate's end-to-end ECONOMICS dashboard (VERDICT "
    "r10 task 6; r11 task 6 added the contamination rung; r12 task 6 "
    "the pixel rung) — per "
    "(source, rejection reason) admission accounting, the table a "
    "pipeline owner actually watches: each arriving document is "
    "annotated with the gate's seven signals — exact-dup (1:1 join vs "
    "the persisted content-hash index), near-dup (1:1 LEFT join vs "
    "the persisted per-doc FLAG index, which pre-collapses the band "
    "join's pair fan-out so the stream side never aggregates), "
    "contamination (1:1 LEFT join vs the persisted per-doc "
    "bench-shingle-hit flag index, same pre-collapse protocol), "
    "pixel near-dup (1:1 LEFT join vs the persisted per-doc "
    "gate-image dHash flag index — the binary modality), audio "
    "near-dup (1:1 LEFT join vs the persisted per-doc recording "
    "fingerprint flag index), the "
    "row-local Gopher gate, and the served NB logit — then "
    "attributed to its FIRST failing reason in gate order (exact > "
    "near > pixel > audio > contamination > gopher > NB > admitted), "
    "so each "
    "source's "
    "reason counts partition its n_docs exactly.  The "
    "rollup is a complete-mode aggregation with O(#sources) state — "
    "the streaming_quality_monitor contract, bounded forever at any "
    "ingest rate; every signal is a stateless row-local expression "
    "or 1:1 stream-static lookup.  Hash-gated against the batch "
    "composition of the same shared definitions.  All-integer "
    "counts — no float anywhere.",
)
def streaming_ingest_report(spark, sf_dir):
    flagged = _five_signal_stream(spark, sf_dir)
    agg = flagged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        *_ladder_reasons(),
        _count_if(_ladder_keep(_LADDER)).alias("n_admitted"),
    )
    return _drain(agg, "complete")


def _five_signal_stream(spark, sf_dir):
    """ONE definition of the full admission annotation (seven
    signals) over the
    live documents stream — (doc_id, source, n_words, *_SIGNALS),
    every signal a
    row-local expression or 1:1 stream-static lookup against a
    persisted flag index.  Shared by the economics report and the
    token-budget monitor so two graded dashboards cannot drift on what
    'admitted' means (the review's _contam_flag_ctes rule applied to
    the Spark side)."""
    return _five_signal_annotate(
        spark, sf_dir, _docs_stream_spread(spark, sf_dir)
    )


def _five_signal_annotate(spark, sf_dir, src):
    """The full admission annotation (seven signals) over ANY
    (doc_id, text, source)
    frame — streaming (the economics report / budget monitor) or
    static (the budget gate's per-batch arrivals and its pre-stream
    allocation pass).  Every signal is a row-local expression or a
    1:1 lookup against a persisted flag index, so the same code is
    legal on both sides."""
    from .text import (
        _gopher_keep_curate_col,
        _gopher_metrics,
        _nb_feats_array,
    )

    lam, pri = _nb_serving_model(spark, sf_dir)
    hx = _exact_hash_index(spark, sf_dir, base=False)
    flag_sets = {
        fam.kind: _flag_index(fam, spark, sf_dir) for fam in BANDED_FAMILIES
    }
    flag_sets["c"] = _contamination_flag_index(spark, sf_dir)
    m = _gopher_metrics(
        src, keep_words=True, extra_cols=("text", "source")
    )
    ann = m.select(
        "doc_id",
        "source",
        F.size("wrds").cast("long").alias("n_words"),
        F.md5("text").alias("h"),
        _gopher_keep_curate_col().alias("gopher_keep"),
        _nb_feats_array(F.col("wrds")).alias("feats"),
    ).where(F.size("feats") > 0)
    scored = ann.select(
        "doc_id",
        "source",
        "n_words",
        "h",
        "gopher_keep",
        _nb_logit_col(F.col("feats"), lam, pri).alias("nb_logit"),
    )
    out = scored.join(hx, "h").withColumn(
        _LADDER["exact"], F.col("first_id") < F.col("doc_id")
    )
    for kind, flags in flag_sets.items():
        col = _LADDER[kind]
        out = out.join(
            flags.withColumn(col, F.lit(True)), "doc_id", "left"
        ).withColumn(col, F.coalesce(col, F.lit(False)))
    return out.select("doc_id", "source", "n_words", *_SIGNALS)


from .pipeline_llm import (  # noqa: E402
    EPOCH_BUDGET_MULT as _TB_BUDGET_MULT,
    EPOCH_MAX_REPEATS as _TB_MAX_REPEATS,
)


@query(
    "streaming_token_budget_monitor",
    f"""
    WITH {_NB_SCORED_CTES},
    {_SIMHASH_CTES.strip()},
    tbands AS (
        SELECT doc_id, simhash, b.b AS band_id,
               (simhash // (1::BIGINT << ({_ND_BITS} * b.b)))
                   % {1 << _ND_BITS} AS band_key
        FROM sig, (SELECT UNNEST(generate_series(0, {_ND_BANDS - 1})) AS b) b
    ),
    tflag AS (
        SELECT DISTINCT a.doc_id
        FROM tbands a
        JOIN tbands p ON a.band_id = p.band_id
                     AND a.band_key = p.band_key
                     AND p.doc_id < a.doc_id
        WHERE bit_count(xor(a.simhash, p.simhash)) <= {_ND_HAM}
    ),
    {_contam_flag_ctes("tb")},
    {_gate_pxflag_sql("t")},
    {_gate_auflag_sql("ta")},
    hx AS (SELECT md5(text) AS h, min(doc_id) AS first_id
           FROM documents GROUP BY 1),
    adm AS (
        SELECT d.source, mm.n_words
        FROM documents d
        JOIN hx x ON md5(d.text) = x.h
        JOIN nbs n ON n.doc_id = d.doc_id
        JOIN m mm ON mm.doc_id = d.doc_id
        LEFT JOIN tflag f ON f.doc_id = d.doc_id
        LEFT JOIN tpxflag pf ON pf.doc_id = d.doc_id
        LEFT JOIN taflag af ON af.doc_id = d.doc_id
        LEFT JOIN tbcflag cf ON cf.doc_id = d.doc_id
        WHERE NOT (x.first_id < d.doc_id)
          AND f.doc_id IS NULL AND pf.doc_id IS NULL
          AND af.doc_id IS NULL
          AND cf.doc_id IS NULL
          AND n.gopher_keep AND n.nb_logit > 0
    ),
    spent AS (
        SELECT source, CAST(sum(n_words) AS BIGINT) AS admitted_tokens
        FROM adm GROUP BY source
    ),
    ep_doc AS (
        SELECT source,
               len(list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '')) AS n_tok
        FROM documents
    ),
    ep_src AS (
        SELECT source,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS s6
        FROM ep_doc GROUP BY source
    ),
    ep_tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
                      CAST(sum(s6) AS BIGINT) AS s6_total FROM ep_src),
    plan AS (
        SELECT source,
               least(CAST(floor(CAST({_TB_BUDGET_MULT} * n_total AS BIGINT)
                                * (floor(CAST(s6 AS DOUBLE) / s6_total
                                         * 1000000 + 0.5) / 1000000)
                                + 0.5) AS BIGINT),
                     {_TB_MAX_REPEATS} * n_tokens) AS alloc_tokens
        FROM ep_src, ep_tot
    ),
    obs AS (
        -- row set = sources with at least one SCOREABLE arrival (>=1
        -- hashed feature): the stream side is a complete-mode rollup
        -- over observed rows, so a planned source none of whose docs
        -- are scoreable has no stream row to aggregate — the oracle
        -- must not invent one (review finding, round 12)
        SELECT DISTINCT d.source
        FROM documents d JOIN nbs n ON n.doc_id = d.doc_id
    )
    SELECT p.source,
           CAST(coalesce(sp.admitted_tokens, 0) AS BIGINT)
               AS admitted_tokens,
           p.alloc_tokens,
           floor(CAST(coalesce(sp.admitted_tokens, 0) AS DOUBLE)
                 / p.alloc_tokens * 1000000 + 0.5) / 1000000
               AS utilization,
           CAST(p.alloc_tokens - coalesce(sp.admitted_tokens, 0) AS BIGINT)
               AS remaining_tokens
    FROM obs o
    JOIN plan p USING (source)
    LEFT JOIN spent sp USING (source)
    """,
    doc="LIVE token-budget burn-down — the monitor that closes the "
    "planner loop (pipeline_epoch_plan says how many tokens each "
    "source may contribute; THIS watches the firehose spend it): "
    "each arriving document carries the full seven-signal admission "
    "verdict (the streaming_ingest_report machinery — persisted "
    "hash/near-dup/contamination flag indexes, row-local Gopher, "
    "served NB logit), and admitted documents' token counts roll up "
    "per source in a complete-mode aggregation joined BEFORE the "
    "rollup against the plan's O(#sources) allocation table "
    "(stream-static broadcast, so the aggregation emits utilization "
    "and remaining budget directly — a join after a streaming "
    "aggregation would be an unsupported topology).  One corpus "
    "replay fills ~a quarter to half of the multi-epoch allocation, "
    "so utilization and remaining_tokens are non-trivial per-source "
    "data; state stays O(#sources) forever.  Determinism: admitted "
    "sums are exact BIGINTs over the shared n_words definition; "
    "alloc derives from the plan's snapped-share arithmetic; "
    "utilization is a floor-snapped ratio of identical integers.",
)
def streaming_token_budget_monitor(spark, sf_dir):
    from .pipeline_llm import pipeline_epoch_plan

    plan = pipeline_epoch_plan(spark, sf_dir).select(
        F.col("source").alias("_plan_src"), "alloc_tokens"
    )
    flagged = (
        _five_signal_stream(spark, sf_dir)
        # plan attach BEFORE the aggregation (broadcast O(#sources)):
        # a stream-static join after a streaming aggregation is an
        # unsupported topology, and the rollup can carry alloc via
        # max() since it is constant per source.
        .join(
            F.broadcast(plan), F.col("source") == F.col("_plan_src")
        )
        .select(
            "source",
            "n_words",
            "alloc_tokens",
            _ladder_keep(_LADDER).alias("admitted"),
        )
    )
    spent = F.sum(
        F.when(F.col("admitted"), F.col("n_words")).otherwise(F.lit(0))
    ).cast("long")
    agg = flagged.groupBy("source").agg(
        spent.alias("admitted_tokens"),
        F.max("alloc_tokens").cast("long").alias("alloc_tokens"),
    )
    out = agg.select(
        "source",
        "admitted_tokens",
        "alloc_tokens",
        (
            F.floor(
                F.col("admitted_tokens").cast("double")
                / F.col("alloc_tokens")
                * 1000000
                + F.lit(0.5)
            )
            / 1000000
        ).alias("utilization"),
        (F.col("alloc_tokens") - F.col("admitted_tokens"))
        .cast("long")
        .alias("remaining_tokens"),
    )
    return _drain(out, "complete")


#: Audit facts of the last streaming_ingest_gate_budget run.
_GATE_BUDGET_LAST_RUN: dict = {}

#: The budget gate's replay depth: one epoch MORE than any source's
#: repeat cap, so every source with a nonzero quality allocation is
#: GUARANTEED to exhaust its budget mid-run at any scale factor (the
#: rung must bite by construction, never by fixture luck).
_BUDGET_REPLAYS = _TB_MAX_REPEATS + 1


def _bpe_ntok_col(merges):
    """Row-local BPE token count over a ``text`` column under a
    SERVED merge table — text_bpe_tokenize's exact tokenizer (the
    bounded merge list folded as chained replace literals: one
    codegen'd projection, zero shuffle — the streaming_quality_score
    serving pattern), reduced to the separator-count formula, which
    equals len(token ids) (parity pinned by the BPE family's
    tests)."""
    from .bpe_shared import _BPE_SEP
    from .text import _bpe_apply, _bpe_encode

    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    applied = _bpe_apply(_bpe_encode(words), merges)
    sep = F.length(applied) - F.length(
        F.replace(applied, F.lit(_BPE_SEP), F.lit(""))
    )
    return F.floor(sep / 2).cast("long")


def _budget_alloc_from_ann(ann):
    """O(#sources) per-source token allocation for the budget gate:
    pipeline_epoch_plan's EXACT arithmetic (s6 integer grid, snapped
    share, BIGINT budget, repeat cap) applied to the gate window's
    QUALITY-SURVIVING tokens — plan over what you will actually train
    on (curate-then-plan), which is also what makes enforcement bite:
    alloc <= _TB_MAX_REPEATS x per-replay quality spend, and the
    firehose replays one epoch more than that.  ``ann`` is the
    window's seven-signal annotation WITH an ``n_tok`` column in the
    gate's token unit — the drain computes it once and shares it
    between this planner pass and every replayed epoch's decisions
    (r15: the annotation is a pure per-doc function, so the planner
    re-annotating the window was a redundant full corpus pass)."""
    q = (
        ann.where(_ladder_keep(_LADDER))
        .groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("q_tok"))
        .withColumn(
            "s6",
            F.floor(
                F.sqrt(F.col("q_tok").cast("double")) * 1000000 + F.lit(0.5)
            ).cast("long"),
        )
    )
    tot = q.groupBy().agg(
        F.sum("q_tok").cast("long").alias("q_total"),
        F.sum("s6").cast("long").alias("s6_total"),
    )
    share = (
        F.floor(
            F.col("s6").cast("double") / F.col("s6_total") * 1000000
            + F.lit(0.5)
        )
        / 1000000
    )
    requested = F.floor(
        (F.lit(_TB_BUDGET_MULT) * F.col("q_total")).cast("long") * share
        + F.lit(0.5)
    ).cast("long")
    return q.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(requested, F.lit(_TB_MAX_REPEATS) * F.col("q_tok"))
        .cast("long")
        .alias("alloc_tokens"),
    )


#: Schema of the budget gate's drained decision rows (the _decide
#: select) — the empty-drain close branch builds a typed empty frame
#: from it rather than crashing on a None epoch read.
_GATE_DEC_SCHEMA = (
    f"doc_id long, source string, epoch long, n_tok long, {_SIGNALS_DDL}, "
    "quality boolean, admitted boolean, alloc_tokens long"
)

#: Persisted decision-record root (VERDICT r14 task 4): four graded
#: queries re-drained the identical budget-gate topology (~280 s of
#: the sf1 mirror) to obtain the SAME decision record.  Production
#: drains a window once and every downstream consumer reads the
#: decision record, so the graded consumers now do the same: the
#: record is cached per (corpus fingerprint, gate params) behind the
#: _ann_cached protocol.  SPARK_GRAFT_GATE_CACHE=0 forces a live
#: drain — the whole pytest suite runs that way (conftest) so the
#: drain topology and kill-and-resume proofs keep exercising the
#: real stream; tests/test_gate_cache.py diffs both branches
#: row-for-row.
#:
#: PROCESS-scoped (r15 optimization round): the root carries the PID
#: and is removed at interpreter exit, so every bench / oracle
#: INVOCATION drains the topology live from the parquet inputs at
#: least once — the cache only deduplicates the four graded consumers
#: of the same window WITHIN one run (production semantics: one drain,
#: many readers), never across runs.  A cross-run persistent record
#: would let a later bench serve decisions it never computed.
_GATE_DEC_CACHE_ROOT = f"/tmp/spark_graft_gatedec-{os.getpid()}"


def _gate_dec_cache_cleanup() -> None:
    import shutil as _sh

    _sh.rmtree(_GATE_DEC_CACHE_ROOT, ignore_errors=True)


import atexit as _atexit  # noqa: E402

_atexit.register(_gate_dec_cache_cleanup)


def _gate_dec_params() -> str:
    """Every constant that shapes the budget gate's decision rows,
    folded into the cache key (the _ann_params rule: a knob change
    must re-drain, never serve stale decisions).  Signal definitions
    that have no standalone constant (Gopher thresholds, the NB
    feature space) are covered by the version tag — bump it when
    gate semantics change."""
    return (
        f"gatedec:v3:replays{_BUDGET_REPLAYS}:b{_TB_BUDGET_MULT}"
        f":r{_TB_MAX_REPEATS}:cut{_NDLIVE_CUT}{_NDLIVE_TAG}"
        f":nd{_ND_BANDS}x{_ND_BITS}.{_ND_HAM}:bench%{_GL_BENCH_MOD}"
        f":px[{_pixel_params()}]:au[{_audio_params()}]"
    )


def _gate_budget_decisions(spark, sf_dir, audit, tok_unit="words"):
    """The budget gate's drained DECISION RECORD, served from the
    fingerprint-keyed artifact cache: the first graded consumer
    drains the topology live and publishes the record
    (``cache_marker.publish_once``; a lost race reads the winner's
    copy — the decisions are a pure function of the data, so both
    drains produce identical rows); later consumers read the parquet.
    With SPARK_GRAFT_GATE_CACHE=0 every call drains live (the pytest
    suite's mode).  Returns the decision rows localCheckpointed, cut
    off from any run directory."""

    def _drain_live():
        with tempfile.TemporaryDirectory(
            prefix="ds_gatedec_", ignore_cleanup_errors=True
        ) as run_dir:
            dec_path = _budget_gate_drain(
                spark, sf_dir, run_dir, audit, tok_unit=tok_unit
            )
            dec = _epoch_read(spark, dec_path)
            if dec is None:
                return spark.createDataFrame([], _GATE_DEC_SCHEMA)
            return dec.localCheckpoint(eager=True)

    if os.environ.get("SPARK_GRAFT_GATE_CACHE", "1") == "0":
        return _drain_live()
    from .bpe_shared import _BPE_N_MERGES as _BPE_M

    # the BPE unit's decisions are shaped by the tokenizer too —
    # fold its vocabulary constant into the key (review finding r15:
    # a merge-count bump must re-drain, never serve stale decisions)
    unit_tag = f"tok{tok_unit}" + (
        f".m{_BPE_M}" if tok_unit == "bpe" else ""
    )
    fp = fixture_fingerprint(
        sf_dir, "documents", params=f"{_gate_dec_params()}:{unit_tag}"
    )
    key = hashlib.md5(fp.encode()).hexdigest()[:16]
    path = publish_once(
        os.path.join(_GATE_DEC_CACHE_ROOT, f"dec-{tok_unit}-{key}"),
        lambda tmp: _drain_live().write.mode("overwrite").parquet(tmp),
    )
    return spark.read.parquet(path).localCheckpoint(eager=True)


def _budget_gate_drain(
    spark, sf_dir, run_dir, audit, kill_epoch=None, tok_unit="words",
    persist_ann=False,
):
    """Drain (or RESUME) the budget-enforcing admission topology: the
    gate window (the ':ndlive' delta) is replayed _BUDGET_REPLAYS
    whole epochs (one parquet file per epoch, maxFilesPerTrigger=1 —
    the multi-epoch firehose), and foreachBatch decides EVERY
    arrival: the seven admission signals of _five_signal_annotate
    (1:1 lookups against the persisted hash, near-dup, pixel, audio
    and contamination flag indexes + the row-local Gopher gate + the
    served NB logit), then the LAST
    rung — budget_exhausted — from a deterministic cutoff: a
    quality-surviving arrival is admitted iff the cumulative
    quality-surviving tokens of its source in GLOBAL (epoch, doc_id)
    order, including itself, stay within alloc_tokens.  Cross-epoch
    spend comes from a per-epoch LEDGER (epoch-dir writes with the
    before_epoch retry guard — the gate family's exactly-once
    discipline); the within-batch part is a per-source window cumsum
    in doc_id order.  The (epoch, doc_id) key makes the decision a
    pure function of the data, independent of batching — the
    batch-order-determinism the oracle replays.

    Re-invoking on an EXISTING run_dir resumes from its checkpoint:
    the epoch files are not rewritten (the file source tracks
    processed files by path, and a rewrite would also scramble the
    mtime ordering that pins epoch==batch) and committed epochs are
    not re-executed.  ``kill_epoch`` injects a one-shot crash AFTER
    the victim epoch's decision AND ledger writes but BEFORE its
    commit — the worst ordering for the one topology with
    cross-epoch mutable state: a replay that read its own orphaned
    ledger epoch would double-count spend and flip admissions."""
    import time as _time

    if tok_unit not in ("words", "bpe"):
        raise ValueError(f"unknown gate token unit {tok_unit!r}")
    delta = (
        table(spark, sf_dir, "documents")
        .where(~_base_split("doc_id", _NDLIVE_TAG))
        .select("doc_id", "text", "source")
    )
    # Resume only behind the _staged marker (written AFTER the whole
    # epoch-file loop): a crash mid-staging must re-stage from
    # scratch, never drain a truncated epoch set as if it were
    # complete — os.path.isdir(stream_dir) alone cannot tell a fully
    # staged run from one that died after two of five files.
    staged_marker = os.path.join(run_dir, "_staged")
    resume = os.path.exists(staged_marker)
    if resume:
        # the marker records the token unit the run was staged with:
        # its persisted n_tok column and the ledger epochs already
        # written count in that unit, so a resume under another unit
        # would mix the two in one cutoff
        with open(staged_marker) as fh:
            staged_unit = fh.read().split()[-1]
        if staged_unit != tok_unit:
            raise ValueError(
                f"run dir {run_dir} was staged with tok_unit "
                f"{staged_unit!r}; cannot resume it with {tok_unit!r}"
            )
    # ONE seven-signal annotation pass over the window (r15, guide
    # §2.4/§8): every replayed epoch carries the IDENTICAL delta and
    # every signal is a pure per-doc function (row-local expression
    # or 1:1 persisted-index lookup), so the per-epoch re-annotation
    # — previously 1 planner pass + _BUDGET_REPLAYS per-batch passes
    # over the same rows, the drain's dominant cost — collapses to
    # one materialized table the batches join by doc_id.  This is
    # the oracle's own structure (gd computed once, CROSS JOIN ep).
    #
    # r16: the annotation is PERSISTED in the run_dir next to the
    # staged epoch files (written before the _staged marker, so its
    # presence is implied by resume) and a RESUMED drain reads it
    # back instead of recomputing it — the same reuse discipline as
    # the epoch files and the checkpoint (the table is the drain's
    # own durable input, a pure function of fixture + serving
    # indexes; parquet round-trips its doubles exactly, so resumed
    # decisions replay bit-identically — pinned by the kill/resume
    # parity oracle itself).  The bpe merge learn rides inside the
    # build branch: its only consumer is the persisted n_tok column.
    ann_path = os.path.join(run_dir, "ann0")
    if resume and os.path.isdir(ann_path):
        ann0 = spark.read.parquet(ann_path).localCheckpoint(eager=True)
    else:
        merges = None
        if tok_unit == "bpe":
            from ..analytics.core import spread as _spread_fn
            from .text import _learn_bpe_merges

            # the served merge table: learned ONCE per drain over the
            # corpus (bounded O(50) vocabulary state — the trainer's
            # frozen rank order), then folded into every batch's
            # row-local projection
            merges = _learn_bpe_merges(
                _spread_fn(table(spark, sf_dir, "documents"))
            )
        ann0 = _five_signal_annotate(spark, sf_dir, delta)
        if merges is None:
            ann0 = ann0.withColumn("n_tok", F.col("n_words"))
        else:
            ann0 = ann0.join(
                delta.select(
                    "doc_id", _bpe_ntok_col(merges).alias("n_tok")
                ),
                "doc_id",
            )
        ann0 = ann0.localCheckpoint(eager=True)
        if persist_ann:
            # only resumable run_dirs pay the write — the decision-
            # record drains land in a throwaway tempdir and never
            # resume, so the parquet would be pure overhead there
            ann0.write.mode("overwrite").parquet(ann_path)
    alloc = _budget_alloc_from_ann(ann0).collect()
    alloc_rows = [(r["source"], r["alloc_tokens"]) for r in alloc]
    stream_dir = os.path.join(run_dir, "delta")
    if not resume:
        import shutil as _shutil

        _shutil.rmtree(stream_dir, ignore_errors=True)
    os.makedirs(stream_dir, exist_ok=True)
    stage = os.path.join(run_dir, "_stage")
    if not resume:
        # stage the arrival METADATA only (doc_id, epoch): the text
        # payload was previously written to disk once per epoch and
        # re-scanned by the stream, yet every decision derives from
        # the precomputed annotation — move heavy bytes zero times,
        # ship the 8-byte key (guide §2.3 "shuffle keys and metadata
        # instead of payloads", §8).
        ids = delta.select("doc_id")
        for e in range(_BUDGET_REPLAYS):
            (
                ids.withColumn("epoch", F.lit(e).cast("long"))
                .coalesce(1)
                .write.mode("overwrite")
                .parquet(stage)
            )
            part = [
                f for f in os.listdir(stage) if f.endswith(".parquet")
            ][0]
            dst = os.path.join(stream_dir, f"epoch{e}.parquet")
            os.replace(os.path.join(stage, part), dst)
            # strictly increasing mtimes pin the file-source
            # processing order to epoch order (the source sorts by
            # timestamp)
            t = _time.time() + e - _BUDGET_REPLAYS
            os.utime(dst, (t, t))
        with open(staged_marker, "w") as fh:
            fh.write(f"{_BUDGET_REPLAYS} {tok_unit}")
    ledger_path = os.path.join(run_dir, "ledger")
    dec_path = os.path.join(run_dir, "decisions")

    def _decide(batch_df, epoch_id):
        from pyspark.sql import Window as W

        sess = batch_df.sparkSession
        epochs = [
            r[0] for r in batch_df.select("epoch").distinct().collect()
        ]
        if len(epochs) != 1 or int(epochs[0]) != int(epoch_id):
            # one file per trigger in mtime order means batch k IS
            # epoch k; anything else silently breaks the ledger's
            # "prior epochs" reads — fail loudly instead.
            raise RuntimeError(
                f"budget gate batch {epoch_id} carried epochs {epochs}"
            )
        # the batch's annotation = the precomputed per-doc table,
        # restricted to this batch's arrivals (1:1 inner join on the
        # key; the n_tok column already carries the gate's token
        # unit — whitespace words or the served-merge-table BPE
        # count — so the cutoff still decides in the unit the
        # payload ships)
        ann = batch_df.select("doc_id").join(ann0, "doc_id")
        keep = _ladder_keep(_LADDER)
        al = sess.createDataFrame(
            alloc_rows, "source string, alloc_tokens long"
        )
        prior = _epoch_read(sess, ledger_path, before_epoch=epoch_id)
        if prior is None:
            prior = sess.createDataFrame(
                [], "source string, q_tok long"
            )
        prior = prior.groupBy("source").agg(
            F.sum("q_tok").cast("long").alias("prior_tok")
        )
        w = W.partitionBy("source").orderBy("doc_id").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        qtok = F.when(keep, F.col("n_tok")).otherwise(F.lit(0))
        dec = (
            ann.withColumn("quality", keep)
            .withColumn("wcum", F.sum(qtok).over(w))
            .join(F.broadcast(al), "source", "left")
            .join(F.broadcast(prior), "source", "left")
            .withColumn(
                "admitted",
                F.col("quality")
                & (
                    F.coalesce("prior_tok", F.lit(0)) + F.col("wcum")
                    <= F.col("alloc_tokens")
                ),
            )
            .select(
                "doc_id",
                "source",
                F.lit(int(epoch_id)).cast("long").alias("epoch"),
                "n_tok",
                *_SIGNALS,
                "quality",
                F.coalesce("admitted", F.lit(False)).alias("admitted"),
                F.coalesce("alloc_tokens", F.lit(0)).alias(
                    "alloc_tokens"
                ),
            )
        )
        _epoch_write(dec, dec_path, epoch_id)
        _epoch_write(
            ann.where(keep)
            .groupBy("source")
            .agg(F.sum("n_tok").cast("long").alias("q_tok")),
            ledger_path,
            epoch_id,
        )
        _kill_point(run_dir, kill_epoch, epoch_id)

    stream = (
        spark.readStream.schema("doc_id long, epoch long")
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir)
    )
    _await_and_audit(stream, _decide, run_dir, audit, ledger_path)
    return dec_path


def _gate_budget_dec_ctes(nw_block: str) -> str:
    """The budget gate's decision-row CTE chain (ending in ``dec``:
    seven-signal admission + plan arithmetic + global (epoch,
    doc_id) cumulative cutoff), TEMPLATED over the per-doc token
    definition: ``nw_block`` must end defining a CTE ``nw(doc_id,
    source, n_tok)``.  One arithmetic definition, two token units —
    the whitespace gate and the BPE gate (VERDICT r14 task 3) can
    never drift on what 'cutoff' means."""
    return f"""gate AS (SELECT * FROM ({{GATE_LIVE}}) ga),
    {nw_block},
    gd AS (
        SELECT g.doc_id, g.exact_dup, g.near_dup, g.pixel_dup,
               g.audio_dup,
               g.contaminated, g.gopher_keep, g.nb_logit, g.keep,
               n.source, n.n_tok
        FROM gate g JOIN nw n USING (doc_id)
    ),
    qsrc AS (
        SELECT source, CAST(sum(n_tok) AS BIGINT) AS q_tok,
               CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000
                          + 0.5) AS BIGINT) AS s6
        FROM gd WHERE keep GROUP BY source
    ),
    qtot AS (SELECT CAST(sum(q_tok) AS BIGINT) AS q_total,
                    CAST(sum(s6) AS BIGINT) AS s6_total FROM qsrc),
    qalloc AS (
        SELECT source,
               least(CAST(floor(CAST({_TB_BUDGET_MULT} * q_total AS BIGINT)
                                * (floor(CAST(s6 AS DOUBLE) / s6_total
                                         * 1000000 + 0.5) / 1000000)
                                + 0.5) AS BIGINT),
                     {_TB_MAX_REPEATS} * q_tok) AS alloc_tokens
        FROM qsrc, qtot
    ),
    ep AS (SELECT UNNEST(range({_BUDGET_REPLAYS})) AS epoch),
    arr AS (SELECT gd.*, e.epoch FROM gd CROSS JOIN ep e),
    cum AS (
        SELECT a.*, qa.alloc_tokens,
               sum(CASE WHEN a.keep THEN a.n_tok ELSE 0 END) OVER (
                   PARTITION BY a.source ORDER BY a.epoch, a.doc_id
                   ROWS UNBOUNDED PRECEDING) AS cumq
        FROM arr a LEFT JOIN qalloc qa USING (source)
    ),
    dec AS (
        SELECT *, (keep AND cumq <= alloc_tokens) AS admitted FROM cum
    )""".replace("{GATE_LIVE}", _GATE_LIVE_SQL)


#: ONE oracle definition of the budget gate's decision rows in the
#: WHITESPACE token unit — shared by the budget gate's economics
#: report, its kill-and-resume twin, the gate-fed shard writer, the
#: delivery/mixture audits and the close-resume proof, so the graded
#: consumers can never drift from each other.
_GATE_BUDGET_DEC_CTES = _gate_budget_dec_ctes(
    """nw AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_tok
        FROM documents
    )"""
)

#: The budget gate's graded economics-report tail over ``dec`` —
#: shared verbatim by streaming_ingest_gate_budget and its
#: kill-and-resume twin (a resumed run must produce the SAME truth).
def _gate_budget_report_sql(dec_ctes: str) -> str:
    """The budget gate's graded economics-report tail over ``dec`` —
    templated over the decision chain so the whitespace-unit and
    BPE-unit gates grade through ONE aggregation definition."""
    return f"""
    WITH {dec_ctes}
    SELECT source, CAST(epoch AS BIGINT) AS epoch,
           CAST(count(*) AS BIGINT) AS n_arrivals,
           CAST(sum(CASE WHEN exact_dup THEN 1 ELSE 0 END) AS BIGINT)
               AS n_exact_dup,
           CAST(sum(CASE WHEN NOT exact_dup AND near_dup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND pixel_dup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_pixel_dup,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND audio_dup
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_audio_dup,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND NOT audio_dup
                              AND contaminated
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND NOT audio_dup
                              AND NOT contaminated AND NOT gopher_keep
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_gopher_fail,
           CAST(sum(CASE WHEN NOT exact_dup AND NOT near_dup
                              AND NOT pixel_dup AND NOT audio_dup
                              AND NOT contaminated
                              AND gopher_keep AND nb_logit <= 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_nb_fail,
           CAST(sum(CASE WHEN keep AND NOT admitted
                         THEN 1 ELSE 0 END) AS BIGINT)
               AS n_budget_exhausted,
           CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
               AS n_admitted,
           CAST(sum(CASE WHEN admitted THEN n_tok ELSE 0 END)
                AS BIGINT) AS admitted_tokens,
           CAST(coalesce(max(alloc_tokens), 0) AS BIGINT) AS alloc_tokens
    FROM dec
    GROUP BY source, epoch
    ORDER BY source, epoch
    """


#: The whitespace-unit instantiation — shared verbatim by
#: streaming_ingest_gate_budget and its kill-and-resume twin (a
#: resumed run must produce the SAME truth).
_GATE_BUDGET_REPORT_SQL = _gate_budget_report_sql(_GATE_BUDGET_DEC_CTES)


@query(
    "streaming_ingest_gate_budget",
    _GATE_BUDGET_REPORT_SQL,
    doc="BUDGET-ENFORCING admission — the fused gate's LAST decision "
    "input (VERDICT r12 task 2): the gate window is replayed as a "
    f"multi-epoch firehose ({_BUDGET_REPLAYS} whole epochs, one more "
    "than the repeat cap, so every source with a nonzero allocation "
    "EXHAUSTS its budget mid-run by construction at any scale "
    "factor), and each arrival gets the seven ladder signals plus "
    "budget_exhausted: a quality-surviving arrival is admitted iff "
    "its source's cumulative quality tokens in GLOBAL (epoch, "
    "doc_id) order stay within alloc_tokens — the plan arithmetic "
    "(pipeline_epoch_plan's s6/snap/cap rules, SAME token unit: "
    "whitespace) applied to the window's quality-surviving tokens, "
    "i.e. plan over what you actually train on.  The cutoff is a "
    "pure function of the data — cumulative sums are ordered by the "
    "(epoch, doc_id) key the shard writer already uses, NEVER by "
    "arrival, so batching cannot change a decision (the "
    "determinism subtlety the task named); cross-epoch spend rides "
    "the per-epoch ledger with the before_epoch retry guard "
    "(exactly-once discipline), and a batch carrying the wrong epoch "
    "fails loudly rather than desynchronizing the ledger.  The "
    "graded table is the economics report grown by the new rung: "
    "per (source, epoch), first-failing-reason counts (exact > near "
    "> pixel > audio > contamination > gopher > NB > budget_exhausted "
    "> admitted) "
    "that PARTITION n_arrivals, plus the admitted-token burn-down "
    "against alloc.  Scale: signals are 1:1 persisted-index lookups "
    "+ row-local expressions; the ledger is O(#sources) per epoch; "
    "the within-batch cumsum is a per-source window over one "
    "window's arrivals.  Reference capability: none — north star "
    "(closes the planner loop's actuation gap: the monitor observes "
    "the budget, THIS enforces it).",
)
def streaming_ingest_gate_budget(spark, sf_dir):
    return _gate_budget_report(
        _gate_budget_decisions(spark, sf_dir, _GATE_BUDGET_LAST_RUN)
    )


def _gate_budget_report(dec):
    """The budget gate's graded economics report over drained decision
    rows — factored so the kill-and-resume twin grades the SAME
    aggregation (a resumed run must produce the same truth)."""
    return (
        dec.groupBy("source", "epoch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_arrivals"),
            *_ladder_reasons(),
            _count_if(F.col("quality") & ~F.col("admitted")).alias(
                "n_budget_exhausted"
            ),
            _count_if(F.col("admitted")).alias("n_admitted"),
            F.sum(
                F.when(F.col("admitted"), F.col("n_tok")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("admitted_tokens"),
            F.max("alloc_tokens").cast("long").alias("alloc_tokens"),
        )
        .orderBy("source", "epoch")
        .localCheckpoint(eager=True)
    )


#: Audit facts of the last streaming_ingest_gate_budget_resume run.
_GATE_BUDGET_RESUME_LAST_RUN: dict = {}


@query(
    "streaming_ingest_gate_budget_resume",
    _GATE_BUDGET_REPORT_SQL,
    doc="KILL-AND-RESUME exactly-once for the BUDGET gate (VERDICT "
    "r13 task 2) — the one live topology with cross-epoch MUTABLE "
    "state (the per-epoch spend ledger), which is exactly where a "
    "replayed epoch double-counting spend would silently flip "
    "admissions.  The injected crash takes the worst ordering: the "
    "victim epoch completes BOTH its side-effect writes (the "
    "decision rows AND its ledger epoch) and dies before its "
    "checkpoint commit — leaving an orphaned ledger epoch that the "
    "replayed batch must IGNORE when reading prior spend "
    "(_epoch_read's before_epoch guard: epoch k's cutoff joins only "
    "ledger epochs < k, so its own failed attempt is invisible and "
    "spend is never double-counted) and OVERWRITE when re-emitting "
    "(per-epoch OVERWRITE subdirs).  The restart reuses the SAME "
    "checkpoint and epoch files (tracked by path — never rewritten "
    "on resume, which also preserves the mtime ordering that pins "
    "epoch==batch), so committed epochs are not re-executed and the "
    "victim re-runs with its original epoch_id.  Graded by the SAME "
    "oracle as the uninterrupted budget gate — the exactly-once "
    "statement: a mid-stream crash between the ledger write and the "
    "commit is observationally invisible in every admission "
    "decision.  Kill evidence is read from the checkpoint commit "
    "log (committed-before-crash < total proves the first attempt "
    "was genuinely partial).",
)
def streaming_ingest_gate_budget_resume(spark, sf_dir):
    with tempfile.TemporaryDirectory(
        prefix="ds_gatebudgetres_", ignore_cleanup_errors=True
    ) as run_dir:
        dec_path = _kill_and_resume(
            run_dir,
            _GATE_BUDGET_RESUME_LAST_RUN,
            functools.partial(
                _budget_gate_drain,
                spark,
                sf_dir,
                run_dir,
                _GATE_BUDGET_RESUME_LAST_RUN,
                persist_ann=True,
            ),
        )
        return _gate_budget_report(_epoch_read(spark, dec_path))


#: The admitted-rows → pack → rank → manifest oracle tail over the
#: shared ``dec`` CTE chain (the gate-fed shard writer's oracle).
_GATE_SHARDS_PACK_CTES = f"""gt AS (
        SELECT doc_id, epoch, doc_id % {_PL_PACK_SHARDS} AS shard,
               n_tok
        FROM dec WHERE admitted
    ),
    gc AS (
        SELECT doc_id, epoch, shard, n_tok,
               sum(n_tok) OVER (PARTITION BY shard ORDER BY epoch, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
        FROM gt
    ),
    packed AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST((cum - n_tok) // {_PL_SEQ_LEN} AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens_in
        FROM gc GROUP BY shard, seq_id
    )"""

#: Audit facts of the last gate-fed shard run (per consuming query).
_GATE_SHARDS_LAST_RUN: dict = {}
_GATE_DELIV_LAST_RUN: dict = {}


def _gate_shards_close(spark, sf_dir, run_dir, dec):
    """Close the admission→delivery seam: pack and write training
    shards from EXACTLY the budget gate's admitted (source, epoch,
    doc) decision rows — the corpus is never re-read at close (the
    gate's decision record carries each arrival's token count), and
    the delivered (doc, epoch) set is the gate's, not the planner's.
    Epoch-major packing + the batch writer's seeded-shuffle /
    two-phase-rank / manifest machinery verbatim.  ``dec`` is the
    drained decision record (cached or live — _gate_budget_
    decisions).  Returns (decision rows, written shard rows,
    per-shard manifest), all cut off from run_dir (localCheckpoint)
    so the caller can tear the run down.

    The written rows carry ``src_toks`` — each sequence's per-source
    token composition (VERDICT r14 task 2), derived from the SAME
    doc→sequence assignment as the pack itself (_doc_seq_assign), so
    the data card's realized-mixture numbers are provable FROM THE
    WRITTEN FILES rather than by re-reading the decision record."""
    from .pipeline_llm import (
        _doc_seq_assign,
        _shards_manifest,
        _write_shards,
    )

    if not dec.where(F.col("admitted")).take(1):
        # a drain with no decision epochs OR no admitted rows closes
        # to an empty manifest, not a crash (review findings r14/r15:
        # an all-rejected window would otherwise die in the writer's
        # read-back — an empty partitionBy write emits no part files)
        empty_shards = spark.createDataFrame(
            [],
            "shard_out long, rank long, key string, shard long, "
            "seq_id long, n_docs long, first_doc long, "
            "n_tokens_in long, "
            "src_toks array<struct<source:string,src_tok:bigint>>",
        )
        return (
            dec,
            empty_shards,
            spark.createDataFrame(
                [],
                "shard_id long, n_seqs long, n_tokens long, "
                "content_fp long",
            ),
        )
    adm = dec.where(F.col("admitted")).select(
        "doc_id",
        "epoch",
        "source",
        (F.col("doc_id") % _PL_PACK_SHARDS).alias("shard"),
        "n_tok",
    )

    def _seqs_with_sources():
        # the shared assignment rule, then ONE extra grouping level
        # (shard, seq_id, source) whose rollup reproduces the pack's
        # per-seq aggregates exactly: n_docs = Σ src_docs, first_doc
        # = min src_first, n_tokens_in = Σ src_tok — so the manifest
        # (and its position-sensitive fingerprint) is unchanged while
        # src_toks rides into the written rows.  Bounded: a sequence
        # holds at most #sources composition entries.
        assigned = _doc_seq_assign(
            adm, order_cols=("epoch", "doc_id"), keep_cols=("source",)
        )
        per_src = assigned.groupBy("shard", "seq_id", "source").agg(
            F.count(F.lit(1)).cast("long").alias("src_docs"),
            F.min("doc_id").cast("long").alias("src_first"),
            F.sum("n_tok").cast("long").alias("src_tok"),
        )
        return per_src.groupBy("shard", "seq_id").agg(
            F.sum("src_docs").cast("long").alias("n_docs"),
            F.min("src_first").cast("long").alias("first_doc"),
            F.sum("src_tok").cast("long").alias("n_tokens_in"),
            F.sort_array(
                F.collect_list(F.struct("source", "src_tok"))
            ).alias("src_toks"),
        )

    shards = _write_shards(
        spark,
        sf_dir,
        root=os.path.join(run_dir, "shards"),
        seqs_fn=_seqs_with_sources,
        params=(
            f"gate-budget:pack{_PL_SEQ_LEN}x{_PL_PACK_SHARDS}"
            f":ws{_PL_WRITE_SHARDS}:seed{_PL_SEED}"
            f":b{_TB_BUDGET_MULT}:r{_TB_MAX_REPEATS}:srctoks:v2"
        ),
        extra_cols=("src_toks",),
    ).localCheckpoint(eager=True)
    return (
        dec,
        shards,
        _shards_manifest(shards).localCheckpoint(eager=True),
    )


@query(
    "streaming_shards_from_gate",
    f"""
    WITH {_GATE_BUDGET_DEC_CTES},
    {_GATE_SHARDS_PACK_CTES},
    {_PL_RANK_SQL}
    SELECT CAST(shard_out AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tokens_in) AS BIGINT) AS n_tokens,
           CAST(sum(CAST('0x' || substr(
               md5(key || ':' || CAST(rank AS VARCHAR)), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_fp
    FROM assigned
    GROUP BY shard_out
    ORDER BY shard_id
    """,
    doc="The admission→delivery SEAM, closed (VERDICT r13 task 1): "
    "the training shards contain EXACTLY the documents the budget "
    "gate admitted.  The live seven-signal budget gate drains first "
    "(the streaming_ingest_gate_budget topology verbatim — multi-"
    "epoch firehose, per-epoch spend ledger, global (epoch, doc_id) "
    "cutoff); its drained DECISION RECORD — never the corpus — then "
    "feeds the shard machinery: admitted (doc, epoch) rows pack "
    "epoch-major through the shared concat-and-chunk rule and ship "
    "through _write_shards' seeded deterministic shuffle + two-phase "
    "256-bucket exact rank, one parquet partition per shard.  The "
    "graded rows are the per-shard manifest read back FROM THE "
    "WRITTEN FILES (position-sensitive (key, rank) content "
    "fingerprint), against an oracle that replays the ENTIRE arc in "
    "one statement: seven-signal admission + plan arithmetic + budget "
    "cutoff + concat-and-chunk + rank — so a writer that ships one "
    "rejected doc, drops one admitted doc, or misorders one sequence "
    "is a hash mismatch.  This turns the planner (r12), the enforcer "
    "(r13) and the writer (r13) into one provable pipeline: what the "
    "gate admits is what trains.  Scale: the close step is "
    "O(admitted rows) metadata — token counts ride the decision "
    "record, so the 100 TB corpus text is read exactly once, in the "
    "stream.  Reference capability: none — north star.",
)
def streaming_shards_from_gate(spark, sf_dir):
    with tempfile.TemporaryDirectory(
        prefix="ds_gateshards_", ignore_cleanup_errors=True
    ) as run_dir:
        dec = _gate_budget_decisions(
            spark, sf_dir, _GATE_SHARDS_LAST_RUN
        )
        _dec, _shards, man = _gate_shards_close(
            spark, sf_dir, run_dir, dec
        )
        return man


def _gate_delivery_sql(dec_ctes: str) -> str:
    """The delivery-audit oracle tail over ``dec`` — templated over
    the decision chain so the whitespace-unit and BPE-unit delivery
    audits grade through ONE definition (and both keep the r14
    single-evaluation discipline: the chain is referenced once)."""
    return f"""
    WITH {dec_ctes},
    per_src AS (
        SELECT source,
               CAST(coalesce(max(alloc_tokens), 0) AS BIGINT)
                   AS alloc_tokens,
               CAST(sum(CASE WHEN admitted THEN n_tok ELSE 0 END)
                    AS BIGINT) AS admitted_tokens,
               CAST(sum(CASE WHEN admitted THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_admitted
        FROM dec GROUP BY source
    )
    SELECT source, alloc_tokens, admitted_tokens, n_admitted,
           (admitted_tokens <= alloc_tokens) AS within_alloc,
           CAST(sum(admitted_tokens) OVER () AS BIGINT) AS shard_tokens,
           TRUE AS tokens_match
    FROM per_src
    ORDER BY source
    """


def _gate_delivery_audit(spark, sf_dir, audit, tok_unit="words"):
    """Shared body of the two delivery audits: obtain the decision
    record in the declared token unit, close the seam (pack + write
    + manifest read-back), and pin alloc/admitted/shard-token
    identities per source."""
    with tempfile.TemporaryDirectory(
        prefix="ds_gatedeliv_", ignore_cleanup_errors=True
    ) as run_dir:
        dec = _gate_budget_decisions(
            spark, sf_dir, audit, tok_unit=tok_unit
        )
        dec, _shards, man = _gate_shards_close(spark, sf_dir, run_dir, dec)
        per_src = dec.groupBy("source").agg(
            # coalesce to match the oracle's coalesce(max(..), 0):
            # a source with null alloc must read 0, not null
            # (review finding r14)
            F.coalesce(F.max("alloc_tokens"), F.lit(0))
            .cast("long")
            .alias("alloc_tokens"),
            F.sum(
                F.when(F.col("admitted"), F.col("n_tok")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("admitted_tokens"),
            F.sum(F.col("admitted").cast("long"))
            .cast("long")
            .alias("n_admitted"),
        )
        stot = man.agg(
            F.sum("n_tokens").cast("long").alias("shard_tokens")
        )
        adm_tot = per_src.agg(
            F.sum("admitted_tokens").cast("long").alias("adm_total")
        )
        return (
            per_src.crossJoin(F.broadcast(stot))
            .crossJoin(F.broadcast(adm_tot))
            .select(
                "source",
                "alloc_tokens",
                "admitted_tokens",
                "n_admitted",
                (
                    F.col("admitted_tokens") <= F.col("alloc_tokens")
                ).alias("within_alloc"),
                "shard_tokens",
                (F.col("shard_tokens") == F.col("adm_total")).alias(
                    "tokens_match"
                ),
            )
            .orderBy("source")
            .localCheckpoint(eager=True)
        )


@query(
    "streaming_gate_shard_delivery",
    _gate_delivery_sql(_GATE_BUDGET_DEC_CTES),
    doc="Delivery audit of the gate-fed shard writer — the graded "
    "end-to-end proof for the admission→delivery seam: per source, "
    "the gate's alloc_tokens next to its actually-admitted token sum "
    "(within_alloc pinned TRUE: enforcement held), and the total "
    "tokens in the WRITTEN shard files (the Spark side reads the "
    "manifest back from parquet) next to the decision record's "
    "admitted total — tokens_match pinned TRUE: the pack/write "
    "machinery neither dropped nor duplicated one token of what the "
    "gate admitted.  The ORACLE states the expected shard total "
    "arithmetically (sum of admitted tokens — concat-and-chunk "
    "partitions the admitted rows, so the pack preserves the sum "
    "identically; membership and ORDER are streaming_shards_from_"
    "gate's position-sensitive fingerprint): a Spark writer that "
    "drops or duplicates one token flips BOTH columns against the "
    "oracle's expectation.  The oracle deliberately evaluates the "
    "decision chain ONCE — an earlier draft re-derived the shard "
    "total through a pack CTE plus a scalar subquery over per_src, "
    "which made DuckDB re-evaluate the whole seven-signal gate replay "
    "and spill >77 GB at sf1 for zero added verification power "
    "(the sum is partition-invariant).  One O(#sources) aggregate "
    "over the decision record plus one over the manifest.  "
    "Reference capability: none — north star.",
)
def streaming_gate_shard_delivery(spark, sf_dir):
    return _gate_delivery_audit(
        spark, sf_dir, _GATE_DELIV_LAST_RUN, tok_unit="words"
    )


#: Audit facts of the last streaming_gate_shard_mixture run.
_GATE_MIX_LAST_RUN: dict = {}


def _gate_mixture_sql(dec_ctes: str) -> str:
    """The mixture-audit oracle tail over ``dec`` — templated over
    the decision chain (whitespace and BPE units share ONE
    definition; the chain is evaluated once, the §5b9 house rule)."""
    return f"""
    WITH {dec_ctes},
    gt AS (
        SELECT doc_id, epoch, source, alloc_tokens,
               doc_id % {_PL_PACK_SHARDS} AS shard, n_tok
        FROM dec WHERE admitted
    ),
    gc AS (
        SELECT doc_id, epoch, source, alloc_tokens, shard, n_tok,
               sum(n_tok) OVER (PARTITION BY shard ORDER BY epoch, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
        FROM gt
    ),
    gsrc AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST((cum - n_tok) // {_PL_SEQ_LEN} AS BIGINT) AS seq_id,
               source,
               CAST(sum(n_tok) AS BIGINT) AS src_tok,
               CAST(max(alloc_tokens) AS BIGINT) AS alloc_tokens
        FROM gc
        GROUP BY shard, (cum - n_tok) // {_PL_SEQ_LEN}, source
    ),
    keyed AS (
        SELECT *, {_pl_shard_key_sql()} AS key
        FROM gsrc
    ),
    ranked AS (
        SELECT *,
               dense_rank() OVER (ORDER BY key, shard, seq_id) AS rank
        FROM keyed
    ),
    assigned AS (
        SELECT *, {_pl_shard_assign_sql()} AS shard_out
        FROM (SELECT *, max(rank) OVER () AS total FROM ranked)
    )
    SELECT CAST(shard_out AS BIGINT) AS shard_id, source,
           CAST(sum(src_tok) AS BIGINT) AS n_tokens,
           CAST(sum(sum(src_tok)) OVER (PARTITION BY source) AS BIGINT)
               AS src_total_tokens,
           CAST(sum(sum(src_tok)) OVER (PARTITION BY source) AS BIGINT)
               AS admitted_tokens,
           TRUE AS tokens_match,
           CAST(coalesce(max(max(alloc_tokens))
                             OVER (PARTITION BY source), 0)
                AS BIGINT) AS alloc_tokens,
           (sum(sum(src_tok)) OVER (PARTITION BY source)
            <= max(max(alloc_tokens)) OVER (PARTITION BY source))
               AS within_alloc,
           floor(CAST(sum(sum(src_tok)) OVER (PARTITION BY source)
                      AS DOUBLE)
                 / sum(sum(src_tok)) OVER () * 1000000 + 0.5) / 1000000
               AS realized_share
    FROM assigned
    GROUP BY shard_out, source
    ORDER BY shard_id, source
    """


@query(
    "streaming_gate_shard_mixture",
    _gate_mixture_sql(_GATE_BUDGET_DEC_CTES),
    doc="Per-(shard, source) REALIZED-MIXTURE attribution in the "
    "gate-fed shards (VERDICT r14 task 2) — the number a training "
    "run's data card reports: the written shard rows carry each "
    "sequence's per-source token composition (src_toks, derived "
    "from the SAME doc→sequence assignment as the pack — "
    "_doc_seq_assign, one rule, two consumers), and the graded "
    "table reads it back FROM THE WRITTEN FILES: per (shard, "
    "source) token counts, each source's realized total next to "
    "the decision record's admitted total (tokens_match pinned "
    "TRUE — the concat-and-chunk pack partitions the admitted "
    "rows, so per-source sums are preserved identically), its "
    "alloc (within_alloc pinned TRUE: enforcement held per "
    "source), and its snapped share of all delivered tokens.  A "
    "writer that swaps one doc's source attribution, drops one "
    "doc, or leaks one rejected doc flips rows against the "
    "oracle's single-pass replay (admission → plan → cutoff → "
    "pack → seeded rank → source rollup — the decision chain is "
    "evaluated ONCE; per-seq ranks come from a dense_rank over "
    "the per-(seq, source) rows, which enumerates sequences in "
    "exactly the writer's row_number order).  Scale: the close "
    "adds ONE bounded grouping level (≤ #sources entries per "
    "sequence) to the O(admitted-rows) metadata pack; the mixture "
    "read is O(#shards × #sources).  Reference capability: none — "
    "north star.",
)
def streaming_gate_shard_mixture(spark, sf_dir):
    return _gate_mixture_audit(
        spark, sf_dir, _GATE_MIX_LAST_RUN, tok_unit="words"
    )


def _gate_mixture_audit(spark, sf_dir, audit, tok_unit="words"):
    """Shared body of the two mixture audits (one definition, two
    token units): close the seam from the unit's decision record,
    read the realized per-(shard, source) composition back FROM THE
    WRITTEN FILES, and pin it against the record's admitted totals
    and allocs."""
    from pyspark.sql import Window as W

    with tempfile.TemporaryDirectory(
        prefix="ds_gatemix_", ignore_cleanup_errors=True
    ) as run_dir:
        dec = _gate_budget_decisions(
            spark, sf_dir, audit, tok_unit=tok_unit
        )
        dec, shards, _man = _gate_shards_close(
            spark, sf_dir, run_dir, dec
        )
        # realized mixture FROM THE WRITTEN FILES
        mix = (
            shards.select(
                "shard_out", F.explode("src_toks").alias("st")
            )
            .groupBy(
                F.col("shard_out").cast("long").alias("shard_id"),
                F.col("st.source").alias("source"),
            )
            .agg(F.sum("st.src_tok").cast("long").alias("n_tokens"))
        )
        # the decision record's per-source truth (O(#sources))
        per_src = dec.groupBy("source").agg(
            F.sum(
                F.when(F.col("admitted"), F.col("n_tok")).otherwise(
                    F.lit(0)
                )
            )
            .cast("long")
            .alias("admitted_tokens"),
            F.coalesce(F.max("alloc_tokens"), F.lit(0))
            .cast("long")
            .alias("alloc_tokens"),
        )
        ws = W.partitionBy("source")
        wall = W.partitionBy()
        out = (
            mix.withColumn(
                "src_total_tokens",
                F.sum("n_tokens").over(ws).cast("long"),
            )
            .withColumn("_tot", F.sum("n_tokens").over(wall))
            .join(F.broadcast(per_src), "source")
            .select(
                "shard_id",
                "source",
                "n_tokens",
                "src_total_tokens",
                "admitted_tokens",
                (
                    F.col("src_total_tokens")
                    == F.col("admitted_tokens")
                ).alias("tokens_match"),
                "alloc_tokens",
                (
                    F.col("src_total_tokens") <= F.col("alloc_tokens")
                ).alias("within_alloc"),
                (
                    F.floor(
                        F.col("src_total_tokens").cast("double")
                        / F.col("_tot")
                        * 1000000
                        + F.lit(0.5)
                    )
                    / 1000000
                ).alias("realized_share"),
            )
            .orderBy("shard_id", "source")
            .localCheckpoint(eager=True)
        )
        return out


#: Audit facts of the last streaming_shards_from_gate_resume run.
_GATE_SHARDS_RESUME_LAST_RUN: dict = {}


@query(
    "streaming_shards_from_gate_resume",
    f"""
    WITH {_GATE_BUDGET_DEC_CTES},
    {_GATE_SHARDS_PACK_CTES},
    {_PL_RANK_SQL}
    SELECT CAST(shard_out AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tokens_in) AS BIGINT) AS n_tokens,
           CAST(sum(CAST('0x' || substr(
               md5(key || ':' || CAST(rank AS VARCHAR)), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_fp
    FROM assigned
    GROUP BY shard_out
    ORDER BY shard_id
    """,
    doc="CRASH-AND-RERUN proof for the gate→shard CLOSE step "
    "(VERDICT r14 task 5) — the one seam segment that had no resume "
    "proof: the close is a batch job, and a crash mid-shard-write "
    "leaves exactly this on-disk state under run_dir/shards — "
    "committed part-files of a strict SUBSET of the sequences with "
    "wrong shard assignments, an orphaned _temporary dir, and NO "
    "_built marker, because the marker is written only AFTER the "
    "complete write (the _staged-marker discipline applied to the "
    "writer's output).  This query constructs that worst-case "
    "wreckage first (a genuinely partial parquet of half the packed "
    "sequences, all mis-assigned to shard 0), then re-runs the "
    "UNMODIFIED close on the same run_dir: marker_current is False "
    "for a marker-less dir no matter how complete the leftover "
    "files look, so the close discards the wreckage and rebuilds "
    "from the decision record — never serves partial output.  The "
    "graded manifest is read back FROM THE REWRITTEN FILES and must "
    "hash-equal the UNINTERRUPTED close (the SAME oracle as "
    "streaming_shards_from_gate): a re-run after any mid-write "
    "crash is observationally invisible in the delivered shards.  "
    "Audit facts (partial rows present, marker absent before / "
    "present after) are pinned by test.",
)
def streaming_shards_from_gate_resume(spark, sf_dir):
    from .pipeline_llm import _pack_from_counts

    with tempfile.TemporaryDirectory(
        prefix="ds_gateshardsres_", ignore_cleanup_errors=True
    ) as run_dir:
        dec = _gate_budget_decisions(
            spark, sf_dir, _GATE_SHARDS_RESUME_LAST_RUN
        )
        # CRASH INJECTION: materialize the state a close attempt
        # killed mid-write leaves behind — partial data, no marker.
        root = os.path.join(run_dir, "shards")
        data_p = os.path.join(root, "shards.parquet")
        adm = dec.where(F.col("admitted")).select(
            "doc_id",
            "epoch",
            "source",
            (F.col("doc_id") % _PL_PACK_SHARDS).alias("shard"),
            "n_tok",
        )
        partial = (
            _pack_from_counts(adm, order_cols=("epoch", "doc_id"))
            .where(F.col("shard") % 2 == 0)
            .withColumn("shard_out", F.lit(0).cast("long"))
        )
        partial.write.mode("overwrite").parquet(data_p)
        os.makedirs(os.path.join(data_p, "_temporary"), exist_ok=True)
        n_partial = spark.read.parquet(data_p).count()
        marker = os.path.join(root, "_built")
        _GATE_SHARDS_RESUME_LAST_RUN.update(
            {
                "partial_rows": n_partial,
                "marker_before": os.path.exists(marker),
            }
        )
        if n_partial == 0:
            raise RuntimeError(
                "crash injection wrote no rows — the resume proof "
                "is vacuous"
            )
        # re-run the UNMODIFIED close on the wrecked run_dir
        _dec, shards, man = _gate_shards_close(
            spark, sf_dir, run_dir, dec
        )
        _GATE_SHARDS_RESUME_LAST_RUN.update(
            {
                "marker_after": os.path.exists(marker),
                "final_rows": shards.count(),
            }
        )
        return man


from .bpe_shared import (  # noqa: E402
    _BPE_SEP as _BPE_SEP_SQ,
    bpe_apply_ctes as _bpe_apply_ctes,
)

#: The budget gate's decision chain in BPE UNITS (VERDICT r14 task
#: 3): the SAME template as the whitespace gate with only the
#: per-doc token CTE swapped — nw counts tokens under the LEARNED
#: merge table (the prefixed BPE apply chain, 'z' names, because the
#: gate SQL already uses `toks` and `m`).
_GATE_BUDGET_DEC_BPE_CTES = _gate_budget_dec_ctes(
    f"""{_bpe_apply_ctes("z")},
    nw AS (
        SELECT a.doc_id, d0.source,
               CAST((length(a.e2)
                     - length(replace(a.e2, '{_BPE_SEP_SQ}', ''))) // 2
                    AS BIGINT) AS n_tok
        FROM zap a JOIN documents d0 USING (doc_id)
    )"""
)

#: Audit facts of the last BPE-unit gate runs.
_GATE_BUDGET_BPE_LAST_RUN: dict = {}
_GATE_DELIV_BPE_LAST_RUN: dict = {}


@query(
    "streaming_ingest_gate_budget_bpe",
    _gate_budget_report_sql(_GATE_BUDGET_DEC_BPE_CTES),
    doc="The budget gate IN BPE UNITS (VERDICT r14 task 3) — closes "
    "the admission edge's unit mismatch: the whitespace gate decided "
    "in n_words while the payload shards ship BPE ids, exactly the "
    "silent-conversion hazard pipeline_llm's token-unit contract "
    "forbids.  Same topology (multi-epoch firehose, per-epoch spend "
    "ledger with the before_epoch guard, global (epoch, doc_id) "
    "cutoff), same seven-signal ladder, same plan arithmetic — but "
    "every arrival's token count is computed ROW-LOCALLY under the "
    "SERVED merge table (text_bpe_tokenize's tokenizer folded as "
    "chained replace literals — one codegen'd projection, zero "
    "shuffle, the streaming_quality_score serving pattern; the "
    "bounded O(50) merge list is learned once per drain), the "
    "per-source allocation is planned over quality-surviving BPE "
    "tokens (pipeline_epoch_plan_bpe's unit), and budget_exhausted "
    "bites on cumulative BPE tokens vs a BPE-unit alloc.  The two "
    "gates genuinely differ: BPE merges compress sources "
    "non-uniformly, so allocations and cutoff points shift between "
    "units — which is why the unit is part of the gate's identity.  "
    "Graded by the SAME report aggregation as the whitespace gate "
    "over the SAME templated decision chain with only the per-doc "
    "token CTE swapped (one arithmetic definition, two units — the "
    "units cannot drift).  Scale: the added per-batch cost is one "
    "row-local projection; everything else is unchanged.  Reference "
    "capability: none — north star.",
)
def streaming_ingest_gate_budget_bpe(spark, sf_dir):
    return _gate_budget_report(
        _gate_budget_decisions(
            spark, sf_dir, _GATE_BUDGET_BPE_LAST_RUN, tok_unit="bpe"
        )
    )


@query(
    "streaming_gate_shard_delivery_bpe",
    _gate_delivery_sql(_GATE_BUDGET_DEC_BPE_CTES),
    doc="Delivery audit of the BPE-unit gate-fed shard writer — the "
    "admission→delivery seam proven end-to-end IN THE PAYLOAD'S OWN "
    "UNIT (VERDICT r14 task 3's second half): the BPE gate's "
    "decision record feeds the same pack/write machinery, and per "
    "source the BPE alloc sits next to the admitted BPE token sum "
    "(within_alloc pinned TRUE) while the WRITTEN shard files' "
    "token total is read back and pinned equal to the decision "
    "record's admitted BPE total (tokens_match TRUE) — 'what the "
    "gate admits is what trains', with admission, packing and "
    "delivery all counting in BPE tokens so no silent unit "
    "conversion can hide between the gate and the shards.  Same "
    "single-evaluation oracle discipline as the whitespace delivery "
    "audit (the decision chain is referenced once; the shard total "
    "is the partition-invariant sum identity).  Reference "
    "capability: none — north star.",
)
def streaming_gate_shard_delivery_bpe(spark, sf_dir):
    return _gate_delivery_audit(
        spark, sf_dir, _GATE_DELIV_BPE_LAST_RUN, tok_unit="bpe"
    )


#: Audit facts of the last BPE-unit mixture run.
_GATE_MIX_BPE_LAST_RUN: dict = {}


@query(
    "streaming_gate_shard_mixture_bpe",
    _gate_mixture_sql(_GATE_BUDGET_DEC_BPE_CTES),
    doc="Per-(shard, source) realized-mixture attribution IN BPE "
    "UNITS — the data-card number in the unit a training run "
    "actually counts: the BPE gate's decision record closes through "
    "the same pack/write machinery, the written shard rows carry "
    "per-sequence source composition in BPE tokens, and the graded "
    "table reads the realized mixture back FROM THE WRITTEN FILES "
    "against the record's admitted BPE totals (tokens_match), its "
    "BPE allocs (within_alloc) and snapped shares.  One mixture "
    "definition, two token units (_gate_mixture_sql over the "
    "templated decision chain; _gate_mixture_audit on the Spark "
    "side), so the served-token data card cannot drift from the "
    "whitespace one's semantics.  Reference capability: none — "
    "north star.",
)
def streaming_gate_shard_mixture_bpe(spark, sf_dir):
    return _gate_mixture_audit(
        spark, sf_dir, _GATE_MIX_BPE_LAST_RUN, tok_unit="bpe"
    )


def _bench_shingle_index_path(spark, sf_dir) -> str:
    """Persisted benchmark 5-gram shingle index — the eval-suite
    artifact the LIVE decontamination gate broadcasts: the DISTINCT
    5-word shingles of the held-out (doc_id % _BENCH_MOD == 0) eval
    split, the text_decontaminate definitions verbatim.  Constant
    size at any corpus scale (benchmark suites do not grow with the
    training corpus), which is exactly what makes the serving-side
    broadcast legal at 100 TB."""
    from .pipeline_llm import _BENCH_MOD, _shingle5_arrays

    def build(root):
        (
            _shingle5_arrays(
                table(spark, sf_dir, "documents").where(
                    F.col("doc_id") % _BENCH_MOD == 0
                )
            )
            .select(F.explode("shs").alias("sh"))
            .distinct()
            .write.mode("overwrite")
            .parquet(os.path.join(root, "shingles.parquet"))
        )

    root = build_once(
        cache_root("/tmp/durablestreams_benchidx_v1", sf_dir),
        sf_dir,
        build,
        name="documents",
        params=f"shingle5:bench%{_BENCH_MOD}:v1",
    )
    return os.path.join(root, "shingles.parquet")


def refresh_bench_shingle_index(
    spark,
    idx_path: str,
    delta_bench_docs,
    removed_ids,
    guard_marker: str | None = None,
):
    """Incremental refresh of the benchmark shingle index (the FOURTH
    and last persisted serving artifact to gain the maintenance
    lifecycle): benchmark suites are append-mostly but DO retire
    evals, and a distinct-shingle table cannot express 'benchmark X
    was retired' — a shingle shared with a SURVIVING benchmark must
    outlive X's removal.  Same transform as the exact-hash refresh:
    the refreshable artifact is the POSTING list (doc_id, sh) keyed
    by owning benchmark, the serving view is DISTINCT sh at read
    time, and retirement is a doc-keyed left-anti tombstone that
    leaves co-owned shingles standing.  O(|delta| + |index rows|);
    the historical benchmark text is never re-read.  Shared
    _guarded_index_swap contract."""
    from .pipeline_llm import _shingle5_arrays

    def _refresh(cur):
        kept = cur.select("doc_id", "sh").join(
            removed_ids, "doc_id", "left_anti"
        )
        delta_rows = (
            _shingle5_arrays(
                delta_bench_docs.select("doc_id", "text").join(
                    removed_ids, "doc_id", "left_anti"
                )
            )
            .select("doc_id", F.explode("shs").alias("sh"))
        )
        return kept.unionByName(delta_rows)

    return _guarded_index_swap(spark, idx_path, _refresh, guard_marker)


#: Bench-refresh derived suite: every benchmark doc gets a same-text
#: copy at +COPY_OFFSET (so a retired benchmark can have a surviving
#: co-owner for every one of its shingles — the survival case a
#: distinct-shingle table cannot express); retirement hits doc_id %
#: REMOVE_MOD == 0, i.e. every third ORIGINAL benchmark.  Copies can
#: never match: REMOVE_MOD = 3*97 requires doc_id % 97 == 0, and a
#: copy id = orig + 2^41 with orig % 97 == 0 has residue
#: 2^41 % 97 = 72 != 0.  (The mod-3 residue alone would NOT protect
#: copies — keep the mod-97 argument if the offset ever changes.)
BENCH_REFRESH_COPY_OFFSET = 1 << 41
BENCH_REFRESH_REMOVE_MOD = 3 * _GL_BENCH_MOD


@query(
    "decontaminate_index_refresh",
    f"""
    WITH bench0 AS (
        SELECT doc_id, text FROM documents
        WHERE doc_id % {_GL_BENCH_MOD} = 0
    ),
    derived AS (
        SELECT doc_id, text FROM bench0
        UNION ALL
        SELECT doc_id + ({BENCH_REFRESH_COPY_OFFSET}::BIGINT) AS doc_id,
               text
        FROM bench0
    ),
    docs_live AS (
        SELECT * FROM derived
        WHERE doc_id % {BENCH_REFRESH_REMOVE_MOD} <> 0
    ),
    shing AS ({_GL_SHINGLE5.replace("FROM documents", "FROM docs_live")})
    SELECT sh, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_owners
    FROM shing GROUP BY 1
    """,
    doc="Benchmark-suite index MAINTENANCE lifecycle, graded "
    "end-to-end — the fourth persisted serving artifact to get the "
    "guarded-swap refresh (bands r11; exact-hash postings and NB "
    "counts earlier this round): eval suites retire benchmarks, and "
    "a DISTINCT-shingle table cannot express retirement — a shingle "
    "shared with a surviving benchmark must outlive its co-owner's "
    "removal — so the refreshable artifact is the (benchmark doc_id, "
    "shingle) POSTING list and the serving view distincts at read "
    "time (the same posting-list-ification that made first_id "
    "re-election expressible: it is THE general refreshability "
    "transform for derived-distinct artifacts).  The graded run "
    "plants a same-text copy of every benchmark at +2^41, builds the "
    "':ndlive' base-split posting index, then ONE refresh appending "
    "the delta split and retiring every third ORIGINAL benchmark "
    "(copies never match the retirement predicate), so every retired "
    "doc's shingles have a surviving co-owner — the graded "
    "(sh, n_owners) rollup over the swapped files must hash-equal a "
    "full rebuild over the surviving suite, with ownership counts "
    "dropping 2 -> 1 where retirement bit and shingles NEVER "
    "disappearing while an owner survives.  O(|delta| + |index|); "
    "benchmark text never re-read (delete-the-corpus test).",
)
def decontaminate_index_refresh(spark, sf_dir):
    from .pipeline_llm import _BENCH_MOD, _shingle5_arrays

    bench0 = table(spark, sf_dir, "documents").where(
        F.col("doc_id") % _BENCH_MOD == 0
    ).select("doc_id", "text")
    derived = bench0.unionByName(
        bench0.select(
            (F.col("doc_id") + F.lit(BENCH_REFRESH_COPY_OFFSET)).alias(
                "doc_id"
            ),
            "text",
        )
    )
    idx_p = _seeded_refresh_build(
        spark,
        sf_dir,
        cache=_Cache(
            "/tmp/durablestreams_benchrefresh_v1",
            "documents",
            f"shingle5:postings:bench%{_BENCH_MOD}"
            f":copy@{BENCH_REFRESH_COPY_OFFSET}"
            f":rm{BENCH_REFRESH_REMOVE_MOD}"
            f":base<{_NDLIVE_CUT}{_NDLIVE_TAG}:v1",
        ),
        idx_name="postings.parquet",
        seed_fn=lambda v0: _shingle5_arrays(
            derived.where(_base_split("doc_id", _NDLIVE_TAG))
        )
        .select("doc_id", F.explode("shs").alias("sh"))
        .write.parquet(v0),
        refresh_fn=lambda p, guard: refresh_bench_shingle_index(
            spark,
            p,
            derived.where(~_base_split("doc_id", _NDLIVE_TAG)),
            derived.where(
                F.col("doc_id") % BENCH_REFRESH_REMOVE_MOD == 0
            ).select("doc_id"),
            guard_marker=guard,
        ),
    )
    return (
        spark.read.parquet(idx_p)
        .groupBy("sh")
        .agg(F.countDistinct("doc_id").cast("long").alias("n_owners"))
    )


#: Audit facts of the last streaming_decontaminate_gate run.
_DECON_LIVE_LAST_RUN: dict = {}

from .pipeline_llm import (  # noqa: E402
    _BENCH_MOD as _PL_BENCH_MOD,
    _DUCK_SHINGLE5 as _PL_SHINGLE5,
)


@query(
    "streaming_decontaminate_gate",
    f"""
    WITH shingles AS ({_PL_SHINGLE5}),
    bench AS (
        SELECT DISTINCT sh FROM shingles WHERE doc_id % {_PL_BENCH_MOD} = 0
    ),
    corpus AS (
        SELECT doc_id, sh FROM shingles WHERE doc_id % {_PL_BENCH_MOD} <> 0
    ),
    totals AS (
        SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id
    ),
    hits AS (
        SELECT c.doc_id, count(*) AS n_hit
        FROM corpus c JOIN bench b USING (sh)
        GROUP BY c.doc_id
    )
    SELECT t.doc_id,
           CAST(t.n_shingles AS BIGINT) AS n_shingles,
           CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
           (coalesce(h.n_hit, 0) > 0) AS contaminated
    FROM totals t LEFT JOIN hits h USING (doc_id)
    """,
    doc="LIVE benchmark-decontamination screening at ingest — the "
    "eval-leakage gate every serious training pipeline runs on its "
    "firehose, completing the live admission family (exact-dup, "
    "near-dup, Gopher, NB, and now contamination): each arriving "
    "document's DISTINCT 5-gram shingles (text_decontaminate's exact "
    "shared _shingle5_arrays definition — array_distinct inside the "
    "scan, zero shuffle) are checked against the PERSISTED benchmark "
    "shingle index via a BROADCAST join inside foreachBatch, with a "
    "batch-local per-doc rollup — no watermark, no state store, no "
    "cross-batch state of any kind, because each doc's verdict "
    "depends only on itself and the frozen eval suite.  Every "
    "screened doc gets a row (zero-hit docs included — a GATE must "
    "answer for every arrival, where the batch report only lists "
    "offenders); per-doc outputs are independent of batching, and "
    "per-epoch OVERWRITE side-effect dirs keep retries idempotent.  "
    "At 100 TB: the eval index is benchmark-suite-sized — CONSTANT "
    "as the corpus grows — so the broadcast is always legal and "
    "screening throughput is scan throughput.  Hash-gated against "
    "the batch composition of the same shared shingle definitions.",
)
def streaming_decontaminate_gate(spark, sf_dir):
    from .pipeline_llm import _BENCH_MOD, _shingle5_arrays

    bench_path = _bench_shingle_index_path(spark, sf_dir)
    with tempfile.TemporaryDirectory(
        prefix="ds_deconlive_", ignore_cleanup_errors=True
    ) as run_dir:
        out_path = os.path.join(run_dir, "screened")

        def _screen(batch_df, epoch_id):
            sess = batch_df.sparkSession
            arrays = _shingle5_arrays(
                batch_df.where(F.col("doc_id") % _BENCH_MOD != 0)
            ).localCheckpoint(eager=True)
            bench = sess.read.parquet(bench_path)
            hits = (
                arrays.select("doc_id", F.explode("shs").alias("sh"))
                .join(F.broadcast(bench), "sh")
                .groupBy("doc_id")
                .agg(F.count(F.lit(1)).alias("n_hit"))
            )
            out = (
                arrays.select(
                    "doc_id",
                    F.size("shs").cast("long").alias("n_shingles"),
                )
                .join(hits, "doc_id", "left")
                .select(
                    "doc_id",
                    "n_shingles",
                    F.coalesce("n_hit", F.lit(0))
                    .cast("long")
                    .alias("n_hit"),
                    (F.coalesce("n_hit", F.lit(0)) > 0).alias(
                        "contaminated"
                    ),
                )
            )
            _epoch_write(out, out_path, epoch_id)

        stream = _delta_replay_stream(
            spark, run_dir, table(spark, sf_dir, "documents")
        )
        _await_and_audit(
            stream, _screen, run_dir, _DECON_LIVE_LAST_RUN, out_path
        )
        return _finish_run(
            spark,
            out_path,
            "doc_id long, n_shingles long, n_hit long, contaminated boolean",
        )


#: The embeddings fixture file name (the _DOCS_FILE rule).
_EMB_FILE = "embeddings.parquet"


def _emb_stream_spread(spark, sf_dir: str):
    """The embeddings table replayed as a stream, rebalanced for the
    CPU-heavy in-row centroid arithmetic (see _spread_stream)."""
    raw = (
        spark.readStream.schema(
            "vec_id long, embedding array<float>, label int"
        )
        .option("pathGlobFilter", _EMB_FILE)
        .parquet(sf_dir)
    )
    return _spread_stream(raw, os.path.join(sf_dir, _EMB_FILE))


def _drift_base_centroids(spark, sf_dir):
    """Frozen base-snapshot centroids for the drift monitor — the
    same md5 ':ivfup' 80% split and capped-sample Lloyd training as
    similarity_ivf_upsert (one base-index definition, two graded
    consumers).  Returns collected (cent_id, cemb, cnorm) rows,
    O(IVF_K) — vocabulary state, legal to fold into a stream."""
    from pyspark.sql import functions as F2

    from ..analytics.core import spread
    from .similarity import (
        IVF_K,
        IVF_TRAIN_CAP,
        _dot,
        _sample_h_col,
        _train_centroids,
    )

    emb = table(spark, sf_dir, "embeddings").select(
        "vec_id", F2.col("embedding").cast("array<double>").alias("emb")
    )
    v = spread(emb).withColumn("norm", F2.sqrt(_dot("emb", "emb")))
    split_tag = F2.substring(
        F2.md5(F2.concat(F2.col("vec_id").cast("string"), F2.lit(":ivfup"))),
        1,
        2,
    )
    base = v.where(split_tag < "cc")
    train = (
        base.select("vec_id", "emb", "norm")
        .withColumn("h", _sample_h_col())
        .orderBy("h", "vec_id")
        .limit(IVF_TRAIN_CAP)
        .localCheckpoint(eager=True)
    )
    cent = _train_centroids(train, IVF_K)
    cn_rows = sorted(
        cent.withColumn("cnorm", F2.sqrt(_dot("cemb", "cemb"))).collect(),
        key=lambda r: r["cent_id"],
    )
    return base, cn_rows


from .similarity import (  # noqa: E402
    IVF_KMEANS_ITERS as _IVF_ITERS,
    _kmeans_sql as _ivf_kmeans_sql,
)


@query(
    "streaming_embedding_drift",
    """
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    base AS (SELECT * FROM v
             WHERE substr(md5(CAST(vec_id AS VARCHAR) || ':ivfup'), 1, 2)
                   < 'cc'),
    {kmeans},
    live AS (SELECT vec_id, emb FROM v
             WHERE list_dot_product(emb, emb) > 0),
    cells_all AS (
        SELECT vec_id, cent_id, sim FROM (
            SELECT v.vec_id, c.cent_id,
                   list_cosine_similarity(v.emb, c.cemb) AS sim,
                   row_number() OVER (PARTITION BY v.vec_id
                                      ORDER BY list_cosine_similarity(v.emb, c.cemb) DESC,
                                               c.cent_id) AS rn
            FROM live v, cents{iters} c) WHERE rn = 1
    ),
    cells_base AS (
        SELECT a.* FROM cells_all a JOIN base b USING (vec_id)
    ),
    obs AS (
        SELECT cent_id, count(*) AS n_vecs,
               sum(CAST(floor(sim * 1000000000 + 0.5) / 1000000000
                        AS DECIMAL(28, 9))) AS simsum
        FROM cells_all GROUP BY cent_id
    ),
    bs AS (SELECT cent_id, count(*) AS n_base FROM cells_base GROUP BY 1),
    tot AS (SELECT (SELECT count(*) FROM cells_all) AS n_all,
                   (SELECT count(*) FROM cells_base) AS n_b)
    SELECT o.cent_id,
           CAST(o.n_vecs AS BIGINT) AS n_vecs,
           floor(CAST(o.simsum AS DOUBLE) / o.n_vecs * 1000000 + 0.5)
               / 1000000 AS mean_cos,
           floor(CAST(o.n_vecs AS DOUBLE) / t.n_all * 1000000 + 0.5)
               / 1000000 AS obs_share,
           floor(CAST(coalesce(b.n_base, 0) AS DOUBLE) / t.n_b
                 * 1000000 + 0.5) / 1000000 AS base_share
    FROM obs o LEFT JOIN bs b USING (cent_id) CROSS JOIN tot t
    ORDER BY o.cent_id
    """.format(kmeans=_ivf_kmeans_sql(src="base"), iters=_IVF_ITERS),
    doc="LIVE embedding-distribution DRIFT monitor — the retrain "
    "signal a deployed ANN index watches: each incoming vector is "
    "assigned ROW-LOCALLY to its nearest frozen base-snapshot "
    "centroid (the same ':ivfup' 80%-split quantizer "
    "similarity_ivf_upsert serves — one base-index definition, two "
    "graded consumers; O(K) collected literals, zero stream-side "
    "joins), then rolled up in a complete-mode aggregation whose "
    "state is O(IVF_K) rows — BOUNDED, the streaming_quality_monitor "
    "contract, so the monitor runs forever at any ingest rate.  Per "
    "cell: observed count, decimal-exact mean cosine-to-centroid "
    "(cell compactness — falling means the cell no longer fits its "
    "members), observed vs base assignment share (diverging means "
    "the incoming distribution has shifted off the trained index — "
    "time to retrain).  All ratios floor-snapped at 1e-6.  The sim "
    "sum pre-snaps each per-vector cosine to a 1e-9 grid and "
    "accumulates in DECIMAL(28,9): every double within ~1e-10 of a "
    "grid point converts to EXACTLY that grid point on both engines, "
    "so the decimal sum is bit-identical cross-engine — a one-ulp "
    "divergence between Spark's dot/(norm*cnorm) fold and DuckDB's "
    "list_cosine_similarity can no longer flip the graded row (r10 "
    "ADVICE; raw DECIMAL(38,18) sums required bit-identical "
    "cosines).  Zero-norm embeddings are filtered on BOTH sides "
    "before assignment (Spark would fold them to -inf -> NULL, "
    "DuckDB to NaN — the degenerate input is now defined out "
    "identically).",
)
def streaming_embedding_drift(spark, sf_dir):
    from .similarity import _rank_centroids_inrow

    base, cn_rows = _drift_base_centroids(spark, sf_dir)
    src = _emb_stream_spread(spark, sf_dir).select(
        "vec_id",
        F.lit(None).cast("string").alias("label"),
        F.col("embedding").cast("array<double>").alias("emb"),
    )
    from .similarity import _dot as _dot2

    v = src.withColumn("norm", F.sqrt(_dot2("emb", "emb"))).where(
        F.col("norm") > 0
    )
    # keep_negsim: the ranked struct already carries -cosine for the
    # own cell; IEEE negation is exact, so -negsim IS the cosine the
    # oracle computes - no second pass over the centroid literals.
    assigned = _rank_centroids_inrow(v, cn_rows, keep_negsim=True).where(
        F.col("cr") == 1
    )
    grid = F.lit(1000000000.0)
    agg = (
        assigned.withColumn(
            "sim", F.floor(-F.col("negsim") * grid + F.lit(0.5)) / grid
        )
        .groupBy("cent_id")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum(F.col("sim").cast("decimal(28,9)")).alias("simsum"),
        )
    )
    out = _drain(agg, "complete")
    # Base shares are a BATCH join after the drain (no stream-side
    # join at all): assignment of the base 80% under the same frozen
    # centroids.
    base_live = base.where(F.col("norm") > 0)
    base_assigned = _rank_centroids_inrow(
        base_live.select(
            "vec_id", F.lit(None).cast("string").alias("label"),
            "emb", "norm",
        ),
        cn_rows,
    ).where(F.col("cr") == 1)
    bs = base_assigned.groupBy("cent_id").agg(
        F.count(F.lit(1)).alias("n_base")
    )
    n_all = out.agg(F.sum("n_vecs")).collect()[0][0]
    n_b = base_live.count()

    def _snap(x):
        return F.floor(x * 1000000 + F.lit(0.5)) / 1000000

    return (
        out.join(bs, "cent_id", "left")
        .select(
            "cent_id",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            _snap(
                F.col("simsum").cast("double") / F.col("n_vecs")
            ).alias("mean_cos"),
            _snap(F.col("n_vecs").cast("double") / F.lit(float(n_all))).alias(
                "obs_share"
            ),
            _snap(
                F.coalesce(F.col("n_base"), F.lit(0)).cast("double")
                / F.lit(float(n_b))
            ).alias("base_share"),
        )
        .orderBy("cent_id")
    )
