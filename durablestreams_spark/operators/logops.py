"""Durable-log operators inside the graded query gate.

These queries run the actual stream engine (produce → manifest →
segments → compaction → pruned consume) against deterministic input
(the ``events`` table, ordered by (ts, event_id), batched 1000 per
produce with a fixed logical clock), then verify the result relationally
against a pure-SQL oracle that recomputes what the offsets must be.

This puts SURVEY.md §2.1 operators #3/#6/#7/#8/#9/#10/#12/#13 under
the same duckdb-oracle check as the relational surface.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from ..analytics.core import query, table
from .cache_marker import build_once, cache_root
from ..ingest import produce_bulk
from ..maintenance import compact
from ..stream import StreamCatalog

BATCH = 1000

_ORACLE_OFFSETS = f"""
    SELECT event_id,
           lpad(CAST(((rn - 1) // {BATCH}) + 1 AS VARCHAR), 16, '0') ||
           lpad(CAST((rn - 1) % {BATCH} AS VARCHAR), 16, '0') AS offset
    FROM (SELECT event_id,
                 row_number() OVER (ORDER BY ts, event_id) AS rn
          FROM events)
"""


def _ingest_events(spark, sf_dir: str):
    """Deterministically (re)build a stream from the events table.

    Bulk ingest assigns batch i the logical epoch i+1 (fresh stream ⇒
    base epoch 1), so offsets are a pure function of the
    (ts, event_id) sort order and BATCH — which is what the SQL oracle
    recomputes.  This is one distributed job (``ingest.produce_bulk``),
    not len(events)/BATCH driver round-trips.
    """

    def build(root):
        stream = StreamCatalog(root).stream("events_log")
        produce_bulk(
            stream,
            table(spark, sf_dir, "events").select("event_id", "ts"),
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id"],
            # physical segments are 2.5 logical batches each: offsets
            # are identical (they derive from batch_records alone) but
            # the write produces 2.5x fewer files, and two segments
            # still trip the 5000-record compaction window below.
            segment_rows=2500,
        )
        # Compact the oldest window (2 segments trip MaxRecords=5000)
        # so the read path spans compacted + raw segments.
        compact(stream)

    root = build_once(
        cache_root("/tmp/durablestreams_logops_v2", sf_dir),
        sf_dir,
        build,
        params=_geom_params(),
    )
    return StreamCatalog(root).stream("events_log")


@query(
    "log_roundtrip_offsets",
    _ORACLE_OFFSETS,
    doc="Full produce→flush→segment→manifest→scan round-trip: events "
    "ingested through the engine (1000/batch, deterministic logical "
    "clock, one window compacted), read back via the manifest-backed "
    "Spark scan. Offsets must equal the oracle's arithmetic "
    "reconstruction — this checks offset assignment (#6), segment "
    "write (#7), metadata commit (#8), scan (#9) and compaction (#13) "
    "in one go.",
)
def log_roundtrip_offsets(spark, sf_dir):
    stream = _ingest_events(spark, sf_dir)
    df = stream.to_df(spark)
    return df.select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id"),
        "offset",
    )


@query(
    "log_consume_page",
    f"""
    SELECT event_id,
           lpad(CAST(((rn - 1) // {BATCH}) + 1 AS VARCHAR), 16, '0') ||
           lpad(CAST((rn - 1) % {BATCH} AS VARCHAR), 16, '0') AS offset
    FROM (SELECT event_id,
                 row_number() OVER (ORDER BY ts, event_id) AS rn
          FROM events)
    WHERE rn > 42 AND rn <= 67
    """,
    doc="Exclusive-start paged consume (#9/#10): read 25 records after "
    "the 42nd offset; manifest pruning picks the covering segment, the "
    "scan continues across segment boundaries exactly like the "
    "reference's recursive continuation (src/stream_manager.ts:376-379).",
)
def log_consume_page(spark, sf_dir):
    stream = _ingest_events(spark, sf_dir)
    # 42nd record's offset = exclusive-start cursor
    cursor = stream.consume("-", limit=42)[-1].offset
    page = stream.consume(cursor, limit=25)
    return spark.createDataFrame(
        [(int(r.data["event_id"]), r.offset) for r in page],
        "event_id bigint, offset string",
    )


@query(
    "ndjson_segment_parity",
    _ORACLE_OFFSETS,
    doc="Reference NDJSON segment format parity (#19, src/segment.ts "
    "line framing; 32-char offset prefix ++ JSON ++ newline, "
    "src/stream_manager.ts:484-495): events written in the reference's "
    "exact on-wire layout, read back via sources.ndjson (pure substring "
    "expressions, pre-JSON-parse — the columnar twin of the "
    "reference's readLines + slice). Offsets must round-trip "
    "byte-identically through the text format. Offset assignment here "
    "uses a plain global sort (format parity is the target); the scale "
    "ingest path is produce_bulk's distributed zip-with-index.",
)
def ndjson_segment_parity(spark, sf_dir):
    from pyspark.sql import Window

    from ..functions.offsets import make_offset
    from ..sources.ndjson import read_ndjson_segments

    def build(root):
        ev = table(spark, sf_dir, "events").select("event_id", "ts")
        rn = F.row_number().over(Window.orderBy("ts", "event_id")) - 1
        lines = ev.withColumn("rn", rn).select(
            F.concat(
                make_offset(
                    (F.col("rn") / BATCH).cast("long") + 1,
                    F.col("rn") % BATCH,
                ),
                F.to_json(F.struct("event_id")),
            ).alias("value")
        )
        lines.write.mode("overwrite").text(os.path.join(root, "segments"))

    root = build_once(
        cache_root("/tmp/durablestreams_ndjson_v2", sf_dir),
        sf_dir,
        build,
        params=_geom_params(),
    )
    df = read_ndjson_segments(spark, os.path.join(root, "segments"))
    return df.select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id"),
        "offset",
    )


@query(
    "log_fencing_semantics",
    """
    SELECT * FROM (VALUES
        ('equal_version_accepted',      true),
        ('higher_version_accepted',     true),
        ('non_numeric_version_rejected',true),
        ('stale_version_rejected',      true),
        ('stale_write_not_visible',     true),
        ('version_bump_only_persists',  true),
        ('versionless_accepted',        true)
    ) AS t(check_name, ok)
    """,
    doc="Producer fencing (#4) under the oracle gate — the reference's "
    "five versioning e2e scenarios (tests/index.test.ts:224-298): "
    "monotonic accept, equal-version accept, stale version rejected "
    "(reference 409) with its records NOT appended, versionless "
    "produce accepted, non-numeric version rejected (reference 400), "
    "plus empty-records version-bump-only persisting the token. Each "
    "check runs against a real stream and emits ok=true only if the "
    "engine behaved; the oracle is the all-true constant table.",
)
def log_fencing_semantics(spark, sf_dir):
    import tempfile

    from ..manifest import FencingError

    checks: dict[str, bool] = {}
    with tempfile.TemporaryDirectory(
        prefix="ds_fencing_", ignore_cleanup_errors=True
    ) as root:
        stream = StreamCatalog(root).stream("fencing")
        stream.produce([{"v": 1}], version=1)
        checks["equal_version_accepted"] = bool(
            stream.produce([{"v": 2}], version=1).offsets
        )
        checks["higher_version_accepted"] = bool(
            stream.produce([{"v": 3}], version=3).offsets
        )
        n_before = len(stream.consume("-", limit=100))
        try:
            stream.produce([{"v": 4}], version=2)
            checks["stale_version_rejected"] = False
        except FencingError:
            checks["stale_version_rejected"] = True
        checks["stale_write_not_visible"] = (
            len(stream.consume("-", limit=100)) == n_before
        )
        checks["versionless_accepted"] = bool(stream.produce([{"v": 5}]).offsets)
        try:
            stream.produce([{"v": 6}], version="not-a-number")  # type: ignore[arg-type]
            checks["non_numeric_version_rejected"] = False
        except ValueError:
            checks["non_numeric_version_rejected"] = True
        stream.produce([], version=7)  # bump-only: no records, persists token
        checks["version_bump_only_persists"] = (
            stream.refresh().producer_version == 7
        )

    return spark.createDataFrame(
        sorted(checks.items()), "check_name string, ok boolean"
    )


@query(
    "log_lifecycle_semantics",
    """
    SELECT * FROM (VALUES
        ('destroy_clears_data',        true),
        ('orphan_purged_after_grace',  true),
        ('recovery_cross_process',     true),
        ('recreate_after_destroy',     true),
        ('tail_delivers_concurrent',   true),
        ('tail_timeout_empty',         true),
        ('tombstone_gc_after_retention', true),
        ('tombstone_gc_preserves_reads', true)
    ) AS t(check_name, ok)
    """,
    doc="Lifecycle operators under the oracle gate — the reference "
    "behaviors that have no relational output: long-poll tail delivery "
    "and timeout (#11, tests/index.test.ts:130-177), destroy + "
    "same-name recreate (#17, :300-348), tombstone GC after retention "
    "(#15) keeping reads intact, orphan purge past the grace period "
    "(#16), and cross-process recovery via a fresh manifest fold "
    "(#18). Each check runs the real engine and emits ok=true only on "
    "the reference-faithful outcome; oracle = all-true constants.",
)
def log_lifecycle_semantics(spark, sf_dir):
    import tempfile
    import threading

    from ..maintenance import clean_tombstones, compact, purge_orphans
    from ..stream import Stream

    checks: dict[str, bool] = {}
    with tempfile.TemporaryDirectory(
        prefix="ds_lifecycle_", ignore_cleanup_errors=True
    ) as root:
        cat = StreamCatalog(root)

        # tail: concurrent produce delivered.  The snapshot inside
        # tail() and the produce race; retry a few times so scheduler
        # stalls can't fail the check spuriously (each attempt uses a
        # fresh stream so a late snapshot just misses one round).
        ok_tail = False
        for attempt in range(3):
            s = cat.stream(f"tailing{attempt}")
            s.produce([{"v": "old"}])
            got: dict = {}
            th = threading.Thread(
                target=lambda s=s: got.update(r=s.tail(10, timeout_sec=5))
            )
            th.start()
            time.sleep(0.25)  # let the tail snapshot its start offset
            produced = s.produce([{"v": "live"}]).offsets
            th.join(timeout=6)
            recs = got.get("r") or []
            if [r.offset for r in recs] == produced:
                ok_tail = True
                break
        checks["tail_delivers_concurrent"] = ok_tail
        checks["tail_timeout_empty"] = (
            cat.stream("never_written").tail(10, timeout_sec=0.2) == []
        )

        # destroy + recreate
        d = cat.stream("doomed")
        d.produce([{"v": "x"}])
        d.destroy()
        checks["destroy_clears_data"] = d.consume("-", 10) == []
        d2 = cat.stream("doomed")
        d2.produce([{"v": "reborn"}])
        checks["recreate_after_destroy"] = [
            r.data["v"] for r in d2.consume("-", 10)
        ] == ["reborn"]

        # tombstone GC: compact, then zero retention purges the inputs.
        # now_ms is pinned PAST the removal stamp — with the real clock,
        # compact+clean inside one millisecond made age > 0 false.
        g = cat.stream("gc")
        g.produce([{"v": "a"}], epoch_ms=1)
        g.produce([{"v": "b"}], epoch_ms=2)
        compact(g)
        future = int(time.time() * 1000) + 10
        purged = clean_tombstones(g, max_age_ms=0, now_ms=future)
        checks["tombstone_gc_after_retention"] = (
            len(purged) == 2 and not g.refresh().tombstones
        )
        checks["tombstone_gc_preserves_reads"] = [
            r.data["v"] for r in g.consume("-", 10)
        ] == ["a", "b"]

        # orphan purge honors the grace period, then reaps
        orphan = os.path.join(g.segments_dir, "9999999999999999-dead.parquet")
        with open(orphan, "wb") as f:
            f.write(b"junk")
        fresh_spared = purge_orphans(g) == []
        os.utime(orphan, (0, 0))
        checks["orphan_purged_after_grace"] = (
            fresh_spared
            and purge_orphans(g) == ["9999999999999999-dead.parquet"]
            and not os.path.exists(orphan)
        )

        # cross-process recovery: a fresh Stream folds identical state
        g2 = Stream(root, "gc")
        checks["recovery_cross_process"] = [
            (r.offset, r.data["v"]) for r in g2.consume("-", 10)
        ] == [(r.offset, r.data["v"]) for r in g.consume("-", 10)]
    return spark.createDataFrame(
        sorted(checks.items()), "check_name string, ok boolean"
    )


@query(
    "log_time_travel_consume",
    f"""
    SELECT event_id,
           lpad(CAST(((rn - 1) // {BATCH}) + 1 AS VARCHAR), 16, '0') ||
           lpad(CAST((rn - 1) % {BATCH} AS VARCHAR), 16, '0') AS offset
    FROM (SELECT event_id,
                 row_number() OVER (ORDER BY ts, event_id) AS rn
          FROM events)
    WHERE rn > 250
    """,
    doc="Time-travel consume via a SYNTHETIC offset (the reference's "
    "'now-30d' story, README.md:105-108 and offsets.offset_for_time): "
    "the cursor serialize_offset(1, 249) was never returned by any "
    "produce — it is constructed purely from a point in (logical) "
    "time — yet exclusive-start scanning from it must return exactly "
    "the records after that instant, across every later epoch and "
    "through the compacted/raw segment mix, with manifest pruning "
    "dropping wholly-earlier segments before the scan.",
)
def log_time_travel_consume(spark, sf_dir):
    from ..offsets import serialize_offset

    stream = _ingest_events(spark, sf_dir)
    cursor = serialize_offset(1, 249)  # mid-epoch-1 point in time
    df = stream.to_df(spark, after_offset=cursor)  # manifest file pruning
    return df.where(F.col("offset") > cursor).select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id"),
        "offset",
    )


def _ingest_events_keyed(spark, sf_dir: str):
    """A SEPARATE stream fixture for key compaction (compacting the
    shared ``_ingest_events`` stream would invalidate every offset
    oracle that replays its full history): events keyed by user_id,
    ingested with the same deterministic clock, then compacted by key.
    Marker-cached like the other fixtures."""
    from ..maintenance import compact_by_key

    def build(root):
        stream = StreamCatalog(root).stream("events_keyed")
        produce_bulk(
            stream,
            table(spark, sf_dir, "events").select("event_id", "ts", "user_id"),
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id", "user_id"],
            segment_rows=2500,
        )
        metas = compact_by_key(stream, spark, "$.user_id")
        assert metas

    root = build_once(
        cache_root("/tmp/durablestreams_keycompact_v1", sf_dir),
        sf_dir,
        build,
        params=_geom_params(),
    )
    return StreamCatalog(root).stream("events_keyed")


@query(
    "log_compact_by_key",
    """
    SELECT user_id, event_id AS last_event_id
    FROM (SELECT user_id, event_id,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
    doc="Kafka-style key compaction (compacted topic): the stream keyed "
    "by user_id keeps ONE record per user — the one with the highest "
    "offset — after maintenance.compact_by_key swaps all active "
    "segments for the latest-per-key set in one guarded manifest "
    "commit. Offsets assign in (ts, event_id) order, so the oracle's "
    "'latest event per user' window over the raw table must equal the "
    "compacted stream's read-back exactly: retained identity AND "
    "count both checked.",
)
def log_compact_by_key(spark, sf_dir):
    stream = _ingest_events_keyed(spark, sf_dir)
    df = stream.to_df(spark)
    return df.select(
        F.get_json_object("data", "$.user_id").cast("long").alias("user_id"),
        F.get_json_object("data", "$.event_id").cast("long").alias("last_event_id"),
    )


@query(
    "log_fanout_shards",
    f"""
    WITH offs AS ({_ORACLE_OFFSETS})
    SELECT CAST(CAST(('0x' || substr(md5("offset"), 1, 8)) AS BIGINT) % 4
                AS BIGINT) AS shard,
           CAST(count(*) AS BIGINT) AS n_records,
           min("offset") AS first_offset,
           max("offset") AS last_offset
    FROM offs
    GROUP BY shard
    """,
    doc="Consumer fan-out sharding, the reference's own scale-out "
    "recipe for heavy per-record work ('each consumer only actually "
    "processes Murmur3(offset) % N', README.md:149): every record of "
    "the ingested log is assigned shard = hash(offset) % 4 and each "
    "shard's slice is summarized. Hash = first 8 md5 hex digits "
    "(engine-portable, same policy as the deterministic sampler — "
    "Spark's hash() is Murmur3 but DuckDB's differs, and the CONTRACT "
    "is only that the hash is uniform and stable). Row-local "
    "projection + one 4-group agg: fan-out adds zero shuffles beyond "
    "the count, and at 100 TB each consumer applies the same predicate "
    "as a pushed filter on its own manifest-pruned scan.",
)
def log_fanout_shards(spark, sf_dir):
    stream = _ingest_events(spark, sf_dir)
    df = stream.to_df(spark)
    shard = (
        F.conv(F.substring(F.md5("offset"), 1, 8), 16, 10).cast("long") % 4
    ).alias("shard")
    return (
        df.select(shard, "offset")
        .groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.min("offset").alias("first_offset"),
            F.max("offset").alias("last_offset"),
        )
    )


def _ingest_events_payload(spark, sf_dir: str):
    """A stream whose records carry the FULL analytics payload
    (event_type, value), not just the id — the fixture for querying
    the log as a table.  Separate cache root: extending the shared
    ``_ingest_events`` payload would invalidate every offset oracle."""

    def build(root):
        stream = StreamCatalog(root).stream("events_payload")
        produce_bulk(
            stream,
            table(spark, sf_dir, "events").select(
                "event_id", "ts", "event_type", "value"
            ),
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id", "event_type", "value"],
            segment_rows=2500,
        )
        compact(stream)

    root = build_once(
        cache_root("/tmp/durablestreams_logpay_v1", sf_dir),
        sf_dir,
        build,
        params=_geom_params(),
    )
    return StreamCatalog(root).stream("events_payload")


@query(
    "log_analytics_over_stream",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value,
           round(avg(value), 6) AS avg_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="The log IS a table: events bulk-ingested through the engine "
    "(durable segments + manifest), read back via the manifest-backed "
    "scan, JSON payload projected to typed columns, and aggregated "
    "relationally — the end-to-end claim of the whole design, that a "
    "stream ingested through the durable log answers the same SQL as "
    "the original table. Payload floats round-trip exactly "
    "(shortest-repr JSON serialization parses back to the identical "
    "double), so the aggregate hashes against the raw-table oracle.",
)
def log_analytics_over_stream(spark, sf_dir):
    stream = _ingest_events_payload(spark, sf_dir)
    df = stream.to_df(spark)
    typed = df.select(
        F.get_json_object("data", "$.event_type").alias("event_type"),
        F.get_json_object("data", "$.value").cast("double").alias("value"),
    )
    return (
        typed.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.round(F.sum("value"), 4).alias("sum_value"),
            F.round(F.avg("value"), 6).alias("avg_value"),
        )
        .orderBy("event_type")
    )


#: Replica divergence fixture: the replica deterministically loses
#: every DIVERGE_MOD-th record (by (ts, event_id) rank) — the lost-ack
#: / partial-replay failure the diff report exists to catch.
DIVERGE_MOD = 997


def _ingest_events_replica(spark, sf_dir: str):
    """A second, deliberately-diverged copy of the payload stream."""
    from pyspark.sql import Window as W

    def build(root):
        ev = table(spark, sf_dir, "events").select("event_id", "ts")
        rn = F.row_number().over(W.orderBy("ts", "event_id"))
        kept = (
            ev.withColumn("rn", rn)
            .where(F.col("rn") % DIVERGE_MOD != 0)
            .drop("rn")
        )
        produce_bulk(
            StreamCatalog(root).stream("events_replica"),
            kept,
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id"],
            segment_rows=2500,
        )

    root = build_once(
        cache_root("/tmp/durablestreams_logreplica_v1", sf_dir),
        sf_dir,
        build,
        params=_geom_params(),
    )
    return StreamCatalog(root).stream("events_replica")


@query(
    "log_replica_divergence",
    f"""
    WITH ranked AS (
        SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT CAST(count(*) AS BIGINT) AS n_primary,
           CAST(count_if(rn % {DIVERGE_MOD} != 0) AS BIGINT) AS n_both,
           CAST(count_if(rn % {DIVERGE_MOD} = 0) AS BIGINT)
               AS n_only_primary,
           CAST(0 AS BIGINT) AS n_only_replica,
           CAST(min(CASE WHEN rn % {DIVERGE_MOD} = 0 THEN event_id END)
                AS BIGINT) AS first_missing_event
    FROM ranked
    """,
    doc="Anti-entropy: diff two replicas of the same log by record "
    "identity — the primary stream against a replica that "
    f"deterministically lost every {DIVERGE_MOD}-th record (the "
    "lost-ack / partial-replay failure mode). Both sides read through "
    "the manifest scan; the diff is two anti-join counts plus the "
    "first missing id, and the oracle recomputes the expected "
    "divergence arithmetically. At scale this is the consistency "
    "check replicated logs run continuously; the join keys are "
    "fixed-width ids, never payloads.",
)
def log_replica_divergence(spark, sf_dir):
    primary = _ingest_events(spark, sf_dir)
    replica = _ingest_events_replica(spark, sf_dir)
    pid = primary.to_df(spark).select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id")
    )
    rid = replica.to_df(spark).select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id")
    )
    only_p = pid.join(rid, "event_id", "left_anti")
    only_r = rid.join(pid, "event_id", "left_anti")
    n_primary = pid.agg(F.count(F.lit(1)).cast("long").alias("n_primary"))
    n_only_p = only_p.agg(
        F.count(F.lit(1)).cast("long").alias("n_only_primary"),
        F.min("event_id").cast("long").alias("first_missing_event"),
    )
    n_only_r = only_r.agg(
        F.count(F.lit(1)).cast("long").alias("n_only_replica")
    )
    return (
        n_primary.crossJoin(n_only_p)
        .crossJoin(n_only_r)
        .select(
            "n_primary",
            (F.col("n_primary") - F.col("n_only_primary"))
            .cast("long")
            .alias("n_both"),
            "n_only_primary",
            "n_only_replica",
            "first_missing_event",
        )
    )


#: Retention fixture geometry: segments of RET_SEG_ROWS records, cutoff
#: at the record-count midpoint — whole segments below it are dropped.
RET_SEG_ROWS = 2500


@query(
    "log_retention_trim",
    f"""
    WITH n AS (SELECT count(*) AS total FROM events),
    ranked AS (
        SELECT event_id, row_number() OVER (ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT event_id FROM ranked, n
    WHERE rn > ((n.total // 2 - 1) // {RET_SEG_ROWS}) * {RET_SEG_ROWS}
    """,
    doc="Offset-based retention (the Kafka retention analog over the "
    "reference's time-travel offsets): a fresh stream is trimmed at "
    "the midpoint cutoff — every segment WHOLLY below it becomes a "
    "tombstone in one guarded manifest commit (no rewrite; bytes "
    "reclaimed later under the tombstone grace window), partial "
    "segments survive. The consume afterwards must return exactly the "
    "records of the surviving segments, which the oracle recomputes "
    "from the segment geometry.",
)
def log_retention_trim(spark, sf_dir):
    from ..maintenance import apply_retention
    from ..offsets import serialize_offset

    def build(root):
        stream = StreamCatalog(root).stream("events_ret")
        ev = table(spark, sf_dir, "events").select("event_id", "ts")
        n = ev.count()
        produce_bulk(
            stream,
            ev,
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id"],
            segment_rows=RET_SEG_ROWS,
            # the oracle recomputes the trim from segment GEOMETRY, so
            # the fixture needs arithmetically-exact segment sizing
            # (the default fast path leaves short seam files at range-
            # partition boundaries once partitions outgrow segments)
            exact_segments=True,
        )
        # cutoff = the offset of the midpoint record (1-based rank
        # n//2): epoch = batch index + 1, counter = within-batch rank.
        mid = max(1, n // 2)
        cutoff = serialize_offset((mid - 1) // BATCH + 1, (mid - 1) % BATCH)
        apply_retention(stream, cutoff)

    root = build_once(
        cache_root("/tmp/durablestreams_retention_v1", sf_dir),
        sf_dir,
        build,
        # geometry-affecting builder knobs are part of the cache
        # identity: changing any of them (e.g. the exact_segments
        # switch) must invalidate caches built with the old geometry.
        params=_geom_params(f"exact:{RET_SEG_ROWS}:{BATCH}"),
    )
    df = StreamCatalog(root).stream("events_ret").to_df(spark)
    return df.select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id")
    )


@query(
    "log_schema_evolution",
    """
    WITH n AS (SELECT count(*) AS total FROM events),
    ranked AS (
        SELECT event_id, value,
               row_number() OVER (ORDER BY ts, event_id) AS rn
        FROM events
    )
    SELECT event_id,
           CASE WHEN rn <= n.total // 2 THEN NULL
                ELSE round(value, 4) END AS value
    FROM ranked, n
    """,
    doc="Schema-on-read evolution (SURVEY.md §1.2-1.3 schemaless data "
    "model): the stream's first half carries v1 payloads {event_id}, "
    "the second half v2 payloads {event_id, value} — one typed_view "
    "over the evolved schema reads BOTH, with the missing v1 field "
    "surfacing as NULL, exactly the reference's heterogenous-records-"
    "are-legal contract. No migration, no rewrite: evolution costs a "
    "schema string.",
)
def log_schema_evolution(spark, sf_dir):
    from pyspark.sql import Window as W

    from ..functions.payload import typed_view

    def build(root):
        stream = StreamCatalog(root).stream("events_evo")
        ev = table(spark, sf_dir, "events").select("event_id", "ts", "value")
        n = ev.count()
        rn = F.row_number().over(W.orderBy("ts", "event_id"))
        with_rn = ev.withColumn("rn", rn)
        v1 = with_rn.where(F.col("rn") <= n // 2).drop("rn")
        v2 = with_rn.where(F.col("rn") > n // 2).drop("rn")
        produce_bulk(
            stream,
            v1,
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id"],
            segment_rows=RET_SEG_ROWS,
        )
        produce_bulk(
            stream,
            v2,
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id", "value"],
            segment_rows=RET_SEG_ROWS,
        )

    root = build_once(
        cache_root("/tmp/durablestreams_schemaevo_v1", sf_dir),
        sf_dir,
        build,
        params=_geom_params(),
    )
    typed = typed_view(
        StreamCatalog(root).stream("events_evo").to_df(spark),
        "event_id long, value double",
        keep=(),
    )
    return typed.select("event_id", F.round("value", 4).alias("value"))


#: Records appended to the fork after branching.
FORK_EXTRA = 100

#: Every constant that shapes the CACHED stream fixtures' record
#: geometry, folded into each cache marker (the cache_marker.py
#: contract: the round-5 stale-geometry lesson).  Built lazily so the
#: definition can live next to the last constant it names.
def _geom_params(extra: str = "") -> str:
    base = f"geom1:b{BATCH}.d{DIVERGE_MOD}.r{RET_SEG_ROWS}.f{FORK_EXTRA}"
    return f"{base}:{extra}" if extra else base


@query(
    "log_fork_branch",
    f"""
    SELECT event_id FROM events
    UNION ALL
    SELECT -CAST(x AS BIGINT) FROM generate_series(1, {FORK_EXTRA}) t(x)
    """,
    doc="Zero-copy stream fork (the lakehouse SHALLOW-CLONE/branch "
    "pattern): the branch hardlinks the source's segments — no bytes "
    "copied — carries the clock and fencing token forward, then "
    f"receives {FORK_EXTRA} extra records of its own. The graded read "
    "is the BRANCH's full content (shared history + divergent "
    "appends); the source's independence is unit-tested "
    "(test_fork_stream_is_independent_zero_copy). At 100 TB a fork "
    "costs O(segments) metadata regardless of data size — the cheap "
    "experiment/backfill branch every table format grew.",
)
def log_fork_branch(spark, sf_dir):
    from ..maintenance import fork_stream

    def build(root):
        cat = StreamCatalog(root)
        produce_bulk(
            cat.stream("events_base"),
            table(spark, sf_dir, "events").select("event_id", "ts"),
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id"],
            segment_rows=2500,
        )
        fork = fork_stream(cat, "events_base", "events_branch")
        fork.produce([{"event_id": -(i + 1)} for i in range(FORK_EXTRA)])

    root = build_once(
        cache_root("/tmp/durablestreams_fork_v1", sf_dir),
        sf_dir,
        build,
        params=_geom_params(),
    )
    fork = StreamCatalog(root).stream("events_branch")
    return fork.to_df(spark).select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id")
    )


@query(
    "log_version_time_travel",
    """
    SELECT event_id FROM events
    """,
    doc="Manifest VERSION AS OF time travel (the Delta-style snapshot "
    "read, complementing the reference's offset-based 'now-30d' "
    "travel): the stream is bulk-ingested (one commit), then receives "
    "later appends — reading AS OF the bulk commit's version must "
    "return exactly the original event set, with the later records "
    "invisible. Snapshot folding replays the txn log only up to the "
    "pinned version (checkpoint-accelerated); validity window = the "
    "tombstone retention, the same contract as Delta VACUUM. Oracle: "
    "the plain events table.",
)
def log_version_time_travel(spark, sf_dir):
    def build(root):
        stream = StreamCatalog(root).stream("events_asof")
        produce_bulk(
            stream,
            table(spark, sf_dir, "events").select("event_id", "ts"),
            order_by=["ts", "event_id"],
            batch_records=BATCH,
            payload_cols=["event_id"],
            segment_rows=2500,
        )
        pinned = stream.refresh().version
        # later history the snapshot must NOT see
        stream.produce([{"event_id": -(i + 1)} for i in range(50)])
        with open(os.path.join(root, "_pinned_version"), "w") as f:
            f.write(str(pinned))

    root = build_once(
        cache_root("/tmp/durablestreams_asof_v1", sf_dir),
        sf_dir,
        build,
        params=_geom_params(),
    )
    with open(os.path.join(root, "_pinned_version")) as f:
        pinned = int(f.read().strip())
    stream = StreamCatalog(root).stream("events_asof")
    df = stream.to_df(spark, as_of_version=pinned)
    return df.select(
        F.get_json_object("data", "$.event_id").cast("long").alias("event_id")
    )


@query(
    "log_incremental_mv",
    """
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4) AS sum_value,
           round(sum(value) / count(*), 6) AS avg_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    doc="Incremental materialized-view maintenance over the durable "
    "log (the Kafka-Streams/Materialize pattern the reference's "
    "consume-from-offset exists to power, README.md:96-108): the MV "
    "is first built from the log prefix up to a mid-log checkpoint "
    "offset, then the consumer RESUMES from that offset — "
    "to_df(after_offset) prunes already-consumed segments via the "
    "manifest, exclusive-start — and the delta page is folded in by "
    "a partial-aggregate merge (sum-of-sums / sum-of-counts; avg is "
    "derived AFTER the merge, the avg-of-avgs trap made "
    "unmakeable).  The merged MV must equal the oracle's full "
    "recompute — if the page split dropped or double-delivered one "
    "record at the seam, counts and sums shift and the hash gate "
    "catches it.  Checkpoint choice is metadata-only (middle active "
    "segment's max_offset from the manifest).  At 100 TB each "
    "incremental fold touches only new segments (manifest-pruned "
    "scan) + the O(groups) MV — never the full history.",
)
def log_incremental_mv(spark, sf_dir):
    stream = _ingest_events_payload(spark, sf_dir)
    segs = stream.manifest.load().active_sorted()
    # metadata-only checkpoint: consume page 1 up to the middle
    # segment's end, resume page 2 from there (exclusive start)
    cutoff = segs[len(segs) // 2].last_offset

    def typed(df):
        return df.select(
            F.get_json_object("data", "$.event_type").alias("event_type"),
            F.get_json_object("data", "$.value").cast("double").alias("value"),
        )

    def partial(df):
        return typed(df).groupBy("event_type").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("s"),
        )

    page1 = stream.to_df(spark).where(F.col("offset") <= cutoff)
    page2 = stream.to_df(spark, after_offset=cutoff).where(
        F.col("offset") > cutoff
    )
    mv = (
        partial(page1)
        .unionByName(partial(page2))
        .groupBy("event_type")
        .agg(F.sum("n").alias("n_total"), F.sum("s").alias("s_total"))
    )
    return mv.select(
        "event_type",
        F.col("n_total").cast("long").alias("n_events"),
        F.round("s_total", 4).alias("sum_value"),
        F.round(F.col("s_total") / F.col("n_total"), 6).alias("avg_value"),
    ).orderBy("event_type")
