"""Bulk, Spark-native produce: assign offsets to a whole DataFrame and
write it into a stream as batched segments — one distributed job.

The reference's produce path is a point operation (buffer → 200 ms
flush → one segment, ``src/stream_manager.ts:384-500``); backfilling a
large table through it would serialize everything through the driver.
This module is the scale path: the same offset semantics (epoch ‖
counter, 16+16 zero-padded digits, monotonic epochs —
``src/stream_manager.ts:76-85,401-427``) computed as column
expressions, with the global total order established WITHOUT a
single-partition sort:

1. ``repartitionByRange(order_by)`` — range shuffle, each partition
   holds a contiguous key range;
2. per-partition ``row_number`` over ``Window.partitionBy(pid)`` —
   parallel, no skew beyond the range partitioner's;
3. partition row-counts (a tiny agg) → driver-side prefix sums →
   literal partition→(start epoch, start counter) maps that turn local
   row numbers into offsets.

That is the textbook distributed zip-with-index; the only global
barrier is the O(partitions) count collect.

An input that already has exactly one partition, as fixed by Spark's
planning (a file scan whose files fit one split, an existing one-slice
RDD), IS its own single range: step 1 becomes ``coalesce(1)`` (no
sample, no shuffle; the window plans with no exchange), and step 3 is
skipped, because the only partition's prefix sum is 0.  Offsets and
write then run in ONE Spark job.  The trade-off: such an input sorts
in one task however large it is; an input that needs parallel sorting
should arrive with more than one partition.

The parts land in one ``bulk-<uuid>/`` run and are registered in ONE
manifest commit (group commit taken to its logical extreme) through
the run protocol every Spark-written segment shares,
``maintenance.spark_write_run``.
"""

from __future__ import annotations

# perfbench/tracing.py patches ingest.os and ingest.pq by name.
import os  # noqa: F401

import pyarrow.parquet as pq  # noqa: F401
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .functions.offsets import make_offset, offset_counter, offset_epoch
from .maintenance import spark_write_run
from .manifest import CommitConflict, SegmentMeta
from .offsets import parse_offset
from .stream import Stream


def one_range(df: DataFrame) -> bool:
    """True when ``df`` has exactly one partition, as already fixed by
    Spark's planning: the input ``assign_offsets`` takes as its single
    range.  An adaptive plan decides its partition count only when it
    runs (reading it would run its shuffle stages), so it is never one
    range."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        return False
    return df.rdd.getNumPartitions() == 1


def assign_offsets(
    df: DataFrame,
    order_by: list[str],
    batch_records: int = 1000,
    base_epoch: int = 1,
) -> DataFrame:
    """Add ``offset``/``ts``/``batch`` columns: rows sorted by
    ``order_by`` get offsets ``(base_epoch + rn // batch_records,
    rn % batch_records)`` — batch *i* behaves like the *i*-th flush of
    a producer with a logical clock, exactly reproducible by SQL
    arithmetic (which is what the duckdb oracle does).

    ``rn`` is the row's global position: the driver turns the
    per-partition row counts into prefix sums and hands each partition
    its first epoch ``E = base_epoch + prefix // batch_records`` and
    first counter ``C = prefix % batch_records`` as literal maps, so a
    row with local row number ``local`` gets epoch
    ``E[pid] + (C[pid] + local) div batch_records`` and counter
    ``(C[pid] + local) mod batch_records``.  ``base_epoch`` lives only
    in the map, never in the generated code: a flush into a live
    stream (a new ``base_epoch`` every time) reuses the compiled
    stage.

    A ``one_range`` input is its own range: ``coalesce(1)`` instead of
    the range shuffle, and the maps are ``{0: base_epoch}`` and
    ``{0: 0}`` without a count job or a ``persist``, so nothing runs
    until the caller's action (one job for ``produce_bulk``).  All rows
    then sort in that one task.  The offsets are the same either way.
    The result carries ``_ds_total`` (the row count, ``None`` on the
    one-range path, which never counts) and ``_ds_persisted`` (the
    intermediate to unpersist after the write; not persisted on the
    one-range path)."""
    single = one_range(df)
    ranged = df.coalesce(1) if single else df.repartitionByRange(*order_by)
    pid = F.spark_partition_id()
    local = (
        F.row_number().over(
            Window.partitionBy("__pid").orderBy(*order_by)
        )
        - 1
    )
    with_local = ranged.withColumn("__pid", pid).withColumn("__local", local)
    if single:
        # The only partition starts at row 0: its size enters no
        # prefix sum, so nothing counts it.
        sizes = {0: 0}
    else:
        # Persist so the count job and the write job see the SAME range
        # partitioning (the partitioner samples; recomputation could
        # shift boundary rows between partitions and corrupt the prefix
        # sums).
        with_local = with_local.persist()
        counts = (
            with_local.groupBy("__pid")
            .agg(F.count(F.lit(1)).alias("__n"))
            .collect()
        )
        sizes = {r["__pid"]: r["__n"] for r in counts}
    # Prefix sums → each partition's first (epoch, counter) as two
    # O(partitions) literal maps: a lookup, not a join (a broadcast of
    # a driver-side DataFrame costs its own job).  A map literal
    # reaches the generated code as a reference, where a long literal
    # is inlined: the code does not change with base_epoch.
    start_epoch: dict[int, int] = {}
    start_counter: dict[int, int] = {}
    acc = 0
    for p in sorted(sizes):
        start_epoch[p] = base_epoch + acc // batch_records
        start_counter[p] = acc % batch_records
        acc += sizes[p]

    def by_pid(table: dict[int, int]):
        return F.create_map(
            *[F.lit(x) for kv in table.items() for x in kv]
        ).cast("map<int,bigint>")[F.col("__pid")]

    rn = by_pid(start_counter) + F.col("__local")
    epoch = (by_pid(start_epoch) + (rn / batch_records).cast("long")).alias(
        "__epoch"
    )
    counter = (rn % batch_records).alias("__counter")
    out = (
        with_local.select("*", epoch, counter)
        .withColumn("offset", make_offset("__epoch", "__counter"))
        .withColumn("ts", F.timestamp_millis(F.col("__epoch")))
        .withColumn("batch", F.col("__epoch"))
        .drop("__pid", "__local", "__epoch", "__counter")
    )
    # Hand the intermediate + total row count to the caller
    # (unpersist-after-write; file-count planning without a second scan).
    out._ds_persisted = with_local  # type: ignore[attr-defined]
    out._ds_total = None if single else acc  # type: ignore[attr-defined]
    out._ds_nparts = max(1, len(sizes))  # type: ignore[attr-defined]
    return out


def produce_bulk(
    stream: Stream,
    df: DataFrame,
    order_by: list[str],
    batch_records: int = 1000,
    payload_cols: list[str] | None = None,
    txn: tuple[str, int] | None = None,
    segment_rows: int | None = None,
    exact_segments: bool = False,
) -> int:
    """Write a whole DataFrame into ``stream`` as offset-assigned
    segments; returns the number of segment files committed.

    ``df`` columns are JSON-encoded into the schemaless ``data`` payload
    (reference record shape ``{offset, data}``,
    ``src/stream_manager.ts:56-59``).  Epochs continue after the
    stream's current clock, so bulk loads interleave correctly with
    point produces.  Durability order matches the reference: all data
    files first, then one metadata commit = the ack point
    (``src/stream_manager.ts:498,516``; ``maintenance.spark_write_run``).
    A commit that loses a race removes its run dir and raises
    CommitConflict, unless a concurrent replayer already committed
    the same ``txn`` batch (then 0).

    ``batch_records`` sets the offset arithmetic (records per logical
    epoch); ``segment_rows`` sets the physical file size.  The two are
    independent: the manifest invariant is only that segment offset
    ranges are DISJOINT.  With ``segment_rows=None`` (default) the
    write reuses the range partitioning ``assign_offsets`` already
    established: offsets are monotonic in the order key, so each
    existing partition holds a CONTIGUOUS offset range and one
    locally-sorted file per partition is disjoint BY CONSTRUCTION —
    no second full-data shuffle (at 100 TB that shuffle doubles the
    ingest I/O; file count = shuffle partitions, which is the knob
    that sizes them).  Passing ``segment_rows`` explicitly sizes files
    without ever SAMPLING: every row's global position is already
    arithmetic in its offset, so the target file id is the column
    expression ``rn div segment_rows`` — when existing partitions are
    at least segment-sized the write just splits in-task via
    ``maxRecordsPerFile`` (NO second shuffle — the 100 TB path); when
    they are smaller (many tiny partitions from a wide shuffle) a
    deterministic hash repartition on the file id merges them into
    exactly ceil(total/segment_rows) files.  Unlike
    ``repartitionByRange`` this never runs a sampling job over the
    data, and files stay disjoint by construction: within a task, rows
    sort by offset, file-id groups are contiguous in that order, and
    every group except the global tail is exactly ``segment_rows``
    rows, so the ``maxRecordsPerFile`` splits land precisely on group
    boundaries.  Either way the write is a plain sequential parquet
    write, never a dynamic ``partitionBy`` (measured 3-10× slower and
    high-variance for many small partitions).

    A one-partition input (``one_range``) takes none of these
    branches: offsets and write are ONE Spark job over one task, with
    no sample, count or persist, and ``segment_rows`` files are exact
    (every file ``segment_rows`` rows but the last) with or without
    ``exact_segments``.  The whole input then sorts in that task.
    """
    state = stream.refresh()
    if txn is not None and state.txns.get(str(txn[0]), -1) >= txn[1]:
        # Replay detection (Delta txnAppId/txnVersion): this (app,
        # batch) is already durably committed — a replayed bulk batch
        # is a NO-OP success, never a duplicate write.  The commit
        # guard in _finish_bulk revalidates on the fresh fold, closing
        # the window between this check and the commit.
        return 0
    base_epoch = state.last_epoch_ms + 1
    payload = F.to_json(
        F.struct(*[F.col(c) for c in (payload_cols or df.columns)])
    ).alias("data")
    with_offsets = assign_offsets(df, order_by, batch_records, base_epoch)
    assigned = with_offsets.select("offset", "ts", payload)
    total = with_offsets._ds_total  # type: ignore[attr-defined]
    max_records_per_file = segment_rows or 0
    if segment_rows is None or total is None:
        # Partition-contiguous fast path: projections preserved
        # assign_offsets' range partitioning, so offsets are
        # contiguous per partition — local sort, no second shuffle.
        # A one-range input (no row count) is one sorted run from row
        # 0, so ``maxRecordsPerFile`` cuts it at exact multiples of
        # segment_rows: exact segments without the merge below.
        writer_df = assigned.sortWithinPartitions("offset")
    else:
        n_files = max(1, -(-total // segment_rows))
        n_parts = with_offsets._ds_nparts  # type: ignore[attr-defined]
        if n_files >= n_parts and not exact_segments:
            # Partitions are at least segment-sized: keep the existing
            # range partitioning and let the writer split each task's
            # sorted run at segment_rows boundaries.  Zero extra
            # shuffle — the plan a 100 TB ingest needs.  (File count
            # is ceil per partition, so up to n_parts files more than
            # the exact target; sizes never exceed segment_rows.  The
            # seam file at each partition boundary is SHORT, so callers
            # needing arithmetically-predictable segment geometry —
            # e.g. the retention audit's oracle — pass
            # ``exact_segments=True`` to force the repartition path
            # below at the cost of its extra shuffle.)
            writer_df = assigned.sortWithinPartitions("offset")
        else:
            # Many small partitions → merge into exactly n_files.  The
            # file id is pure offset arithmetic (global row number div
            # segment_rows), so a hash repartition on it needs NO
            # sampling pass, unlike repartitionByRange.  Sorting by
            # offset inside each task restores contiguity; the
            # maxRecordsPerFile cap splits colliding file-id groups
            # (hash collisions put 2+ ids in one task) exactly at
            # their boundaries because every non-tail group is exactly
            # segment_rows rows and the tail group sorts last.
            rn = (offset_epoch("offset") - base_epoch) * batch_records + (
                offset_counter("offset")
            )
            file_id = F.expr(f"rn_tmp div {int(segment_rows)}")
            writer_df = (
                assigned.withColumn("rn_tmp", rn)
                .withColumn("__file", file_id)
                .repartition(n_files, "__file")
                .sortWithinPartitions("offset")
                .drop("rn_tmp", "__file")
            )

    return _finish_bulk(
        stream, writer_df, with_offsets, state, base_epoch, txn,
        max_records_per_file,
    )


def _finish_bulk(
    stream, writer_df, with_offsets, state, base_epoch, txn,
    max_records_per_file=0,
):
    """Write ``writer_df`` as one ``bulk-<uuid>/`` run and commit its
    parts (``maintenance.spark_write_run``); returns the number of
    segment files committed."""

    def write(run_dir: str) -> None:
        try:
            w = writer_df.write.mode("error")
            if max_records_per_file:
                w = w.option("maxRecordsPerFile", max_records_per_file)
            w.parquet(run_dir)
        finally:
            with_offsets._ds_persisted.unpersist()  # type: ignore[attr-defined]

    def commit(metas: list[SegmentMeta]) -> int:
        last_epoch = (
            parse_offset(metas[-1].last_offset)[0] if metas else state.last_epoch_ms
        )
        actions = {
            "add": [m.to_json() for m in metas],
            "set": {"last_epoch_ms": last_epoch},
        }
        if txn is not None:
            actions["txn"] = {"app": txn[0], "batch": txn[1]}
        # Offsets derive from base_epoch: if a point producer claimed an
        # epoch >= ours mid-job, committing would interleave ranges —
        # abort loudly instead (bulk loads re-run; they don't silently
        # corrupt).  The txn watermark is validated INSIDE the guard
        # (same contract as _produce_locked.fresh_enough): a zombie
        # replayer whose batch a failover already committed must abort
        # here, not double-append.
        stream._commit(
            actions,
            guard=lambda st: st.last_epoch_ms < base_epoch
            and (txn is None or st.txns.get(str(txn[0]), -1) < txn[1]),
        )
        return len(metas)

    try:
        return spark_write_run(stream, "bulk", "bulk ingest", write, commit)
    except CommitConflict:
        if (
            txn is not None
            and stream.refresh().txns.get(str(txn[0]), -1) >= txn[1]
        ):
            # Lost to a concurrent replayer that committed OUR batch:
            # the records are durable, so this is a no-op success.
            return 0
        raise
