"""Micro-batch group-commit ingest: any streaming DataFrame → a
durable stream, exactly once.

The reference buffers producer requests and flushes them as ONE
segment per 200 ms alarm (``src/stream_manager.ts:270-281,384-500``);
a Structured Streaming micro-batch IS that group commit (SURVEY.md
§2.1 #5) — ``trigger(processingTime="200ms")`` reproduces the cadence,
``foreachBatch`` is the flush function, and one manifest commit per
batch is the durability/ack point.

A flush pays for what the batch holds, not for fixed scheduling: its
first Spark action is ONE bounded probe — a top-K over the batch that
keeps at most ``SMALL_BATCH_ROWS + 1`` rows in ``order_by`` order and
ships them as JSON strings.  That probe is both the point/bulk decision
and, for the common small batch, the whole data read, so the point
path runs exactly one Spark job and needs no ``persist`` (nothing reads
the batch twice).  Only a batch too big for the point path is read
again, by ``produce_bulk``; re-reading a micro-batch is safe because
exactly-once already requires a replayable source (a restart replays
the same batch from it).  A one-partition big batch (one source file
per trigger, say) is one range for ``produce_bulk``: one more job and
no ``persist``.  Only a multi-partition one, whose range path reads it
twice (count, then write), is persisted first.

Every stage a flush runs is compile-stable: its generated Java is the
same string on every trigger, so Spark's codegen cache compiles each
stage once per session, not once per flush.  The probe therefore holds
no whole-stage-codegen'd ``Limit`` (Spark names a fused limit's
counter from a JVM-global id, so each plan's code string is new), and
``assign_offsets`` keeps the per-flush epoch out of the generated code.

Exactly-once across failures: Structured Streaming replays an
unacknowledged micro-batch after restart, so the flush must be
idempotent.  Each commit records ``(app_id → batch_id)`` in the
manifest (the Delta ``txnAppId``/``txnVersion`` pattern); a replayed
batch with ``batch_id <= committed`` is skipped before writing
anything.  This generalizes the reference's producer fencing token
(``src/stream_manager.ts:240-267``) from "reject stale producers" to
"reject stale micro-batches".
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..ingest import one_range, produce_bulk
from ..manifest import CommitConflict
from ..stream import Stream

#: Below this row count the flush is a driver-side point produce (one
#: small file, one single-task Spark job) — the same observation as
#: SURVEY.md §2.1 #7: launching a distributed write for a 200 ms
#: trickle batch is the wrong physical plan.  Above it, the
#: distributed bulk path takes over.
SMALL_BATCH_ROWS = 10_000


def _probe(batch_df: DataFrame, order_by: list[str] | None, n: int) -> list[str]:
    """The first ``n`` rows of ``batch_df`` in ``order_by`` order, each
    as the JSON string ``toJSON`` would give it."""
    probe = batch_df.orderBy(*order_by) if order_by else batch_df
    probe = probe.select(F.to_json(F.struct(F.col("*"))))
    return [r[0] for r in probe.limit(n).collect()]


def flush_batch(
    stream: Stream,
    batch_df: DataFrame,
    batch_id: int,
    app_id: str,
    order_by: list[str] | None = None,
) -> bool:
    """Commit one micro-batch; returns False if it was a replay (skip).

    One bounded probe decides the path and fetches a small batch in the
    same job: ``orderBy(*order_by)`` (ascending, NULLS FIRST), then
    ``to_json(struct(*))`` and ``limit(SMALL_BATCH_ROWS + 1)``.
    Spark plans that as ``TakeOrderedAndProject`` — every task keeps a
    bounded top-K of its partition, the driver merges them and
    serializes only the survivors — and, without ``order_by``, as
    ``CollectLimit`` (one job while the first partition holds the
    batch, more only if it must read further partitions).  Neither is
    whole-stage codegen'd, so no fused ``Limit`` puts a fresh counter
    name into the generated code and the probe compiles nothing after
    the first trigger.  ``to_json`` writes
    the same strings as ``toJSON`` (payload serialization stays on the
    Spark side: timestamps, nesting) without leaving the JVM.  No row
    count, cache or range shuffle runs first.

    - 0 rows: a txn-only commit advances the watermark;
    - up to ``SMALL_BATCH_ROWS`` rows: the probe's rows ARE the batch,
      written by one point ``produce`` (one segment per flush, like the
      reference's alarm) — no ``persist``, since nothing reads the
      batch again;
    - more: the distributed ``produce_bulk``, which reads the batch a
      second time (safe: the source is replayable, as exactly-once
      requires).  A one-partition batch (``ingest.one_range``) is
      written by one job that reads it once, so it is not persisted;
      a multi-partition batch takes the range path, whose count and
      write jobs share one read under a ``persist``.
      A top-K cannot stop early, so with ``order_by`` the probe has
      already scanned such a batch in full.
    """
    state = stream.refresh()
    if state.txns.get(app_id, -1) >= batch_id:
        return False  # replayed batch — already durable, ack and move on
    rows = _probe(batch_df, order_by, SMALL_BATCH_ROWS + 1)
    if not rows:
        # Guarded like the data paths: a concurrent replayer that
        # already advanced the watermark past batch_id must not
        # regress it (the guard aborts; _apply's max-merge is the
        # second line of defense).  Watermark already there ⇒ this
        # was a replay: ack-and-skip, same as the pre-check above.
        try:
            stream._commit(
                {"txn": {"app": app_id, "batch": batch_id}},
                guard=lambda st: st.txns.get(app_id, -1) < batch_id,
            )
        except CommitConflict:
            if stream.refresh().txns.get(app_id, -1) >= batch_id:
                return False  # replay — already durable
            raise
    elif len(rows) <= SMALL_BATCH_ROWS:
        stream.produce([json.loads(r) for r in rows], txn=(app_id, batch_id))
    else:
        # assign_offsets re-sorts by order_by itself, so the bulk path
        # takes the batch unsorted.
        persist = not one_range(batch_df)
        if persist:
            batch_df.persist()
        try:
            produce_bulk(
                stream,
                batch_df,
                order_by=order_by or batch_df.columns[:1],
                txn=(app_id, batch_id),
            )
        finally:
            if persist:
                batch_df.unpersist()
    return True


def start_ingest(
    stream: Stream,
    source_df: DataFrame,
    checkpoint_dir: str,
    app_id: str,
    trigger_ms: int = 200,
    order_by: list[str] | None = None,
    available_now: bool = False,
):
    """Start the group-commit ingest query; returns the StreamingQuery.

    ``trigger_ms=200`` matches the reference's flush interval
    (``src/stream_manager.ts:14``).  ``available_now=True`` drains the
    source and stops — the backfill/test mode.
    """
    writer = source_df.writeStream.foreachBatch(
        lambda df, bid: flush_batch(stream, df, bid, app_id, order_by)
    ).option("checkpointLocation", checkpoint_dir)
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    return writer.start()
