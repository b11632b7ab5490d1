"""Maintenance: compaction, tombstone GC, orphan purge.

The reference drives these probabilistically off the flush alarm
(compact p=1.0, tombstone-GC p=0.01, orphan-purge p=1e-4;
``src/stream_manager.ts:18-20,384-391``) because everything shares one
Durable Object.  Here they are deterministic callable jobs — at scale
they run as scheduled Spark maintenance jobs decoupled from ingest
(SURVEY.md §2.1 #20).
"""

from __future__ import annotations

import os
import shutil
import time
import uuid

import pyarrow as pa
import pyarrow.parquet as pq

from .manifest import (
    CommitConflict,
    SegmentMeta,
    fsync_file_and_dir as _fsync_file_and_dir,
    offset_bounds_from_footer,
)
from .stream import _SEGMENT_SCHEMA, Stream, read_segment

# Reference thresholds, src/segment.ts:61-65.
MAX_SEGMENTS = 10
MAX_RECORDS = 5_000
MAX_BYTES = 10_000_000

TOMBSTONE_RETENTION_MS = 24 * 3600 * 1000  # src/stream_manager.ts:15-17


def plan_compaction(
    segments: list[SegmentMeta],
    max_segments: int = MAX_SEGMENTS,
    max_records: int = MAX_RECORDS,
    max_bytes: int = MAX_BYTES,
) -> list[SegmentMeta]:
    """Pick the oldest window of segments to merge.

    Behavioral spec from the reference planner
    (``src/segment.ts:60-144``) and its seven unit cases
    (``tests/index.test.ts:351-655``):

    - walk oldest → newest accumulating a window;
    - a segment *individually* over a threshold ends the window (it is
      excluded) if ≥2 segments were collected, else it is skipped and
      the window resets;
    - a segment that merely *trips* a cumulative threshold is included
      and ends the window;
    - cap at ``max_segments``;
    - fewer than 2 collected ⇒ no-op (empty plan).

    Pure metadata planning — runs driver-side over the manifest; no
    Catalyst involvement needed (SURVEY.md §2.1 #12).
    """
    window: list[SegmentMeta] = []
    tot_records = 0
    tot_bytes = 0
    for seg in sorted(segments, key=lambda s: s.first_offset):
        if seg.records > max_records or seg.bytes > max_bytes:
            if len(window) >= 2:
                return window
            window, tot_records, tot_bytes = [], 0, 0
            continue
        window.append(seg)
        tot_records += seg.records
        tot_bytes += seg.bytes
        if (
            len(window) >= max_segments
            or tot_records >= max_records
            or tot_bytes >= max_bytes
        ):
            break
    return window if len(window) >= 2 else []


def compact(
    stream: Stream,
    window: list[SegmentMeta] | None = None,
    **thresholds,
) -> SegmentMeta | None:
    """Merge one planned window into a single segment, atomically.

    Because segment offset ranges are disjoint and each file is sorted,
    the merge is pure concatenation in first_offset order — no
    comparisons, the same observation the reference exploits
    (``src/stream_manager.ts:558-573``).  The swap is a single manifest
    commit: remove actives → tombstones, add the compacted segment
    (reference KV transaction, ``src/stream_manager.ts:592-598``).

    Concurrent compactors are safe: the commit is guarded on every
    window segment still being active at commit time (the reference
    gets this for free from the Durable Object's single-threadedness).
    A compactor that loses the race deletes its output file and
    returns None — without the guard, both swaps would "succeed" and
    the manifest would hold two compacted segments with OVERLAPPING
    offset ranges, i.e. duplicated rows on every read.

    ``window`` is an injection seam for tests racing two compactors;
    normal callers let the planner pick it from fresh state.

    At 100 TB this becomes a Spark job per window
    (``spark.read.parquet(window).coalesce(1).write``) fanned out over
    many streams/windows at once; the manifest commit stays the same.
    """
    if window is None:
        state = stream.refresh()
        window = plan_compaction(state.active_sorted(), **thresholds)
    if not window:
        return None
    epoch = int(window[-1].last_offset[:16])
    # Deliberately NOT *.parquet: the live tail source (Stream.read_stream)
    # globs *.parquet, so compaction rewrites — which contain only
    # already-delivered offsets — are invisible to it and never re-delivered
    # as duplicates.  Batch readers use explicit manifest paths and don't
    # care about the extension.
    name = f"{epoch:016d}-{uuid.uuid4().hex}.compacted"
    dst = os.path.join(stream.segments_dir, name)
    # Point segments and produce_bulk parts differ in nullability and
    # ts time zone; cast every window segment to the point schema so
    # a mixed window concatenates (and the output has one schema).
    merged = pa.concat_tables(
        [
            read_segment(os.path.join(stream.segments_dir, s.name)).cast(_SEGMENT_SCHEMA)
            for s in window
        ]
    )
    pq.write_table(merged, dst, compression="zstd")
    _fsync_file_and_dir(dst)  # same invariant as Stream._write_segment:
    # the manifest must never reference bytes that didn't hit disk
    meta = SegmentMeta(
        name=name,
        first_offset=window[0].first_offset,
        last_offset=window[-1].last_offset,
        created_ms=int(time.time() * 1000),
        records=sum(s.records for s in window),
        bytes=os.path.getsize(dst),
    )
    try:
        stream._commit(
            {
                "add": [meta.to_json()],
                "remove": [s.name for s in window],
                "removed_ms": int(time.time() * 1000),
            },
            guard=lambda st: all(s.name in st.active for s in window),
        )
    except CommitConflict:
        # Another compactor swapped (part of) this window first; our
        # merged file must not enter the manifest. Best-effort unlink —
        # a crash right here leaves an orphan for purge_orphans.
        try:
            os.unlink(dst)
        except OSError:
            pass
        return None
    return meta


def clean_tombstones(
    stream: Stream,
    max_age_ms: int = TOMBSTONE_RETENTION_MS,
    now_ms: int | None = None,
) -> list[str]:
    """Delete data files for tombstones older than the retention window
    (reference ``cleanTombstones``, ``src/stream_manager.ts:611-636``).
    The retention delay exists so in-flight reads planned against an
    older manifest version can still finish — same role as Delta VACUUM
    retention."""
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    state = stream.refresh()
    purged = [
        name
        for name, (_meta, ts) in state.tombstones.items()
        if now - ts > max_age_ms
    ]
    for name in purged:
        path = os.path.join(stream.segments_dir, name)
        if os.path.exists(path):
            os.unlink(path)  # data first, then metadata — crash leaves a
            # dangling tombstone entry, re-purged next run (idempotent)
    if purged:
        stream._commit({"purge_tombstones": purged})
    return purged


#: An unreferenced segment younger than this is assumed to belong to an
#: in-flight produce (written, not yet committed) and is left alone.
ORPHAN_GRACE_MS = 60_000

#: A bulk run's ``._inflight`` marker older than this is an abandoned
#: run (producer crashed before its commit could remove the marker) —
#: the dir becomes purgeable.  Matches tombstone retention: both answer
#: "how long can an in-flight thing legitimately stay in flight".
BULK_INFLIGHT_ABANDON_MS = TOMBSTONE_RETENTION_MS


def purge_orphans(
    stream: Stream,
    grace_ms: int = ORPHAN_GRACE_MS,
    now_ms: int | None = None,
) -> list[str]:
    """Delete segment files referenced by neither the active set nor a
    tombstone (crash between data write and manifest commit leaves an
    orphan; reference ``purgeOrphans``, ``src/stream_manager.ts:638-676``).

    Race safety: the reference's purge is only safe because the Durable
    Object serializes it with produce; here a producer that has written
    its segment but not yet committed the manifest would lose the file
    (and its subsequent commit would then reference deleted data).  Two
    defenses: ``stream._lock`` is held for the MANIFEST FOLD ONLY — a
    same-process produce (which holds it across write+commit) is either
    fully committed when we fold (file referenced) or hasn't written
    yet (file will be younger than the grace) — and the grace period
    spares any unreferenced file young enough to be ANY producer's
    in-flight write: its commit either lands (file becomes referenced)
    or never will (purged after the grace).  The directory walk and
    the unlinks run OUTSIDE the lock — holding it across a recursive
    walk of millions of part files would stall every produce for the
    GC's whole runtime — so each unlink tolerates the file vanishing
    underneath it (a racing clean_tombstones may delete it first).

    Semantically a left-anti join of the directory listing against the
    manifest.  Driver-side set difference here; at object-store scale
    the listing itself becomes a DataFrame and this is literally
    ``files_df.join(manifest_df, "name", "left_anti")`` (SURVEY.md
    §2.1 #16 — the reference's per-object double KV lookup was a 128 MB
    memory workaround Spark doesn't need)."""
    with stream._lock:
        state = stream.refresh()
    if not os.path.isdir(stream.segments_dir):
        return []
    now = now_ms if now_ms is not None else int(time.time() * 1000)
    referenced = set(state.active) | set(state.tombstones)

    def _aged(path: str) -> bool:
        try:
            return now - int(os.path.getmtime(path) * 1000) > grace_ms
        except OSError:
            return False  # vanished underneath us — not ours to purge

    purged = []
    # Walk recursively: bulk ingest lands segments under
    # bulk-<uuid>/ subdirectories (manifest names carry the
    # relative path), so a top-level listing would never reap an
    # orphaned bulk write.  A bulk RUN directory whose mtime is
    # within the grace period is skipped WHOLESALE: a long write
    # job's early files can be arbitrarily old while the run is
    # still in flight (its commit pending), but the dir mtime
    # advances with every file the job adds.  (Aged-ness is
    # snapshotted up front — unlinking inside a dir refreshes its
    # mtime.)
    # A live `<dir>._inflight` marker (written by produce_bulk
    # before its first part file, removed at its manifest commit)
    # spares the whole run REGARDLESS of file/dir age — the
    # mtime-grace heuristic alone can't cover a write job that
    # legitimately outlives the grace window.  A marker older than
    # the abandon timeout means the producer crashed: drop the
    # marker and let the run age-purge normally.
    def _inflight(d: str) -> bool:
        m = os.path.join(stream.segments_dir, f"{d}._inflight")
        try:
            age = now - int(os.path.getmtime(m) * 1000)
        except OSError:
            return False  # no marker
        if age > BULK_INFLIGHT_ABANDON_MS:
            try:
                os.unlink(m)
            except OSError:
                pass
            return False
        return True

    aged_dirs = []
    for root, dirs, files in os.walk(stream.segments_dir):
        if root == stream.segments_dir:
            dirs[:] = [
                d
                for d in dirs
                if _aged(os.path.join(root, d)) and not _inflight(d)
            ]
            aged_dirs = [os.path.join(root, d) for d in dirs]
        for fn in files:
            path = os.path.join(root, fn)
            rel = os.path.relpath(path, stream.segments_dir)
            if not fn.endswith((".parquet", ".compacted")) or rel in referenced:
                continue
            if not _aged(path):
                continue
            try:
                os.unlink(path)
            except OSError:
                continue  # vanished (racing clean_tombstones) — not ours
            purged.append(rel)
    # Drop aged run directories with no surviving segments (Spark
    # leaves _SUCCESS/.crc droppings that would otherwise pin the
    # dir forever) so listings stay O(live).  ``.compacted`` counts as
    # live too: compact_by_key's committed segments keep that
    # extension inside their keycompact-*/ run dir.
    for sub in aged_dirs:
        has_live = any(
            f.endswith((".parquet", ".compacted"))
            for _r, _d, fs in os.walk(sub)
            for f in fs
        )
        if not has_live:
            shutil.rmtree(sub, ignore_errors=True)
    return sorted(purged)


def compact_by_key(
    stream: Stream, spark, key_path: str, n_ranges: int = 1
) -> list[SegmentMeta] | None:
    """Kafka-style log compaction: retain only the LATEST record per
    key, atomically replacing every active segment.

    The reference has only positional (segment-merge) compaction; this
    is the compacted-topic semantic its own "a single Kafka partition"
    framing (README.md:128) implies but never builds: a stream used as
    a changelog keeps one record per key, bounded by keyspace instead
    of history.

    Semantics: key = ``key_path`` JSON field of the payload; records
    whose payload lacks the key keep their offset as a private key and
    are always retained (Kafka's null-key behavior). "Latest" = highest
    offset, the stream's total order.  Retained records keep their
    original offsets, so consumers see the same records at the same
    positions, just with gaps — exclusive-start consume is unaffected.

    Execution is a Spark job end-to-end: window rank per key over the
    manifest-pruned scan, then an executor-side sorted write — no
    driver collect of data.  ``n_ranges`` controls the output segment
    count (``repartitionByRange(n_ranges, "offset")``): 1 locally, one
    segment per range at 100 TB so segment sizes stay bounded — EVERY
    part file is swapped into the manifest, with disjoint offset
    bounds read from its own parquet footer.  Returns the committed
    SegmentMetas.  The commit is guarded on the whole window still
    being active — a racing producer/compactor aborts this swap
    cleanly (same protocol as ``compact``).
    """
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    state = stream.refresh()
    window = state.active_sorted()
    if not window:
        return None
    df = stream.to_df(spark)
    key = F.coalesce(F.get_json_object("data", key_path), F.col("offset"))
    latest = (
        df.withColumn("_k", key)
        .withColumn(
            "_rn",
            F.row_number().over(W.partitionBy("_k").orderBy(F.col("offset").desc())),
        )
        .where(F.col("_rn") == 1)
        .select("offset", "ts", "data")
    )
    # Same run-directory protocol as produce_bulk: every part stays
    # inside keycompact-<uuid>/ (manifest names carry the relative
    # path) and the ._inflight marker is dropped only AFTER the
    # manifest commit resolves.  The earlier design renamed parts to
    # the segments_dir top level before committing — but the marker
    # only spares run DIRECTORIES in purge_orphans, and os.rename
    # preserves the Spark-write mtime, so on a multi-range run whose
    # write loop outlived ORPHAN_GRACE_MS a concurrent purge could
    # reap a part that the imminently-following commit then
    # referenced: a committed manifest pointing at a missing segment.
    run_rel = f"keycompact-{uuid.uuid4().hex}"
    run_dir = os.path.join(stream.segments_dir, run_rel)
    os.makedirs(stream.segments_dir, exist_ok=True)
    marker = f"{run_dir}._inflight"
    with open(marker, "w") as f:
        f.write(str(int(time.time() * 1000)))
    metas: list[SegmentMeta] = []
    try:
        (
            latest.repartitionByRange(n_ranges, "offset")
            .sortWithinPartitions("offset")
            .write.mode("error")
            .option("compression", "zstd")
            .parquet(run_dir)
        )
        parts = sorted(f for f in os.listdir(run_dir) if f.endswith(".parquet"))
        epoch = int(window[-1].last_offset[:16])
        now_ms = int(time.time() * 1000)
        # EVERY part becomes a segment (ranges are disjoint in offset,
        # so segment bounds stay disjoint): moving only the first part
        # and deleting the rest would silently drop every row in parts
        # 1..N-1 once the window's segments are tombstoned.
        for part in parts:
            src_path = os.path.join(run_dir, part)
            md = pq.read_metadata(src_path)
            if md.num_rows == 0:
                os.unlink(src_path)  # Spark writes 0-row parts for empty ranges
                continue
            # Deliberately NOT *.parquet: the live tail source
            # (Stream.read_stream) globs through run subdirectories, so
            # compaction rewrites — which contain only already-delivered
            # offsets — are invisible to it and never re-delivered as
            # duplicates.  Batch readers use explicit manifest paths and
            # don't care about the extension.  The rename stays WITHIN
            # the marker-guarded run dir.
            name = f"{run_rel}/{epoch:016d}-{uuid.uuid4().hex}.compacted"
            dst = os.path.join(stream.segments_dir, name)
            os.rename(src_path, dst)
            _fsync_file_and_dir(dst)
            first, last, nrows = offset_bounds_from_footer(md, name)
            metas.append(
                SegmentMeta(
                    name=name,
                    first_offset=first,
                    last_offset=last,
                    created_ms=now_ms,
                    records=nrows,
                    bytes=os.path.getsize(dst),
                )
            )
        if not metas:
            return None
        # Refresh the marker before committing (same protocol as
        # produce_bulk's post-write utime): the per-part rename+fsync
        # loop above can outlive BULK_INFLIGHT_ABANDON_MS on a huge
        # multi-range run, and the abandon clock counts from the
        # marker's mtime.  A reaped marker means the parts may already
        # be purge candidates — committing anyway could reference
        # deleted files, so fail with the real cause instead.
        try:
            os.utime(marker)
        except FileNotFoundError:
            raise RuntimeError(
                "key compaction exceeded the in-flight abandon timeout "
                "(BULK_INFLIGHT_ABANDON_MS) and its marker was reaped; "
                "re-run, or touch the marker from a heartbeat for long "
                "jobs"
            ) from None
        try:
            stream._commit(
                {
                    "add": [m.to_json() for m in metas],
                    "remove": [s.name for s in window],
                    "removed_ms": int(time.time() * 1000),
                },
                guard=lambda st: all(s.name in st.active for s in window),
            )
        except CommitConflict:
            # The loser KNOWS its link never landed — eager cleanup is
            # safe.  Any other commit exception (fsync error, I/O) may
            # have fired AFTER the manifest durably linked: the run dir
            # must NOT be deleted then (a landed manifest would point
            # at missing segments) — it is left as an ordinary aged
            # orphan, spared by purge if referenced, reaped after the
            # grace if not.
            shutil.rmtree(run_dir, ignore_errors=True)
            return None
        return metas
    finally:
        # Marker drops on EVERY exit, after the commit has resolved:
        # success makes the run's files manifest-referenced (purge now
        # spares them by name); conflict/failure leaves an ordinary
        # aged run dir under the normal grace rules.
        try:
            os.unlink(marker)
        except OSError:
            pass


def apply_retention(stream: Stream, cutoff_offset: str) -> list[SegmentMeta]:
    """Offset/time-based retention (the Kafka ``retention.ms`` analog,
    driven through the reference's own time-travel offsets: a wall-
    clock policy converts to a cutoff via ``offsets.offset_for_time``):
    drop every segment that lies WHOLLY below the cutoff.  Partial
    segments survive untouched — retention is a metadata operation,
    never a rewrite.

    The swap is one guarded manifest commit with an empty ``add`` set:
    victims become tombstones and their bytes are reclaimed later by
    ``clean_tombstones`` under the usual grace window, so in-flight
    reads planned against the old manifest stay valid — the exact
    lifecycle compaction rewrites already use."""
    from .offsets import is_offset

    # A malformed cutoff (short, unpadded, non-numeric) would still
    # compare lexicographically against 32-digit offsets and could
    # silently tombstone EVERY segment — validate like consume() does.
    if not is_offset(cutoff_offset):
        raise ValueError(f"malformed cutoff offset: {cutoff_offset!r}")
    state = stream.refresh()
    victims = [
        s for s in state.active_sorted() if s.last_offset < cutoff_offset
    ]
    if not victims:
        return []
    stream._commit(
        {
            "add": [],
            "remove": [s.name for s in victims],
            "removed_ms": int(time.time() * 1000),
        },
        guard=lambda st: all(s.name in st.active for s in victims),
    )
    return victims


def fork_stream(catalog, src_name: str, dst_name: str) -> Stream:
    """Zero-copy stream fork (the lakehouse cheap-clone: Delta SHALLOW
    CLONE / Iceberg branch, expressed in this engine's terms): the new
    stream gets HARDLINKS to every active segment of the source — no
    data is copied — plus one manifest commit re-registering the same
    segment metadata and carrying the source's clock and fencing token
    forward.

    From that point the two streams are fully independent: appends to
    either are invisible to the other (offsets continue from the
    forked clock on both sides), and lifecycle ops stay safe because
    deletion is ``unlink`` — compaction/retention/GC on one stream
    removes only ITS directory entry while the other stream's link
    keeps the shared inode alive.  Falls back to a real copy when the
    catalog spans filesystems (EXDEV)."""
    import errno

    src: Stream = catalog.stream(src_name)
    dst: Stream = catalog.stream(dst_name)
    state = src.refresh()
    if dst.refresh().active:
        raise ValueError(f"fork target {dst_name!r} is not empty")
    os.makedirs(dst.segments_dir, exist_ok=True)
    for seg in state.active_sorted():
        s_path = os.path.join(src.segments_dir, seg.name)
        d_path = os.path.join(dst.segments_dir, seg.name)
        # bulk-ingested segment names carry a run subdirectory
        os.makedirs(os.path.dirname(d_path), exist_ok=True)
        try:
            os.link(s_path, d_path)
        except OSError as e:
            if e.errno != errno.EXDEV:
                raise
            shutil.copy2(s_path, d_path)
    # Guarded commit: the emptiness check above is check-then-act — a
    # produce racing into dst between the check and this commit would
    # otherwise leave two active segments with OVERLAPPING offset
    # ranges (dst's clock started at 0, src's epochs are historical),
    # breaking the disjointness invariant every reader relies on.  The
    # guard also refuses to regress a higher fencing token or clock dst
    # may retain from a drained past life: forking onto such a stream
    # is a misuse that must fail loudly (CommitConflict), not silently
    # re-admit stale producers.  The txns carry-over max-merges in
    # Manifest._apply, so watermarks can never regress either.
    dst._commit(
        {
            "add": [s.to_json() for s in state.active_sorted()],
            "set": {
                "last_epoch_ms": state.last_epoch_ms,
                "producer_version": state.producer_version,
            },
            # Carry the source's streaming-transaction watermarks too:
            # without them a foreachBatch exactly-once ingest re-pointed
            # at the fork would lose replay detection and re-append
            # already-committed micro-batches as duplicates.
            "txns": dict(state.txns),
        },
        guard=lambda st: (
            not st.active
            and st.producer_version <= state.producer_version
            and st.last_epoch_ms <= state.last_epoch_ms
        ),
    )
    return dst
