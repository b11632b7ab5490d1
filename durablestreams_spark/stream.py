"""Stream engine: durable append-only logs surfaced as Spark tables.

The public contract replicates the reference's API semantics
(reference ``src/stream_manager.ts``):

- ``produce(records, version=...)`` → per-record offsets, acked only
  after the segment AND its metadata are durable
  (``src/stream_manager.ts:278-281,498,516``).
- ``consume(offset, limit)`` → records strictly AFTER ``offset``
  (exclusive start, ``src/stream_manager.ts:358``), in offset order,
  crossing segment boundaries until ``limit`` is reached
  (``src/stream_manager.ts:376-379``). ``offset="-"`` = beginning.
  The reference serves it as a ``lowerBound`` seek to the first
  segment plus a slice inside it that skips lines at or before the
  offset (``src/stream_manager.ts:356-362``); here manifest pruning is
  the first half and a binary search over the segment's sorted
  ``offset`` column the second, so only the returned rows are decoded.
- ``tail(limit, timeout_sec)`` → long-poll for records produced after
  the call (``src/stream_manager.ts:295-326``).
- ``destroy()`` → drop everything; the same name can be recreated
  (``src/stream_manager.ts:722-758``).

Design split — point ops vs analytics:

* ``produce``/``consume`` are *point* operations (default limit is 10
  in the reference precisely because they are; ``src/stream_manager.
  ts:216``).  They run driver-side over Arrow — launching a distributed
  Spark job to read ten records would be the wrong physical plan at any
  scale.  This mirrors SURVEY.md §2.1 #7's note: single small file per
  batch → driver-side write.
* Analytics run through ``to_df(spark)`` / SQL views: the manifest
  prunes segment files by (first_offset, last_offset) *before* Spark
  ever lists them — the moral equivalent of the reference's RB-tree
  ``lowerBound`` seek (``src/stream_manager.ts:678-717``) and of
  Delta data skipping.  At 100 TB the pruned file list, not a directory
  listing, is what feeds the scan, so a point-in-time query touches
  O(matching segments) not O(all segments).

Segments are Parquet (columnar upgrade over the reference's NDJSON;
SURVEY.md §1.3) with schema ``offset: string, ts: timestamp, data:
string (raw JSON)``.  Payloads stay schemaless — a raw JSON string
column is the source of truth, typed access via ``from_json`` at query
time.
"""

from __future__ import annotations

import bisect
import json
import os
import random
import shutil
import threading
import time
import uuid
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

from .manifest import (
    CommitConflict,
    FencingError,
    Manifest,
    SegmentMeta,
    StreamState,
    fsync_file_and_dir,
)
from .offsets import (
    BEGINNING,
    next_epoch,
    parse_offset,
    serialize_offset,
)

SEGMENTS_DIR = "segments"

_SEGMENT_SCHEMA = pa.schema(
    [
        pa.field("offset", pa.string(), nullable=False),
        pa.field("ts", pa.timestamp("us"), nullable=False),
        pa.field("data", pa.string(), nullable=False),
    ]
)


def read_segment(path: str, columns: list[str] | None = None) -> pa.Table:
    """One segment file as an Arrow table.  ``ParquetFile`` opens just
    this file, where ``pq.read_table`` builds a dataset around it on
    every call.  Point segments are written with ``_SEGMENT_SCHEMA``;
    ``produce_bulk`` parts come from Spark (nullable columns, ``ts``
    in UTC), so callers that need one schema cast to it."""
    return pq.ParquetFile(path).read(columns=columns)


@dataclass(frozen=True)
class Record:
    offset: str
    data: object  # parsed JSON payload (schemaless, like the reference)


@dataclass(frozen=True)
class ProduceResult:
    offsets: list[str]
    version: int | None


def _now_ms() -> int:
    return int(time.time() * 1000)


class Stream:
    """One durable, totally-ordered, append-only log."""

    def __init__(self, root: str, name: str):
        if "/" in name or name in ("", ".", ".."):
            raise ValueError(f"invalid stream name: {name!r}")
        self.name = name
        self.dir = os.path.join(root, name)
        self.segments_dir = os.path.join(self.dir, SEGMENTS_DIR)
        self.manifest = Manifest(self.dir)
        self._state: StreamState | None = None
        self._lock = threading.Lock()  # in-process single-writer fast path
        self._data_cond = threading.Condition()  # tail wakeups

    # -- state ----------------------------------------------------------

    def _load(self) -> StreamState:
        if self._state is None:
            self._state = self.manifest.load()
        return self._state

    def refresh(self) -> StreamState:
        """Bring the folded state up to date with the manifest on disk
        (cross-process recovery, reference ``ensureSetup``/
        ``buildIndexFromStorage``, ``src/stream_manager.ts:130-179``).
        Only commits newer than the cached fold are read; see
        ``Manifest.load`` for when it falls back to a full fold."""
        self._state = self.manifest.load(base=self._state)
        return self._state

    def _commit(self, actions: dict, guard=None) -> StreamState:
        """Optimistic commit with reload-retry, backoff and jitter.

        ``guard(state)`` — if given — revalidates the freshly folded
        state before each attempt; returning False aborts with
        CommitConflict so the CALLER can recompute whatever it derived
        from the stale state (offsets!) instead of committing garbage.
        """
        delay = 0.001
        for _ in range(64):
            base = self._load()
            if guard is not None and not guard(base):
                raise CommitConflict(
                    f"stream {self.name}: state changed under a derived commit"
                )
            try:
                self._state = self.manifest.commit(actions, base)
                return self._state
            except CommitConflict:
                self.refresh()  # lost the race: catch up and retry
                time.sleep(delay * (0.5 + random.random()))
                delay = min(delay * 2, 0.05)
        raise CommitConflict(f"manifest contention on stream {self.name}")

    # -- produce ----------------------------------------------------------

    def produce(
        self,
        records: list,
        version: int | None = None,
        epoch_ms: int | None = None,
        txn: tuple[str, int] | None = None,
    ) -> ProduceResult:
        """Append a batch; returns one offset per record.

        ``version`` is the optional producer fencing token: stale
        versions are rejected, higher versions are persisted, and an
        empty ``records`` makes it a version-bump-only call — all per
        the reference (``src/stream_manager.ts:240-268``).

        ``epoch_ms`` overrides the wall clock for deterministic replay
        and tests; the monotonic guard still applies, so offsets are
        always strictly increasing.

        ``txn=(app_id, batch_id)`` stamps the commit for streaming
        exactly-once replay detection (see ``streaming.ingest``).
        """
        if version is not None and not isinstance(version, int):
            raise ValueError(f"producer version must be an int, got {version!r}")
        with self._lock:
            offsets = self._produce_locked(records, version, epoch_ms, txn)
        with self._data_cond:
            self._data_cond.notify_all()
        return ProduceResult(offsets=offsets, version=version)

    def _produce_locked(self, records, version, epoch_ms, txn) -> list[str]:
        """Optimistic produce: offsets derive from the loaded state, so
        a lost manifest race invalidates them — everything (epoch,
        offsets, segment file) is recomputed from the fresh fold and
        the stale segment unlinked (a crash mid-retry leaves at most an
        orphan file, reaped by purge_orphans — same failure envelope as
        the reference, SURVEY.md §3.1)."""
        last_exc: Exception | None = None
        for attempt in range(32):
            if attempt:  # jittered backoff breaks producer livelock
                time.sleep(random.uniform(0, 0.002 * attempt))
                self.refresh()  # our fold is known-stale
            state = self._load()
            if txn is not None and state.txns.get(str(txn[0]), -1) >= txn[1]:
                # Replay detection: this (app, batch) is already durably
                # committed — by us on a prior attempt whose conflict we
                # lost sight of, or by a concurrent replayer.  A replayed
                # batch is a NO-OP success, never a duplicate append and
                # never an error (Delta txnAppId/txnVersion semantics).
                return []
            set_meta: dict = {}
            if version is not None:
                if version < state.producer_version:
                    raise FencingError(
                        f"producer version {version} < current {state.producer_version}"
                    )
                if version > state.producer_version:
                    set_meta["producer_version"] = version
            if not records:
                if set_meta:
                    # Guarded like the data path: a racing higher-version
                    # bump landing between our fold and commit must not be
                    # overwritten (fencing regression).  On conflict the
                    # outer loop refolds — the staleness check above then
                    # raises FencingError (lower) or no-ops (equal).
                    try:
                        self._commit(
                            {"set": set_meta},
                            guard=lambda st: st.producer_version < version,
                        )
                    except CommitConflict as exc:
                        last_exc = exc
                        continue
                return []

            epoch = next_epoch(
                state.last_epoch_ms, epoch_ms if epoch_ms is not None else _now_ms()
            )
            offsets = [serialize_offset(epoch, i) for i in range(len(records))]
            payloads = [json.dumps(r, separators=(",", ":")) for r in records]
            name = f"{epoch:016d}-{uuid.uuid4().hex}.parquet"
            nbytes = self._write_segment(name, offsets, epoch, payloads)
            set_meta["last_epoch_ms"] = epoch
            meta = SegmentMeta(
                name=name,
                first_offset=offsets[0],
                last_offset=offsets[-1],
                created_ms=_now_ms(),
                records=len(records),
                bytes=nbytes,
            )
            # Durability order matches the reference: data object first,
            # then metadata commit = the ack point (src/stream_manager.ts:498,516).
            actions = {"add": [meta.to_json()], "set": set_meta}
            if txn is not None:
                actions["txn"] = {"app": txn[0], "batch": txn[1]}

            def fresh_enough(st, _epoch=epoch):
                # another writer claimed our epoch (or later) ⇒ our
                # offsets would collide/regress: recompute, don't commit.
                # The txn watermark is validated INSIDE the guarded
                # commit (the Delta txnAppId/txnVersion pattern): two
                # concurrent replays of the same micro-batch (zombie
                # driver + failover replacement) can both pass the
                # check-then-act refresh in streaming/ingest.flush_batch,
                # but only the first can commit — the second sees the
                # watermark already at/above its batch id and aborts
                # instead of double-appending.
                return (
                    st.last_epoch_ms < _epoch
                    and not (
                        version is not None and version < st.producer_version
                    )
                    and (txn is None or st.txns.get(str(txn[0]), -1) < txn[1])
                )

            try:
                self._commit(actions, guard=fresh_enough)
                return offsets
            except CommitConflict as exc:
                last_exc = exc
                try:
                    os.unlink(os.path.join(self.segments_dir, name))
                except OSError:
                    pass
        raise CommitConflict(
            f"produce on stream {self.name} kept losing offset races"
        ) from last_exc

    def _write_segment(self, name: str, offsets: list[str], epoch: int, payloads: list[str]) -> int:
        os.makedirs(self.segments_dir, exist_ok=True)
        ts = pa.array([epoch * 1000] * len(offsets), type=pa.timestamp("us"))
        table = pa.Table.from_arrays(
            [pa.array(offsets, type=pa.string()), ts, pa.array(payloads, type=pa.string())],
            schema=_SEGMENT_SCHEMA,
        )
        path = os.path.join(self.segments_dir, name)
        pq.write_table(table, path, compression="zstd")
        # The ack contract is "segment AND metadata durable"
        # (src/stream_manager.ts:278-281,498): fsync the bytes and the
        # directory entry BEFORE the manifest commit can reference them,
        # or a power loss could leave the manifest pointing at a file
        # whose contents never hit disk.
        fsync_file_and_dir(path)
        return os.path.getsize(path)

    # -- consume ----------------------------------------------------------

    def consume(self, offset: str = BEGINNING, limit: int = 10) -> list[Record]:
        """Scan records strictly after ``offset``, up to ``limit``.

        Seek, then slice, as the reference does with its RB-tree
        ``lowerBound`` and the in-segment line slice
        (``src/stream_manager.ts:356-362``): manifest pruning skips
        every segment whose range ends at or before ``offset``; inside
        the first segment read, offsets are sorted, so the rows at or
        before ``offset`` are a prefix whose end a binary search finds.
        Only the rows returned are converted to Python and parsed."""
        state = self._load()
        start = "" if offset == BEGINNING else offset
        if start:
            parse_offset(start)  # validate
        out: list[Record] = []
        for seg in state.active_sorted():
            want = limit - len(out)
            if want <= 0:
                break
            if start and seg.last_offset <= start:
                continue
            table = read_segment(
                os.path.join(self.segments_dir, seg.name), ["offset", "data"]
            )
            skip = 0
            if start and seg.first_offset <= start:  # exclusive start
                offs = table.column("offset")
                skip = bisect.bisect_right(
                    range(table.num_rows), start, key=lambda i: offs[i].as_py()
                )
            page = table.slice(skip, want)
            out.extend(
                Record(offset=o, data=json.loads(d))
                for o, d in zip(
                    page.column("offset").to_pylist(), page.column("data").to_pylist()
                )
            )
        return out

    def consume_since(self, epoch_ms: int, limit: int = 10) -> list[Record]:
        """Time-travel consume: records flushed at or after ``epoch_ms``
        (the reference's ``now-30d`` synthetic-offset story,
        ``README.md:105-108``) — no index of timestamps needed, because
        offsets ARE timestamps: scanning exclusive-from the last
        possible offset of ``epoch_ms - 1`` yields exactly the records
        with epoch >= ``epoch_ms``."""
        from .offsets import end_of_epoch

        if epoch_ms <= 0:
            return self.consume(BEGINNING, limit)
        return self.consume(end_of_epoch(epoch_ms - 1), limit)

    # -- tail (long-poll) --------------------------------------------------

    def tail(
        self,
        limit: int = 10,
        timeout_sec: float = 0,
        after_offset: str | None = None,
    ) -> list[Record]:
        """Long-poll for records produced after this call.

        Equivalent to the reference's consumer registration + flush
        poke (``src/stream_manager.ts:308-313,454-467``): snapshot the
        current max offset, wait for new data, then read exclusive-from
        the snapshot so everything in the new flush is delivered.

        ``after_offset`` pins the snapshot to the CALLER's cursor
        instead of "now": an HTTP long-poll that checked consume(X)
        empty and then waited would otherwise miss records produced in
        the check→wait gap (they'd be inside a now-snapshot); with the
        cursor as the snapshot, any record after X — whenever it
        landed — satisfies the poll immediately.
        """
        state = self.refresh()
        if after_offset is not None:
            snapshot = after_offset or BEGINNING
            cur0 = state.max_offset()
            if cur0 is not None and (
                snapshot == BEGINNING or cur0 > snapshot
            ):
                return self.consume(snapshot, limit)
        else:
            snapshot = state.max_offset() or BEGINNING
        deadline = time.monotonic() + timeout_sec
        # Start stale-toward-refold (None never equals a real sig): the
        # first timed-out wakeup always refolds.  Sampling the sig here
        # instead reopens the check→wait race this method exists to
        # close — a cross-process commit landing between the refresh
        # above and the stat (or inside the same dir-mtime granularity
        # tick) would bump the mtime BEFORE the baseline was captured,
        # so the loop would see an unchanged signature and block for
        # the full timeout despite matching data.
        last_sig = None
        while True:
            remaining = deadline - time.monotonic()
            if remaining <= 0:
                return []
            with self._data_cond:
                notified = self._data_cond.wait(timeout=min(remaining, 0.05))
            # A same-process produce notifies the condition AND updates
            # the cached state, so _load() suffices; on a timeout the
            # new data (if any) came from ANOTHER process, which only
            # the manifest knows about.  Refolding the whole log every
            # 50 ms wakeup would re-list and re-parse the manifest 20x
            # per idle second per tailer; instead gate on the manifest
            # DIRECTORY mtime (one stat syscall — POSIX bumps it when a
            # commit file is linked in) and refold only when it moved.
            if notified:
                state = self._load()
            else:
                sig = self._manifest_sig()
                if sig == last_sig and sig is not None:
                    continue
                last_sig = sig
                state = self.refresh()
            cur = state.max_offset()
            if cur is not None and (snapshot == BEGINNING or cur > snapshot):
                return self.consume(snapshot, limit)

    def _manifest_sig(self):
        """Cheap cross-process change signal for tail(): the manifest
        directory's mtime_ns (bumped by every commit link).  None when
        the directory doesn't exist yet — treated as always-stale."""
        try:
            return os.stat(self.manifest.dir).st_mtime_ns
        except OSError:
            return None

    # -- destroy ----------------------------------------------------------

    def destroy(self) -> None:
        """Delete all data + metadata; the name is immediately reusable
        (reference ``destroy()``, ``src/stream_manager.ts:722-758``)."""
        with self._lock:
            shutil.rmtree(self.dir, ignore_errors=True)
            self._state = None
        with self._data_cond:
            self._data_cond.notify_all()

    # -- Spark surface ------------------------------------------------------

    def segment_paths(
        self,
        after_offset: str | None = None,
        as_of_version: int | None = None,
    ) -> list[str]:
        """Manifest-pruned file list for a scan starting after
        ``after_offset``; ``as_of_version`` reads the manifest VERSION
        AS OF that commit (snapshot time travel — valid within the
        tombstone retention window, the Delta-VACUUM contract)."""
        state = (
            self._load()
            if as_of_version is None
            else self.manifest.load(as_of=as_of_version)
        )
        segs = state.active_sorted()
        if after_offset and after_offset != BEGINNING:
            segs = [s for s in segs if s.last_offset > after_offset]
        return [os.path.join(self.segments_dir, s.name) for s in segs]

    def to_df(
        self,
        spark,
        after_offset: str | None = None,
        as_of_version: int | None = None,
    ):
        """The stream as a batch DataFrame (offset, ts, data).

        File pruning happens here via the manifest; within the scan,
        Catalyst still gets parquet min/max stats on ``offset`` for
        row-group skipping, and ``data`` is only materialized if the
        query projects it (columnar — the upgrade over the reference's
        pre-parse offset check, ``src/stream_manager.ts:356-362``).
        """
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("offset", T.StringType(), False),
                T.StructField("ts", T.TimestampType(), False),
                T.StructField("data", T.StringType(), False),
            ]
        )
        paths = self.segment_paths(after_offset, as_of_version)
        if not paths:
            return spark.createDataFrame([], schema)
        return spark.read.schema(schema).parquet(*paths)

    def read_stream(self, spark):
        """The stream as a Structured Streaming source (file source over
        the segment directory; SURVEY.md §2.1 #11).  Use
        ``withWatermark("ts", ...)`` downstream for windowed aggs.

        Delivery contract: every record written by ``produce`` (top-level
        ``*.parquet``) or ``produce_bulk`` (``bulk-*/*.parquet``, hence the
        recursive lookup) is delivered exactly once.  Compaction rewrites
        carry a ``.compacted`` extension precisely so this glob skips them
        — re-reading a merged segment would re-deliver offsets the source
        already emitted from the raw files.  Raw files outlive compaction
        by the tombstone retention (24 h), so a tail started within that
        window still sees them; for older history, seed from the
        manifest-backed batch reader (``to_df``) and tail from its max
        offset.  ``ignoreMissingFiles`` covers tombstone GC unlinking a
        listed file mid-batch.

        Isolation caveat: bulk part-files become visible as tasks commit
        them, which can precede the run's manifest ack — a tail may
        deliver records from a bulk run that subsequently aborts
        (read-uncommitted).  Consumers needing committed-only reads use
        ``to_df``/``consume``, which go through the manifest."""
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("offset", T.StringType(), False),
                T.StructField("ts", T.TimestampType(), False),
                T.StructField("data", T.StringType(), False),
            ]
        )
        os.makedirs(self.segments_dir, exist_ok=True)
        return (
            spark.readStream.schema(schema)
            .option("recursiveFileLookup", "true")
            .option("pathGlobFilter", "*.parquet")
            .option("ignoreMissingFiles", "true")
            .parquet(self.segments_dir)
        )


class StreamCatalog:
    """Name → Stream registry rooted at a directory (the analogue of the
    reference's URL-path → Durable-Object-instance routing,
    ``src/index.ts:4-11``)."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._streams: dict[str, Stream] = {}
        self._lock = threading.Lock()

    def stream(self, name: str) -> Stream:
        with self._lock:
            st = self._streams.get(name)
            if st is None:
                st = self._streams[name] = Stream(self.root, name)
            return st

    def list_streams(self) -> list[str]:
        return sorted(
            d
            for d in os.listdir(self.root)
            if os.path.isdir(os.path.join(self.root, d, "_manifest"))
        )

    def destroy(self, name: str) -> None:
        self.stream(name).destroy()
