"""Per-stream manifest: an append-only JSON transaction log.

Replaces the reference's Durable-Object KV index
(``active_log_segment::<name>`` / ``tombstone::<name>`` / ``_metadata``
entries, reference ``src/stream_manager.ts:22-31``) and its in-memory
red-black tree (``src/stream_manager.ts:96-127``) with a Delta-style
commit log: each commit is one JSON file ``_manifest/<version>.json``
created atomically, and stream state is the left fold of all commits.

Atomicity / optimistic concurrency: a commit is staged to a temp file
and published with ``os.link`` (hard link), which fails with EEXIST if
another writer claimed the same version — the filesystem analogue of a
conditional PUT.  This is the one piece the survey flags as genuinely
custom (SURVEY.md §4 "crash-safe metadata swap"; reference KV
transaction at ``src/stream_manager.ts:592-598``).  On an object store
at 100 TB the same protocol maps to conditional-PUT / put-if-absent
(S3 ``If-None-Match:*``, GCS generation preconditions).

Scale notes (100 TB): the manifest holds one row per segment file with
min/max offset + rowcount + bytes — exactly the file-level stats Spark
needs for data skipping.  At ~1 GB segments, 100 TB is ~100k manifest
rows ≈ a few tens of MB of JSON: driver-side folding stays cheap, and
`checkpoint` commits (full-state snapshots, written every
``CHECKPOINT_INTERVAL`` commits) bound recovery to O(1) reads + the
tail of the log, the same trick Delta/Iceberg use.

Refresh contract: a handle that already holds a fold catches up by
reading only the commits after it (``load(base=...)``).  That is sound
because commit files are immutable once linked and their versions are
contiguous (commit ``v + 1`` can only be linked on top of a fold at
``v``), so the new commits are exactly ``base.version + 1, + 2, ...``
up to the first missing file.  The one thing it cannot see is a stream
destroyed and recreated under the same name by another handle, whose
version numbers start over.  Every fold therefore carries a stamp, the
``(st_ino, st_mtime_ns)`` of the last manifest file it read, and the
incremental path runs only while that file still carries that stamp.
A fold with no stamp, a stamp that no longer matches (the file was
removed or replaced), and ``as_of`` reads all take the full fold:
newest readable checkpoint plus the commits after it.
"""

from __future__ import annotations

import json
import os
import tempfile
from dataclasses import dataclass, field, asdict, replace

CHECKPOINT_INTERVAL = 50
MANIFEST_DIR = "_manifest"
VERSION_DIGITS = 20


def fsync_file_and_dir(path: str) -> None:
    """Flush a freshly written file's bytes AND its directory entry so a
    manifest commit can safely reference it (durability-before-ack,
    reference ``src/stream_manager.ts:278-281,498``).  The single shared
    implementation of that invariant — segment writes, bulk part files
    and compaction outputs all go through here."""
    fd = os.open(path, os.O_RDONLY)
    try:
        os.fsync(fd)
    finally:
        os.close(fd)
    dfd = os.open(os.path.dirname(path), os.O_RDONLY)
    try:
        os.fsync(dfd)
    finally:
        os.close(dfd)


def offset_bounds_from_footer(md, label: str = "segment"):
    """(first_offset, last_offset, n_rows) of a segment file from its
    parquet ROW-GROUP min/max statistics — O(row groups) footer
    metadata, never a data read (materializing the offset column
    driver-side would be O(rows) memory at 100 TB).  Shared by bulk
    ingest and key compaction so the fold cannot drift between them.
    Raises if any row group lacks stats: failing loudly beats both the
    silent fallback of scanning the column (hides a misconfigured
    writer) and the AttributeError a naive ``st.min`` would hit."""
    idx = md.schema.to_arrow_schema().get_field_index("offset")
    first, last, n = None, None, 0
    for rg in range(md.num_row_groups):
        col = md.row_group(rg).column(idx)
        st = col.statistics
        if st is None or not st.has_min_max:
            raise ValueError(
                f"{label}: row group {rg} has no offset statistics — "
                "segments must be written with min/max stats"
            )
        lo = st.min.decode() if isinstance(st.min, bytes) else st.min
        hi = st.max.decode() if isinstance(st.max, bytes) else st.max
        first = lo if first is None or lo < first else first
        last = hi if last is None or hi > last else last
        n += md.row_group(rg).num_rows
    return first, last, n


def _stamp(path: str, f) -> tuple[str, int, int]:
    """Stamp of the manifest file ``path``, open as ``f``."""
    s = os.fstat(f.fileno())
    return path, s.st_ino, s.st_mtime_ns


class CommitConflict(Exception):
    """Another writer committed this manifest version first."""


class FencingError(Exception):
    """Producer version is stale (reference 409, ``src/stream_manager.ts:245-253``)."""


@dataclass(frozen=True)
class SegmentMeta:
    """Stats for one immutable segment file.

    Mirrors the reference's ``SegmentMetadata`` (``src/segment.ts:3-14``):
    invariants ``first_offset <= last_offset`` and no two segments'
    offset ranges intersect (``src/stream_manager.ts:108-111``).
    """

    name: str
    first_offset: str
    last_offset: str
    created_ms: int
    records: int
    bytes: int

    def to_json(self) -> dict:
        return asdict(self)

    @staticmethod
    def from_json(d: dict) -> "SegmentMeta":
        return SegmentMeta(
            name=d["name"],
            first_offset=d["first_offset"],
            last_offset=d["last_offset"],
            created_ms=int(d["created_ms"]),
            records=int(d["records"]),
            bytes=int(d["bytes"]),
        )


@dataclass
class StreamState:
    """Folded manifest state.

    ``producer_version`` is the fencing token (reference
    ``StreamMetadata``, ``src/stream_manager.ts:69-74``);
    ``last_epoch_ms`` persists the hybrid clock so recovery restores the
    monotonic guard (reference restores it from the max segment's
    lastOffset, ``src/stream_manager.ts:160-170``).
    """

    version: int = -1  # manifest commit version, -1 = empty
    producer_version: int = 0
    last_epoch_ms: int = 0
    active: dict[str, SegmentMeta] = field(default_factory=dict)
    tombstones: dict[str, tuple[SegmentMeta, int]] = field(default_factory=dict)
    # Streaming idempotence: app_id -> highest committed micro-batch id
    # (Delta txnAppId/txnVersion analog; generalizes the reference's
    # producer fencing token to exactly-once foreachBatch replay).
    txns: dict[str, int] = field(default_factory=dict)
    # (path, st_ino, st_mtime_ns) of the last manifest file this fold
    # read or wrote; None = not stamped, the next refresh refolds.
    stamp: tuple[str, int, int] | None = field(default=None, compare=False, repr=False)

    def copy(self) -> "StreamState":
        """A copy whose containers can be changed without touching
        this state, which other threads may be reading."""
        return replace(
            self,
            active=dict(self.active),
            tombstones=dict(self.tombstones),
            txns=dict(self.txns),
        )

    def active_sorted(self) -> list[SegmentMeta]:
        """Active segments in offset order (ranges are disjoint, so
        sorting by first_offset totally orders them — the property that
        made the reference's RB-tree-on-firstOffset sufficient)."""
        return sorted(self.active.values(), key=lambda s: s.first_offset)

    def max_offset(self) -> str | None:
        segs = self.active
        if not segs:
            return None
        return max(s.last_offset for s in segs.values())

    def to_json(self) -> dict:
        return {
            "producer_version": self.producer_version,
            "last_epoch_ms": self.last_epoch_ms,
            "active": [s.to_json() for s in self.active.values()],
            "tombstones": [
                {"meta": m.to_json(), "tombstoned_ms": t}
                for (m, t) in self.tombstones.values()
            ],
            "txns": dict(self.txns),
        }

    @staticmethod
    def from_json(version: int, d: dict) -> "StreamState":
        st = StreamState(version=version)
        st.producer_version = int(d.get("producer_version", 0))
        st.last_epoch_ms = int(d.get("last_epoch_ms", 0))
        for s in d.get("active", []):
            m = SegmentMeta.from_json(s)
            st.active[m.name] = m
        for t in d.get("tombstones", []):
            m = SegmentMeta.from_json(t["meta"])
            st.tombstones[m.name] = (m, int(t["tombstoned_ms"]))
        st.txns = {k: int(v) for k, v in d.get("txns", {}).items()}
        return st


class Manifest:
    """The transaction log for one stream directory."""

    def __init__(self, stream_dir: str):
        self.stream_dir = stream_dir
        self.dir = os.path.join(stream_dir, MANIFEST_DIR)

    # -- log reading ---------------------------------------------------

    def _entries(self) -> list[tuple[int, str, str]]:
        """Sorted (version, kind, path); kind in {commit, checkpoint}."""
        if not os.path.isdir(self.dir):
            return []
        out = []
        for fn in os.listdir(self.dir):
            # A foreign .json (sync-tool "conflicted copy", stray
            # notes file) must not brick the stream: skip names whose
            # prefix is not a version number, same hardening stance as
            # the unreadable-checkpoint fallback in load().
            head = fn.split(".")[0]
            if not head.isdigit():
                continue
            if fn.endswith(".checkpoint.json"):
                out.append((int(head), "checkpoint", os.path.join(self.dir, fn)))
            elif fn.endswith(".json"):
                out.append((int(head), "commit", os.path.join(self.dir, fn)))
        out.sort()
        return out

    def load(
        self, as_of: int | None = None, base: StreamState | None = None
    ) -> StreamState:
        """Fold the log into a StreamState (recovery path — the analogue
        of the reference's ``buildIndexFromStorage``,
        ``src/stream_manager.ts:503-511``).

        ``base`` is the caller's last fold: when its stamp still
        matches, only the commits after it are read and applied to a
        copy (``base`` itself is never changed); otherwise, and with
        ``as_of``, the whole log is folded (module docstring).

        ``as_of`` replays only commits with version <= as_of — VERSION
        AS OF time travel.  Validity window: an old version's segments
        exist only until tombstone GC reclaims them, the same contract
        as Delta VACUUM; readers needing longer horizons fork or raise
        the tombstone retention.  A nonexistent version raises
        ValueError (the Delta VERSION AS OF contract): silently
        serving the nearest snapshot would turn a typo'd version into
        a read of the wrong data."""
        if as_of is None and base is not None and self._stamp_holds(base):
            return self._advance(base)
        entries = self._entries()
        if as_of is not None:
            known = {v for v, kind, _p in entries if kind == "commit"}
            if as_of not in known:
                span = f"[{min(known)}, {max(known)}]" if known else "<empty>"
                raise ValueError(
                    f"VERSION AS OF {as_of}: no such manifest commit "
                    f"(valid versions: {span})"
                )
            entries = [e for e in entries if e[0] <= as_of]
        st = StreamState()
        # Start from the NEWEST readable checkpoint, replay the tail.
        # Newest-first means exactly one snapshot is parsed on the
        # happy path (the old forward scan parsed every checkpoint it
        # passed).  A checkpoint that fails to parse — bitrot, a
        # truncated copy, external tampering — is SKIPPED, falling
        # back to the previous checkpoint (or a full replay from
        # version 0): checkpoints are derived data and every commit
        # since version 0 is retained, so ignoring a bad snapshot
        # only lengthens the replay, never changes the answer.  Our
        # own writer can't produce a torn checkpoint (tmp + fsync +
        # atomic link), so this guards against everything else.
        start = 0
        cps = [
            (i, ver, path)
            for i, (ver, kind, path) in enumerate(entries)
            if kind == "checkpoint"
        ]
        for i, ver, path in reversed(cps):
            try:
                with open(path) as f:
                    st = StreamState.from_json(ver, json.load(f))
                    st.stamp = _stamp(path, f)
                start = i + 1
                break
            except (ValueError, KeyError, TypeError, OSError):
                continue
        for ver, kind, path in entries[start:]:
            if kind != "commit":
                continue
            if ver <= st.version:
                continue
            with open(path) as f:
                self._apply(st, json.load(f))
                st.stamp = _stamp(path, f)
            st.version = ver
        return st

    @staticmethod
    def _stamp_holds(st: StreamState) -> bool:
        if st.stamp is None:
            return False
        path, ino, mtime_ns = st.stamp
        try:
            s = os.stat(path)
        except OSError:
            return False
        return (s.st_ino, s.st_mtime_ns) == (ino, mtime_ns)

    def _advance(self, base: StreamState) -> StreamState:
        """``base`` plus the commits linked after it: open
        ``base.version + 1``, ``+ 2``, ... until one does not exist."""
        st = base
        while True:
            ver = st.version + 1
            path = self._commit_path(ver)
            try:
                with open(path) as f:
                    actions = json.load(f)
                    stamp = _stamp(path, f)
            except FileNotFoundError:
                return st
            if st is base:
                st = base.copy()
            self._apply(st, actions)
            st.version, st.stamp = ver, stamp

    @staticmethod
    def _apply(st: StreamState, actions: dict) -> None:
        for s in actions.get("add", []):
            m = SegmentMeta.from_json(s)
            st.active[m.name] = m
        rm_ms = int(actions.get("removed_ms", 0))
        for name in actions.get("remove", []):
            m = st.active.pop(name, None)
            if m is not None:
                st.tombstones[name] = (m, rm_ms)
        for name in actions.get("purge_tombstones", []):
            st.tombstones.pop(name, None)
        # bulk txn carry-over (stream forks): replaces nothing, only
        # seeds watermarks absent from this state — max-merge so a
        # fork can never REGRESS a watermark the destination already
        # holds (a regressed watermark re-admits replayed batches,
        # an exactly-once violation)
        for app, batch in actions.get("txns", {}).items():
            app = str(app)
            st.txns[app] = max(st.txns.get(app, -1), int(batch))
        meta = actions.get("set", {})
        if "producer_version" in meta:
            st.producer_version = int(meta["producer_version"])
        if "last_epoch_ms" in meta:
            st.last_epoch_ms = max(st.last_epoch_ms, int(meta["last_epoch_ms"]))
        txn = actions.get("txn")
        if txn:
            # Watermarks are monotone: max-merge here too, so even a
            # stale replayer whose commit slips through can only be a
            # no-op on the watermark, never a regression that re-admits
            # later batches as fresh.
            app = str(txn["app"])
            st.txns[app] = max(st.txns.get(app, -1), int(txn["batch"]))

    # -- committing ----------------------------------------------------

    def commit(self, actions: dict, base: StreamState) -> StreamState:
        """Atomically publish ``actions`` as commit ``base.version + 1``.

        Raises CommitConflict if another writer got there first (caller
        reloads and retries — optimistic concurrency).
        """
        os.makedirs(self.dir, exist_ok=True)
        version = base.version + 1
        dst = self._commit_path(version)
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(actions, f, separators=(",", ":"))
                f.flush()
                os.fsync(f.fileno())
                # dst will be a second link to this inode: same stamp
                stamp = _stamp(dst, f)
            try:
                os.link(tmp, dst)  # put-if-absent: the commit point
            except FileExistsError:
                raise CommitConflict(f"manifest version {version} already committed")
            # Make the directory entry durable: without this a power
            # loss can lose the link while the producer already acked.
            self._fsync_dir()
        finally:
            os.unlink(tmp)
        new = base.copy()
        self._apply(new, actions)
        new.version, new.stamp = version, stamp
        if version > 0 and version % CHECKPOINT_INTERVAL == 0:
            # Checkpoints are DERIVED data: the commit above is already
            # durably published (link + dir fsync), so a checkpoint
            # write failure (ENOSPC, EIO) must not surface as a commit
            # failure — the caller would retry a commit that already
            # happened and duplicate its records.  load() tolerates a
            # missing/corrupt checkpoint by folding the commit log.
            try:
                self._write_checkpoint(new)
            except OSError:
                pass
        return new

    def _commit_path(self, version: int) -> str:
        return os.path.join(self.dir, f"{version:0{VERSION_DIGITS}d}.json")

    def _fsync_dir(self) -> None:
        dfd = os.open(self.dir, os.O_RDONLY)
        try:
            os.fsync(dfd)
        finally:
            os.close(dfd)

    def _write_checkpoint(self, st: StreamState) -> None:
        path = os.path.join(self.dir, f"{st.version:0{VERSION_DIGITS}d}.checkpoint.json")
        fd, tmp = tempfile.mkstemp(dir=self.dir, suffix=".tmp")
        try:
            with os.fdopen(fd, "w") as f:
                json.dump(st.to_json(), f, separators=(",", ":"))
                f.flush()
                os.fsync(f.fileno())
            try:
                os.link(tmp, path)
                self._fsync_dir()
            except FileExistsError:
                pass  # another writer checkpointed the same version — identical content
        finally:
            os.unlink(tmp)
