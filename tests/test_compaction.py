"""Compaction planner unit tests — the reference's seven cases
(reference ``tests/index.test.ts:351-655``; thresholds
``src/segment.ts:61-65``), plus GC / orphan-purge coverage."""

import os
import time
import uuid

from durablestreams_spark import SegmentMeta
from durablestreams_spark.maintenance import (
    MAX_BYTES,
    MAX_RECORDS,
    clean_tombstones,
    compact,
    plan_compaction,
    purge_orphans,
)


def seg(i: int, records: int = 1, nbytes: int = 1) -> SegmentMeta:
    off = f"{i:016d}" + "0" * 16
    return SegmentMeta(
        name=f"seg-{i}",
        first_offset=off,
        last_offset=f"{i:016d}" + "9" * 16,
        created_ms=i,
        records=records,
        bytes=nbytes,
    )


def names(window):
    return [s.name for s in window]


def test_all_valid_window():
    segs = [seg(1), seg(2), seg(3)]
    assert names(plan_compaction(segs)) == ["seg-1", "seg-2", "seg-3"]


def test_oversize_bytes_mid_excluded():
    segs = [seg(1), seg(2), seg(3, nbytes=MAX_BYTES + 1), seg(4)]
    assert names(plan_compaction(segs)) == ["seg-1", "seg-2"]


def test_oversize_records_mid_excluded():
    segs = [seg(1), seg(2), seg(3, records=MAX_RECORDS + 1), seg(4)]
    assert names(plan_compaction(segs)) == ["seg-1", "seg-2"]


def test_threshold_tripping_bytes_included():
    segs = [seg(1), seg(2), seg(3, nbytes=MAX_BYTES), seg(4)]
    assert names(plan_compaction(segs)) == ["seg-1", "seg-2", "seg-3"]


def test_threshold_tripping_records_included():
    segs = [seg(1), seg(2), seg(3, records=MAX_RECORDS), seg(4)]
    assert names(plan_compaction(segs)) == ["seg-1", "seg-2", "seg-3"]


def test_leading_oversize_skipped_window_resets():
    segs = [seg(1, nbytes=MAX_BYTES + 1), seg(2), seg(3)]
    assert names(plan_compaction(segs)) == ["seg-2", "seg-3"]


def test_single_segment_no_op():
    assert plan_compaction([seg(1)]) == []


def test_max_segments_cap():
    segs = [seg(i) for i in range(1, 15)]
    assert names(plan_compaction(segs)) == [f"seg-{i}" for i in range(1, 11)]


def test_empty_input():
    assert plan_compaction([]) == []


# -- executor-adjacent maintenance ------------------------------------------


def test_tombstone_gc_deletes_old_files(catalog):
    s = catalog.stream(uuid.uuid4().hex)
    s.produce([{"value": "a"}])
    s.produce([{"value": "b"}])
    compact(s)
    state = s.refresh()
    assert len(state.tombstones) == 2
    tomb_paths = [os.path.join(s.segments_dir, n) for n in state.tombstones]
    assert all(os.path.exists(p) for p in tomb_paths)

    # within retention → untouched
    assert clean_tombstones(s) == []
    # past retention → files deleted, entries purged
    future = max(ts for (_m, ts) in state.tombstones.values()) + 24 * 3600 * 1000 + 1
    purged = clean_tombstones(s, now_ms=future)
    assert sorted(purged) == sorted(state.tombstones)
    assert not any(os.path.exists(p) for p in tomb_paths)
    assert s.refresh().tombstones == {}
    # data still fully readable from the compacted segment
    assert [r.data["value"] for r in s.consume("-", 10)] == ["a", "b"]


def test_orphan_purge(catalog):
    s = catalog.stream(uuid.uuid4().hex)
    s.produce([{"value": "a"}])
    orphan = os.path.join(s.segments_dir, "9999999999999999-deadbeef.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not a real segment")
    os.utime(orphan, (0, 0))  # ancient mtime — well past the grace period
    assert purge_orphans(s) == ["9999999999999999-deadbeef.parquet"]
    assert not os.path.exists(orphan)
    # referenced files untouched
    assert [r.data["value"] for r in s.consume("-", 10)] == ["a"]


def test_orphan_purge_spares_inflight_writes(catalog):
    """An unreferenced segment younger than the grace period must NOT
    be deleted: it may be another process's produce that has written
    its file but not yet committed the manifest (ADVICE: without the
    grace, that commit then lands referencing deleted data)."""
    s = catalog.stream(uuid.uuid4().hex)
    s.produce([{"value": "a"}])
    inflight = os.path.join(s.segments_dir, "9999999999999998-cafebabe.parquet")
    with open(inflight, "wb") as f:
        f.write(b"pending segment")
    assert purge_orphans(s) == []  # fresh mtime ⇒ spared
    assert os.path.exists(inflight)
    os.utime(inflight, (0, 0))
    assert purge_orphans(s) == ["9999999999999998-cafebabe.parquet"]


def test_orphan_purge_reaps_bulk_subdirs(catalog, spark):
    """Bulk ingest writes under bulk-<uuid>/ subdirectories; an aborted
    bulk run's files must be purged too (recursive walk, relative
    names), and its emptied directory removed."""
    from durablestreams_spark.ingest import produce_bulk

    s = catalog.stream(uuid.uuid4().hex)
    df = spark.createDataFrame([(i, f"r{i}") for i in range(20)], "k long, v string")
    produce_bulk(s, df, order_by=["k"], batch_records=10)
    # fabricate an orphaned bulk run (crash between write and commit)
    dead_dir = os.path.join(s.segments_dir, "bulk-deadbeef")
    os.makedirs(dead_dir)
    dead = os.path.join(dead_dir, "part-00000.parquet")
    with open(dead, "wb") as f:
        f.write(b"aborted bulk segment")
    # file aged but run DIR fresh ⇒ the run may still be in flight (a
    # long bulk job's early files are old before its commit): spared
    os.utime(dead, (0, 0))
    assert purge_orphans(s) == []
    assert os.path.exists(dead)
    # once the run dir itself ages past the grace, the orphan is reaped
    # and the dir (holding only _SUCCESS/.crc-style droppings) removed
    os.utime(dead_dir, (0, 0))
    assert purge_orphans(s) == ["bulk-deadbeef/part-00000.parquet"]
    assert not os.path.exists(dead_dir)
    # live bulk segments untouched
    assert len(s.consume("-", limit=100)) == 20


def test_concurrent_compactors_never_double_swap(catalog):
    """Two compactors planning the same window: the second commit must
    be rejected by the still-active guard, not silently re-applied —
    otherwise the manifest ends up with two compacted segments with
    overlapping offset ranges (duplicated rows on every read)."""
    from durablestreams_spark.maintenance import plan_compaction

    name = uuid.uuid4().hex
    s1 = catalog.stream(name)
    for i in range(3):
        s1.produce([{"v": i}], epoch_ms=i + 1)
    # both compactors plan from the SAME state (the race window)
    window = plan_compaction(s1.refresh().active_sorted())
    assert len(window) == 3
    first = compact(s1, window=window)
    assert first is not None
    n_files_after_first = len(os.listdir(s1.segments_dir))
    # the loser arrives with the now-stale window
    second = compact(s1, window=window)
    assert second is None  # guard rejected the double swap
    # the loser's merged output file was deleted, manifest unchanged
    assert len(os.listdir(s1.segments_dir)) == n_files_after_first
    state = s1.refresh()
    assert list(state.active) == [first.name]
    # every record exactly once, in order
    assert [r.data["v"] for r in s1.consume("-", 10)] == [0, 1, 2]


def test_compact_mixed_point_and_bulk_window(catalog, spark):
    """A window holding both point segments (non-null columns, naive
    ts) and produce_bulk parts (nullable, ts in UTC) merges into one
    segment with the point schema, every record once and in order."""
    import pyarrow.parquet as _pq

    from durablestreams_spark.ingest import produce_bulk
    from durablestreams_spark.stream import _SEGMENT_SCHEMA

    s = catalog.stream(uuid.uuid4().hex)
    s.produce([{"v": i} for i in range(3)])
    df = spark.createDataFrame([(i, i) for i in range(3, 23)], "k long, v long")
    produce_bulk(s, df, order_by=["k"], batch_records=10)
    s.produce([{"v": 23}])
    before = s.consume("-", limit=100)
    window = s.refresh().active_sorted()
    assert any(g.name.startswith("bulk-") for g in window)

    merged = compact(s)
    assert merged is not None and merged.records == 24
    assert list(s.refresh().active) == [merged.name]
    out = _pq.read_table(os.path.join(s.segments_dir, merged.name))
    assert out.schema.equals(_SEGMENT_SCHEMA)
    assert s.consume("-", limit=100) == before
    assert [r.data["v"] for r in before] == list(range(24))


def test_compact_by_key_keeps_latest_and_null_keys(spark, tmp_path):
    """Kafka compacted-topic semantics: one survivor per key (highest
    offset), keyless records always retained at their original
    offsets, read path intact after the swap."""
    from durablestreams_spark.maintenance import compact_by_key
    from durablestreams_spark.stream import StreamCatalog

    s = StreamCatalog(str(tmp_path)).stream("kc")
    s.produce([{"k": "a", "v": 1}, {"k": "b", "v": 1}])
    s.produce([{"k": "a", "v": 2}, {"no_key": True}])
    s.produce([{"k": "b", "v": 3}, {"k": "a", "v": 4}])
    before = s.consume("-", limit=100)
    metas = compact_by_key(s, spark, "$.k")
    assert metas and len(metas) == 1
    after = s.consume("-", limit=100)
    # survivors: latest a (v=4), latest b (v=3), the keyless record
    assert [r.data for r in after] == [
        {"no_key": True}, {"k": "b", "v": 3}, {"k": "a", "v": 4}
    ]
    # original offsets preserved (gaps, not renumbering)
    kept = {r.offset for r in after}
    assert kept <= {r.offset for r in before}
    # single active segment now; tombstones hold the old ones
    st = s.refresh()
    assert len(st.active) == 1 and len(st.tombstones) >= 3
    # exclusive-start consume still works across the gap
    page = s.consume(after[0].offset, limit=10)
    assert [r.data["v"] for r in page] == [3, 4]


def test_orphan_purge_honors_inflight_marker(catalog):
    """A bulk run dir with a live ._inflight marker (produce_bulk holds
    one from first write to manifest commit) must be spared even when
    BOTH the files and the dir age past the grace period — the
    mtime heuristic can't cover a write job slower than the grace.
    An ABANDONED marker (older than the abandon timeout) stops
    protecting."""
    from durablestreams_spark.maintenance import BULK_INFLIGHT_ABANDON_MS

    s = catalog.stream(uuid.uuid4().hex)
    s.produce([{"value": "a"}])
    run = os.path.join(s.segments_dir, "bulk-slowjob")
    os.makedirs(run)
    part = os.path.join(run, "part-00000.parquet")
    with open(part, "wb") as f:
        f.write(b"slow bulk segment")
    marker = run + "._inflight"
    with open(marker, "w") as f:
        f.write("t0")
    # files AND dir ancient, but marker fresh ⇒ spared wholesale
    os.utime(part, (0, 0))
    os.utime(run, (0, 0))
    assert purge_orphans(s) == []
    assert os.path.exists(part)
    # marker itself ages past the abandon timeout ⇒ producer crashed;
    # marker is dropped and the run purges like any aged orphan
    old = (time.time() * 1000 - BULK_INFLIGHT_ABANDON_MS - 60_000) / 1000
    os.utime(marker, (old, old))
    assert purge_orphans(s) == ["bulk-slowjob/part-00000.parquet"]
    assert not os.path.exists(marker)
    assert not os.path.exists(run)


def test_produce_bulk_removes_marker(catalog, spark):
    """produce_bulk drops its ._inflight marker once the manifest
    commit lands (success path) — no marker litter accumulates."""
    from durablestreams_spark.ingest import produce_bulk

    s = catalog.stream(uuid.uuid4().hex)
    df = spark.createDataFrame([(i, f"r{i}") for i in range(10)], "k long, v string")
    produce_bulk(s, df, order_by=["k"], batch_records=5)
    leftovers = [f for f in os.listdir(s.segments_dir) if f.endswith("._inflight")]
    assert leftovers == []
    assert len(s.consume("-", limit=100)) == 10


def test_compact_by_key_meta_matches_rowgroup_stats(spark, tmp_path):
    """The committed SegmentMeta's offset bounds (now derived from
    parquet row-group statistics, never a data read) must equal the
    true min/max offsets in the compacted file."""
    import pyarrow.parquet as _pq

    from durablestreams_spark.maintenance import compact_by_key
    from durablestreams_spark.stream import StreamCatalog

    s = StreamCatalog(str(tmp_path)).stream("kcs")
    for batch in range(3):
        s.produce([{"k": f"k{i % 4}", "v": batch * 10 + i} for i in range(8)])
    metas = compact_by_key(s, spark, "$.k")
    assert metas and len(metas) == 1
    meta = metas[0]
    tbl = _pq.read_table(
        os.path.join(s.segments_dir, meta.name), columns=["offset"]
    )
    offsets = tbl.column("offset").to_pylist()
    assert meta.first_offset == min(offsets)
    assert meta.last_offset == max(offsets)
    assert meta.records == len(offsets)
