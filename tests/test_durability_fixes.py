"""Regression tests for the round-8 durability/exactly-once review:
txn-watermark replay detection inside the commit guard, max-merge txn
carry-over, stray-file tolerance in the manifest listing, checkpoint
failures never surfacing as commit failures, guarded forks, and
multi-part key compaction."""

import json
import os

import pytest

from durablestreams_spark.manifest import CommitConflict, Manifest, StreamState
from durablestreams_spark.stream import StreamCatalog


def test_txn_replay_is_noop_not_duplicate(tmp_path):
    """produce(txn=(app, batch)) replayed after the batch is durably
    committed must be a NO-OP success — never a duplicate append, never
    an error (the Delta txnAppId/txnVersion contract)."""
    s = StreamCatalog(str(tmp_path)).stream("txns")
    first = s.produce([{"v": 1}, {"v": 2}], txn=("app", 7))
    assert len(first.offsets) == 2
    replay = s.produce([{"v": 1}, {"v": 2}], txn=("app", 7))
    assert replay.offsets == []
    # nothing appended twice
    assert [r.data for r in s.consume("-", 10)] == [{"v": 1}, {"v": 2}]
    # a LOWER batch id is also a replay
    assert s.produce([{"v": 0}], txn=("app", 3)).offsets == []
    # the NEXT batch goes through
    assert len(s.produce([{"v": 3}], txn=("app", 8)).offsets) == 1


def test_commit_guard_checks_txn_watermark(tmp_path):
    """The watermark must be validated INSIDE the guarded commit, not
    only by a check-then-act pre-read: simulate the zombie-replayer
    race by invalidating the cached fold after the pre-check would
    have passed."""
    cat = StreamCatalog(str(tmp_path))
    a, b = cat.stream("race"), cat.stream("race")
    a.produce([{"v": 1}], txn=("app", 1))
    # b's fold is stale (pre-dates the commit); its produce must still
    # detect the replay on the fresh fold and no-op
    assert b.produce([{"v": 1}], txn=("app", 1)).offsets == []
    assert len(a.consume("-", 10)) == 1


def test_bulk_txn_carryover_never_regresses(tmp_path):
    """Manifest._apply's bulk 'txns' action max-merges: a fork carrying
    an OLDER watermark cannot regress one the destination already
    holds (a regressed watermark re-admits replayed batches)."""
    st = StreamState(txns={"app": 100, "other": 2})
    Manifest._apply(st, {"txns": {"app": 5, "new": 9}})
    assert st.txns == {"app": 100, "other": 2, "new": 9}


def test_stray_json_does_not_brick_stream(tmp_path):
    """A foreign .json in _manifest/ (sync-tool conflict copy, stray
    notes file) must be skipped, not raise ValueError in every
    load/commit."""
    s = StreamCatalog(str(tmp_path)).stream("stray")
    s.produce([{"v": 1}])
    mdir = os.path.join(str(tmp_path), "stray", "_manifest")
    for fn in ("notes.json", "00000001 (conflicted copy).json"):
        with open(os.path.join(mdir, fn), "w") as f:
            json.dump({"junk": True}, f)
    s2 = StreamCatalog(str(tmp_path)).stream("stray")
    assert [r.data for r in s2.consume("-", 10)] == [{"v": 1}]
    assert len(s2.produce([{"v": 2}]).offsets) == 1


def test_checkpoint_write_failure_never_fails_commit(tmp_path, monkeypatch):
    """The commit is durably published before the checkpoint write;
    a checkpoint failure (ENOSPC/EIO) surfacing as a commit failure
    would make the caller retry an already-committed batch."""
    import durablestreams_spark.manifest as M

    s = StreamCatalog(str(tmp_path)).stream("ckpt")
    monkeypatch.setattr(
        M.Manifest,
        "_write_checkpoint",
        lambda self, st: (_ for _ in ()).throw(OSError("disk full")),
    )
    # enough commits to cross a CHECKPOINT_INTERVAL boundary
    for i in range(M.CHECKPOINT_INTERVAL + 2):
        assert len(s.produce([{"i": i}]).offsets) == 1
    assert len(s.consume("-", 100)) == M.CHECKPOINT_INTERVAL + 2


def test_fork_refuses_fencing_regression(tmp_path, spark):
    """Forking onto a stream that retains a HIGHER fencing token than
    the source must fail loudly (CommitConflict), not silently re-admit
    stale producers."""
    from durablestreams_spark.maintenance import fork_stream

    cat = StreamCatalog(str(tmp_path))
    src = cat.stream("src")
    src.produce([{"v": 1}], version=1)
    dst = cat.stream("dst")
    dst.produce([], version=10)  # bump-only: active stays empty
    with pytest.raises(CommitConflict):
        fork_stream(cat, "src", "dst")


def test_fork_carries_watermarks_forward(tmp_path, spark):
    """The fork must seed the destination's txn watermarks so a
    re-pointed exactly-once ingest keeps replay detection."""
    from durablestreams_spark.maintenance import fork_stream

    cat = StreamCatalog(str(tmp_path))
    src = cat.stream("src2")
    src.produce([{"v": 1}], txn=("app", 41))
    dst = fork_stream(cat, "src2", "dst2")
    # a replayed batch on the FORK is detected
    assert dst.produce([{"v": 1}], txn=("app", 41)).offsets == []
    assert len(dst.produce([{"v": 2}], txn=("app", 42)).offsets) == 1


def test_compact_by_key_multi_range_keeps_every_part(spark, tmp_path):
    """n_ranges > 1 writes several part files; EVERY one must be
    swapped into the manifest with disjoint offset bounds — dropping
    parts 1..N-1 would silently lose rows after tombstone GC."""
    from durablestreams_spark.maintenance import compact_by_key

    s = StreamCatalog(str(tmp_path)).stream("kcm")
    for batch in range(4):
        s.produce([{"k": f"k{i}", "v": batch * 10 + i} for i in range(8)])
    before = {
        json.dumps(r.data, sort_keys=True)
        for r in s.consume("-", 100)
        if r.data["v"] >= 30  # latest batch wins per key
    }
    metas = compact_by_key(s, spark, "$.k", n_ranges=3)
    assert metas and len(metas) >= 2  # multiple ranges -> multiple parts
    after = s.consume("-", 100)
    assert {json.dumps(r.data, sort_keys=True) for r in after} == before
    # bounds are disjoint and ordered
    spans = sorted((m.first_offset, m.last_offset) for m in metas)
    for (a_lo, a_hi), (b_lo, b_hi) in zip(spans, spans[1:]):
        assert a_hi < b_lo
    st = s.refresh()
    assert len(st.active) == len(metas)


def test_bulk_replay_is_noop(spark, tmp_path):
    """produce_bulk with an already-committed (app, batch) must be a
    no-op success — the zombie-driver replay race on the bulk path."""
    from durablestreams_spark.ingest import produce_bulk

    s = StreamCatalog(str(tmp_path)).stream("bulk")
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    n1 = produce_bulk(s, df, order_by=["id"], txn=("app", 1))
    assert n1 >= 1
    before = len(s.consume("-", 1000))
    n2 = produce_bulk(s, df, order_by=["id"], txn=("app", 1))
    assert n2 == 0
    assert len(s.consume("-", 1000)) == before
    # next batch still goes through
    assert produce_bulk(s, df, order_by=["id"], txn=("app", 2)) >= 1


def test_singular_txn_action_never_regresses(tmp_path):
    """Manifest._apply's singular 'txn' action max-merges too: a stale
    replayer's commit can no-op the watermark but never lower it."""
    st = StreamState(txns={"app": 10})
    Manifest._apply(st, {"txn": {"app": "app", "batch": 4}})
    assert st.txns["app"] == 10
    Manifest._apply(st, {"txn": {"app": "app", "batch": 11}})
    assert st.txns["app"] == 11


def test_tail_after_offset_sees_gap_records(tmp_path):
    """tail(after_offset=X) must return records that landed after X
    even if they were produced BEFORE the tail call (the HTTP shim's
    consume->tail gap)."""
    s = StreamCatalog(str(tmp_path)).stream("gap")
    r1 = s.produce([{"v": 1}])
    s.produce([{"v": 2}])  # lands in the "gap"
    got = s.tail(limit=10, timeout_sec=5, after_offset=r1.offsets[-1])
    assert [r.data for r in got] == [{"v": 2}]


def test_compact_by_key_parts_stay_in_guarded_run_dir(spark, tmp_path):
    """The round-9 orphan-race fix: compacted parts must live inside a
    keycompact-*/ run directory (relative manifest names), mirroring
    produce_bulk — the _inflight marker only spares run DIRECTORIES in
    purge_orphans, so top-level .compacted files with old Spark-write
    mtimes could be reaped between the rename and the manifest commit."""
    from durablestreams_spark.maintenance import compact_by_key

    s = StreamCatalog(str(tmp_path)).stream("kcg")
    for batch in range(3):
        s.produce([{"k": f"k{i}", "v": batch * 10 + i} for i in range(6)])
    metas = compact_by_key(s, spark, "$.k", n_ranges=2)
    assert metas
    for m in metas:
        assert m.name.startswith("keycompact-") and "/" in m.name, m.name
        assert os.path.isfile(os.path.join(s.segments_dir, m.name))
    # marker is gone after a successful commit
    assert not [
        f for f in os.listdir(s.segments_dir) if f.endswith("._inflight")
    ]
    # readable end-to-end through the relative names
    assert len(s.consume("-", 100)) == 6


def test_purge_orphans_spares_aged_compacted_run_then_reaps_committed_dir_never(
    spark, tmp_path
):
    """Two halves of the race fix under an aged clock: (a) an in-flight
    keycompact run (marker present, parts older than the grace) must
    survive purge_orphans; (b) after the commit, the aged-dir sweep must
    NOT rmtree the run dir even though it holds only .compacted files."""
    import time as _time

    from durablestreams_spark.maintenance import (
        ORPHAN_GRACE_MS,
        compact_by_key,
        purge_orphans,
    )

    s = StreamCatalog(str(tmp_path)).stream("kcp")
    for batch in range(2):
        s.produce([{"k": f"k{i}", "v": batch * 10 + i} for i in range(5)])
    metas = compact_by_key(s, spark, "$.k", n_ranges=2)
    assert metas
    run_dir = os.path.join(s.segments_dir, metas[0].name.split("/")[0])

    # (a) a SYNTHETIC in-flight run: parts in a keycompact dir that no
    # manifest references (exactly the write->commit window), aged past
    # the grace, with a fresh marker (a live producer heartbeat) — the
    # marker alone must spare them.  The committed run from above can't
    # exercise this: its parts are manifest-referenced, so purge would
    # spare them regardless of the marker.
    fake_dir = os.path.join(s.segments_dir, "keycompact-feedface")
    os.makedirs(fake_dir)
    fake_part = os.path.join(fake_dir, f"{0:016d}-x.compacted")
    with open(fake_part, "wb") as f:
        f.write(b"inflight-bytes")
    fake_marker = f"{fake_dir}._inflight"
    with open(fake_marker, "w") as f:
        f.write(str(int(_time.time() * 1000)))
    old = _time.time() - 7200
    os.utime(fake_part, (old, old))
    os.utime(fake_dir, (old, old))
    future = int(_time.time() * 1000) + 2 * ORPHAN_GRACE_MS
    purged = purge_orphans(s, now_ms=future)
    assert os.path.isfile(fake_part), purged
    # negative control: drop the marker and the same aged unreferenced
    # parts ARE reaped — the marker, not something else, was the shield
    os.unlink(fake_marker)
    purge_orphans(s, now_ms=future)
    assert not os.path.exists(fake_part)

    # (b) committed (referenced) + aged + no marker: files are spared by
    # name AND the dir survives the empty-dir sweep (.compacted is live).
    purge_orphans(s, now_ms=int(_time.time() * 1000) + 2 * ORPHAN_GRACE_MS)
    assert os.path.isdir(run_dir)
    for m in metas:
        assert os.path.isfile(os.path.join(s.segments_dir, m.name))
    assert len(s.consume("-", 100)) == 5


def _run_writer(writer, spark, s):
    """Run one of the two Spark run writers over ``s``: key compaction
    of its records, or a bulk ingest of two more rows."""
    from durablestreams_spark.ingest import produce_bulk
    from durablestreams_spark.maintenance import compact_by_key

    if writer == "compact_by_key":
        return compact_by_key(s, spark, "$.k")
    df = spark.createDataFrame([(10, "x"), (11, "y")], "n long, k string")
    return produce_bulk(s, df, order_by=["n"])


_RUN_PREFIX = {"compact_by_key": "keycompact-", "produce_bulk": "bulk-"}


@pytest.mark.parametrize("writer", ["compact_by_key", "produce_bulk"])
def test_compact_by_key_conflict_cleans_run_dir(spark, tmp_path, writer):
    """A lost commit race must remove the whole run dir (parts + marker),
    leaving no debris and the original window intact.  Key compaction
    reports the lost race as None, bulk ingest re-raises it."""
    s = StreamCatalog(str(tmp_path)).stream("kcc")
    s.produce([{"k": "a", "v": 1}, {"k": "a", "v": 2}])
    orig_commit = s._commit

    def racing_commit(actions, guard=None):
        # another writer committed first: force the guard fail
        raise CommitConflict("lost the race")

    s._commit = racing_commit
    try:
        if writer == "compact_by_key":
            assert _run_writer(writer, spark, s) is None
        else:
            with pytest.raises(CommitConflict):
                _run_writer(writer, spark, s)
    finally:
        s._commit = orig_commit
    debris = [
        f
        for f in os.listdir(s.segments_dir)
        if f.startswith(_RUN_PREFIX[writer]) or f.endswith("._inflight")
    ]
    assert debris == []
    assert len(s.consume("-", 10)) == 2


def test_compact_by_key_unknown_commit_error_preserves_run_dir(spark, tmp_path):
    """A commit exception that is NOT CommitConflict may have fired
    AFTER the manifest durably linked (e.g. the post-link dir fsync):
    the run dir must SURVIVE — rmtree here would leave a landed
    manifest pointing at deleted segments.  Only the marker drops
    (purge spares the parts by name if the commit landed, reaps the
    aged dir after the grace if it did not)."""
    import pytest as _pytest

    from durablestreams_spark.maintenance import compact_by_key

    s = StreamCatalog(str(tmp_path)).stream("kcu")
    s.produce([{"k": "a", "v": 1}, {"k": "b", "v": 2}])

    def exploding_commit(actions, guard=None):
        raise OSError("fsync failed after link")

    s._commit = exploding_commit
    with _pytest.raises(OSError, match="fsync failed"):
        compact_by_key(s, spark, "$.k")
    run_dirs = [
        f
        for f in os.listdir(s.segments_dir)
        if f.startswith("keycompact-")
        and os.path.isdir(os.path.join(s.segments_dir, f))
    ]
    assert len(run_dirs) == 1, run_dirs
    parts = os.listdir(os.path.join(s.segments_dir, run_dirs[0]))
    assert any(p.endswith(".compacted") for p in parts), parts
    markers = [
        f for f in os.listdir(s.segments_dir) if f.endswith("._inflight")
    ]
    assert markers == []


@pytest.mark.parametrize("writer", ["compact_by_key", "produce_bulk"])
def test_compact_by_key_reaped_marker_aborts_commit(
    spark, tmp_path, monkeypatch, writer
):
    """If the in-flight marker vanished before the commit (the
    abandon-timeout reap on a run that outlived it), the run must
    raise instead of committing a manifest that may reference
    already-purged parts."""
    s = StreamCatalog(str(tmp_path)).stream("kcr")
    s.produce([{"k": "a", "v": 1}, {"k": "b", "v": 2}])
    committed = []
    orig_commit = s._commit
    s._commit = lambda *a, **kw: committed.append(1) or orig_commit(*a, **kw)

    real_utime = os.utime

    def reaped_utime(path, *a, **kw):
        if str(path).endswith("._inflight"):
            raise FileNotFoundError(path)
        return real_utime(path, *a, **kw)

    monkeypatch.setattr(os, "utime", reaped_utime)
    with pytest.raises(RuntimeError, match="abandon timeout"):
        _run_writer(writer, spark, s)
    assert committed == []
