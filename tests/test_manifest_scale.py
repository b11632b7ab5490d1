"""Manifest fold at 100 TB metadata scale.

At ~1 GB segments, 100 TB is ~100k manifest rows; recovery
(Manifest.load = latest checkpoint + tail fold, the Spark analogue of
the reference's RB-tree rebuild, src/stream_manager.ts:503-511) and
offset-pruned lookups must stay interactive at that size or the
metadata layer becomes the bottleneck before the data does.
"""

import json
import os
import time

from durablestreams_spark.manifest import (
    CHECKPOINT_INTERVAL,
    Manifest,
    SegmentMeta,
    StreamState,
)

N_SEGMENTS = 100_000
ROWS_PER_SEG = 10_000


def _offset(i: int) -> str:
    # Same shape as offsets.format_offset: zero-padded sortable string.
    return f"{i:016d}-0000"


def _build_big_manifest(stream_dir: str) -> Manifest:
    """A checkpoint holding 100k segments + a CHECKPOINT_INTERVAL-long
    commit tail — the steady-state disk layout after ~100k commits
    (older commit files assumed vacuumed, as Delta/Iceberg do)."""
    man = Manifest(stream_dir)
    os.makedirs(man.dir)
    st = StreamState(version=N_SEGMENTS)
    for i in range(N_SEGMENTS):
        lo, hi = i * ROWS_PER_SEG, (i + 1) * ROWS_PER_SEG - 1
        m = SegmentMeta(
            name=f"seg-{i:08d}.parquet",
            first_offset=_offset(lo),
            last_offset=_offset(hi),
            created_ms=1_700_000_000_000 + i,
            records=ROWS_PER_SEG,
            bytes=1 << 30,
        )
        st.active[m.name] = m
    ckpt = os.path.join(man.dir, f"{st.version:020d}.checkpoint.json")
    with open(ckpt, "w") as f:
        json.dump(st.to_json(), f, separators=(",", ":"))
    # tail: one small add-commit per version after the checkpoint
    for j in range(1, CHECKPOINT_INTERVAL):
        ver = N_SEGMENTS + j
        idx = N_SEGMENTS + j - 1
        add = SegmentMeta(
            name=f"seg-{idx:08d}.parquet",
            first_offset=_offset(idx * ROWS_PER_SEG),
            last_offset=_offset((idx + 1) * ROWS_PER_SEG - 1),
            created_ms=1_700_000_000_000 + idx,
            records=ROWS_PER_SEG,
            bytes=1 << 30,
        )
        with open(os.path.join(man.dir, f"{ver:020d}.json"), "w") as f:
            json.dump({"add": [add.to_json()]}, f, separators=(",", ":"))
    return man

def test_100k_segment_fold_stays_interactive(tmp_path):
    man = _build_big_manifest(str(tmp_path / "s"))

    t0 = time.perf_counter()
    st = man.load()
    load_sec = time.perf_counter() - t0

    assert len(st.active) == N_SEGMENTS + CHECKPOINT_INTERVAL - 1
    assert st.version == N_SEGMENTS + CHECKPOINT_INTERVAL - 1
    # Recovery target: sub-second for 100k segments on local disk
    # (generous 3x headroom over observed ~0.3s to avoid CI flake; the
    # point is it's O(state), not O(commit-history)).
    assert load_sec < 1.0, f"manifest fold took {load_sec:.2f}s"

    # Pruned lookup: a scan from deep in the stream must keep only the
    # covering suffix, and sorting/filtering 100k rows must be cheap.
    t0 = time.perf_counter()
    cutoff = _offset((N_SEGMENTS - 10) * ROWS_PER_SEG + 5)
    segs = [s for s in st.active_sorted() if s.last_offset > cutoff]
    prune_sec = time.perf_counter() - t0
    assert len(segs) == 10 + CHECKPOINT_INTERVAL - 1
    assert segs[0].first_offset <= cutoff <= segs[0].last_offset
    assert prune_sec < 1.0, f"prune over 100k segments took {prune_sec:.2f}s"


def test_checkpoint_bounds_recovery_reads(tmp_path):
    """load() must read the checkpoint + tail only — never the 100k
    pre-checkpoint commit files (which this fixture doesn't even have,
    mirroring a vacuumed log: if load tried to replay them it would
    KeyError on missing files or return wrong state)."""
    man = _build_big_manifest(str(tmp_path / "s"))
    entries = man._entries()
    kinds = [k for (_, k, _) in entries]
    assert kinds.count("checkpoint") == 1
    assert kinds.count("commit") == CHECKPOINT_INTERVAL - 1
    st = man.load()
    # every tail commit applied exactly once on top of the checkpoint
    assert len(st.active) == N_SEGMENTS + CHECKPOINT_INTERVAL - 1


def test_refresh_of_a_vacuumed_log_reads_only_new_commits(tmp_path, monkeypatch):
    """A fold of the vacuumed log (no commit 0, no commit at the
    checkpoint version) catches up on three new commits by opening
    exactly those three files: no listing, no checkpoint parse."""
    import durablestreams_spark.manifest as manifest_mod

    man = _build_big_manifest(str(tmp_path / "s"))
    held = man.load()
    writer = Manifest(man.stream_dir)
    st = writer.load()
    new_paths = []
    for k in range(3):
        idx = st.version
        add = SegmentMeta(
            name=f"new-{k}.parquet",
            first_offset=_offset(idx * ROWS_PER_SEG),
            last_offset=_offset((idx + 1) * ROWS_PER_SEG - 1),
            created_ms=1_800_000_000_000 + k,
            records=ROWS_PER_SEG,
            bytes=1 << 30,
        )
        st = writer.commit({"add": [add.to_json()]}, st)
        new_paths.append(os.path.join(man.dir, f"{st.version:020d}.json"))

    opened, missing = [], []

    def counting_open(path, *a, **kw):
        try:
            f = open(path, *a, **kw)
        except FileNotFoundError:
            missing.append(path)
            raise
        opened.append(path)
        return f

    monkeypatch.setattr(manifest_mod, "open", counting_open, raising=False)
    caught_up = man.load(base=held)
    monkeypatch.undo()

    assert opened == new_paths
    assert len(missing) <= 1  # the probe for the next, unwritten version
    fresh = Manifest(man.stream_dir).load()
    assert caught_up.version == fresh.version == held.version + 3
    assert caught_up.to_json() == fresh.to_json()
