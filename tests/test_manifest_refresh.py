"""Incremental refresh: ``Stream.refresh`` reads only the commits after
its cached fold, and must always land on the state a fresh full fold
of the same directory gives."""

import os

import pytest

from durablestreams_spark import StreamCatalog
from durablestreams_spark.manifest import CHECKPOINT_INTERVAL, Manifest


def _assert_fresh(s):
    fresh = Manifest(s.dir).load()
    st = s._state
    assert (st.version, st.to_json()) == (fresh.version, fresh.to_json())


@pytest.fixture()
def handles(tmp_path):
    """Two handles on one stream, as two processes would hold."""
    root = str(tmp_path / "streams")
    return StreamCatalog(root).stream("s"), StreamCatalog(root).stream("s")


def test_second_handle_follows_across_a_checkpoint(handles, monkeypatch):
    a, b = handles
    for i in range(CHECKPOINT_INTERVAL - 5):
        a.produce([{"i": i}])
    b.refresh()
    _assert_fresh(b)
    for i in range(10):  # crosses the checkpoint version
        a.produce([{"i": i}])

    def no_full_fold(self):
        raise AssertionError("refresh listed the manifest: a full fold")

    monkeypatch.setattr(Manifest, "_entries", no_full_fold)
    st = b.refresh()
    monkeypatch.undo()
    assert st.version == CHECKPOINT_INTERVAL + 4
    _assert_fresh(b)
    assert [r.data["i"] for r in b.consume("-", 1000)][-10:] == list(range(10))


@pytest.mark.parametrize("recreated_commits", [2, 9])
def test_refresh_sees_destroy_and_recreate(handles, recreated_commits):
    """The stale fold is at version 4; the recreated stream has fewer
    or more commits, and its versions start over at 0."""
    a, b = handles
    for i in range(5):
        a.produce([{"old": i}])
    stale = b.refresh()
    assert stale.version == 4

    a.destroy()
    for i in range(recreated_commits):
        a.produce([{"new": i}])

    st = b.refresh()
    _assert_fresh(b)
    assert st.version == recreated_commits - 1
    assert not set(st.active) & set(stale.active)
    assert [r.data for r in b.consume("-", 100)] == [{"new": i} for i in range(recreated_commits)]


def test_refresh_never_changes_its_base(handles):
    a, b = handles
    a.produce([{"i": 0}])
    base = b.refresh()
    snapshot = (base.version, base.to_json())
    a.produce([{"i": 1}])
    assert b.refresh() is not base
    assert (base.version, base.to_json()) == snapshot
    _assert_fresh(b)


def test_lost_race_catches_up_without_a_full_fold(handles, monkeypatch):
    """A produce whose cached fold is stale loses the commit race, then
    catches up by reading the commits it missed, not the whole log."""
    a, b = handles
    b.produce([{"by": "b"}])
    a.refresh()
    b.produce([{"by": "b"}])  # a's fold is now one commit behind
    listings = []
    real = Manifest._entries
    monkeypatch.setattr(Manifest, "_entries", lambda self: listings.append(1) or real(self))
    a.produce([{"by": "a"}])
    assert listings == []
    _assert_fresh(a)
    assert [r.data["by"] for r in a.consume("-", 10)] == ["b", "b", "a"]


def test_threads_sharing_a_handle_lose_no_update(handles):
    """Producers on both handles, and compactors and pagers that
    refresh the shared handle ``b`` from its cached fold, all at once
    with a short switch interval: every acked record is read exactly
    once, and ``b`` ends on the fresh fold."""
    import sys
    import threading

    from durablestreams_spark.maintenance import compact

    a, b = handles
    acked, errs, stop = [], [], threading.Event()

    def guarded(fn):
        def run():
            try:
                fn()
            except Exception as exc:  # reported by the assertion below
                errs.append(exc)

        return run

    def producer(h, tag):
        for i in range(30):
            acked.extend(h.produce([{"t": tag, "i": i}, {"t": tag, "i": -i}]).offsets)

    def compactor():
        while not stop.is_set():
            compact(b)

    def pager():
        while not stop.is_set():
            b.refresh()
            offs = [r.offset for r in b.consume("-", 1000)]
            if offs != sorted(set(offs)):
                raise AssertionError("a page repeated or reordered records")

    producers = [
        threading.Thread(target=guarded(lambda h=h, t=t: producer(h, t)))
        for t, h in enumerate((a, a, b, b))
    ]
    readers = [threading.Thread(target=guarded(f)) for f in (compactor, compactor, pager, pager)]
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for t in producers + readers:
            t.start()
        for t in producers:
            t.join(timeout=120)
        stop.set()
        for t in readers:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in producers + readers)
    assert not errs, errs
    b.refresh()
    _assert_fresh(b)
    third = StreamCatalog(os.path.dirname(a.dir)).stream("s")
    read = [r.offset for r in third.consume("-", 10_000)]
    assert read == sorted(acked) and len(read) == 4 * 30 * 2
