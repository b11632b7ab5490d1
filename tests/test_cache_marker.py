"""The artifact cache protocols of ``operators/cache_marker.py``:
``build_once`` (rebuild in place behind a ``_built`` fingerprint
marker) and ``publish_once`` (tmp dir + rename onto a
content-addressed path).  No Spark: a tiny parquet file in
``tmp_path`` stands in for the fixture table."""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from durablestreams_spark.operators import cache_marker
from durablestreams_spark.operators.cache_marker import (
    build_once,
    cache_root,
    publish_once,
)


@pytest.fixture
def sf_dir(tmp_path):
    d = tmp_path / "sf0.001"
    d.mkdir()
    pq.write_table(pa.table({"event_id": [1, 2, 3]}), d / "events.parquet")
    return str(d)


def _counting_build(calls):
    def build(root):
        calls.append(root)
        with open(os.path.join(root, "data"), "w") as f:
            f.write(str(len(calls)))

    return build


def test_cache_root_is_one_dir_per_fixture_dir(tmp_path):
    base = str(tmp_path / "cache")
    assert cache_root(base, "/data/sf0.01/") == os.path.join(base, "sf0.01")
    assert cache_root(base, "/data/sf0.01") == os.path.join(base, "sf0.01")


def test_build_once_hit_skips_build(tmp_path, sf_dir):
    root = cache_root(str(tmp_path / "cache"), sf_dir)
    calls = []
    assert build_once(root, sf_dir, _counting_build(calls), params="p1") == root
    assert calls == [root]
    assert os.path.exists(os.path.join(root, "_built"))
    assert build_once(root, sf_dir, _counting_build(calls), params="p1") == root
    assert calls == [root]


def test_build_once_changed_params_rebuilds_from_empty_dir(tmp_path, sf_dir):
    root = cache_root(str(tmp_path / "cache"), sf_dir)
    calls = []
    build_once(root, sf_dir, _counting_build(calls), params="p1")
    with open(os.path.join(root, "leftover"), "w") as f:
        f.write("x")
    seen = []

    def build(r):
        seen.append(sorted(os.listdir(r)))

    build_once(root, sf_dir, build, params="p2")
    assert seen == [[]]
    assert not os.path.exists(os.path.join(root, "leftover"))
    # the marker now pins p2: p1 is stale again
    build_once(root, sf_dir, _counting_build(calls), params="p1")
    assert len(calls) == 2


def test_build_once_changed_fixture_rebuilds(tmp_path, sf_dir):
    root = cache_root(str(tmp_path / "cache"), sf_dir)
    calls = []
    build_once(root, sf_dir, _counting_build(calls))
    pq.write_table(
        pa.table({"event_id": [1, 2, 3, 4]}), os.path.join(sf_dir, "events.parquet")
    )
    build_once(root, sf_dir, _counting_build(calls))
    assert len(calls) == 2


def test_build_once_raising_build_leaves_no_marker(tmp_path, sf_dir):
    root = cache_root(str(tmp_path / "cache"), sf_dir)

    def broken(r):
        with open(os.path.join(r, "partial"), "w") as f:
            f.write("half")
        raise RuntimeError("killed mid-build")

    with pytest.raises(RuntimeError, match="killed mid-build"):
        build_once(root, sf_dir, broken)
    assert not os.path.exists(os.path.join(root, "_built"))
    calls = []
    build_once(root, sf_dir, _counting_build(calls))
    assert calls == [root]
    assert not os.path.exists(os.path.join(root, "partial"))
    assert os.path.exists(os.path.join(root, "_built"))


def test_build_once_looks_up_marker_current_at_call_time(
    tmp_path, sf_dir, monkeypatch
):
    """Tracing wraps ``cache_marker.marker_current``; every lookup must
    go through the module attribute."""
    seen = []
    orig = cache_marker.marker_current

    def spy(*args, **kwargs):
        out = orig(*args, **kwargs)
        seen.append((args[0], out))
        return out

    monkeypatch.setattr(cache_marker, "marker_current", spy)
    root = cache_root(str(tmp_path / "cache"), sf_dir)
    marker = os.path.join(root, "_built")
    build_once(root, sf_dir, _counting_build([]), name="events", params="p")
    build_once(root, sf_dir, _counting_build([]), name="events", params="p")
    assert seen == [(marker, False), (marker, True)]


def test_publish_once_existing_path_keeps_winner(tmp_path):
    path = str(tmp_path / "cache" / "art-0123")
    os.makedirs(path)
    with open(os.path.join(path, "part"), "w") as f:
        f.write("winner")
    calls = []
    assert publish_once(path, calls.append) == path
    assert calls == []
    with open(os.path.join(path, "part")) as f:
        assert f.read() == "winner"


def test_publish_once_lost_race_discards_tmp(tmp_path):
    """A racer publishes ``path`` while this builder writes its tmp
    dir: the rename loses, the winner's bytes stay, no tmp is left."""
    path = str(tmp_path / "cache" / "art-0123")

    def write(tmp):
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part"), "w") as f:
            f.write("loser")
        os.makedirs(path)  # the racer's rename lands first
        with open(os.path.join(path, "part"), "w") as f:
            f.write("winner")

    assert publish_once(path, write) == path
    with open(os.path.join(path, "part")) as f:
        assert f.read() == "winner"
    assert os.listdir(os.path.dirname(path)) == ["art-0123"]


def test_publish_once_first_build_publishes(tmp_path):
    path = str(tmp_path / "cache" / "art-0123")

    def write(tmp):
        assert ".tmp-" in os.path.basename(tmp)
        os.makedirs(tmp)
        with open(os.path.join(tmp, "part"), "w") as f:
            f.write("built")

    assert publish_once(path, write) == path
    with open(os.path.join(path, "part")) as f:
        assert f.read() == "built"
    assert os.listdir(os.path.dirname(path)) == ["art-0123"]
