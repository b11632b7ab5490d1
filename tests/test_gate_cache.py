"""Budget-gate decision-record cache parity (VERDICT r14 task 4):
the cached (parquet round-trip) and live-drain branches of
_gate_budget_decisions must produce identical decision rows, and the
graded consumers must return identical results either way.  The
suite-wide default (conftest) is cache OFF; this module turns the
cache ON explicitly per call via env patching — the _ann_cached
parity discipline applied to the gate family."""

import os
import shutil

import pytest

from durablestreams_spark.operators import streaming_queries as sq

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture()
def gate_cache_on(monkeypatch, tmp_path):
    monkeypatch.setenv("SPARK_GRAFT_GATE_CACHE", "1")
    monkeypatch.setattr(
        sq, "_GATE_DEC_CACHE_ROOT", str(tmp_path / "gatedec")
    )
    yield
    shutil.rmtree(str(tmp_path / "gatedec"), ignore_errors=True)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_decision_record_cache_parity(spark, gate_cache_on):
    """cached == live, row for row — the decisions are a pure
    function of the data, so the parquet round-trip must be
    observationally invisible; and the second call must be a pure
    cache read (no new drain: the audit dict stays untouched)."""
    audit1: dict = {}
    cached_first = _rows(
        sq._gate_budget_decisions(spark, SF_DIR, audit1)
    )  # live drain + publish
    assert audit1.get("n_batches") == sq._BUDGET_REPLAYS, audit1
    audit2: dict = {}
    cached_second = _rows(
        sq._gate_budget_decisions(spark, SF_DIR, audit2)
    )  # pure cache read
    assert audit2 == {}, "second call re-drained instead of reading"
    root = sq._GATE_DEC_CACHE_ROOT
    assert any(d.startswith("dec-") for d in os.listdir(root))
    os.environ["SPARK_GRAFT_GATE_CACHE"] = "0"
    try:
        audit3: dict = {}
        live = _rows(sq._gate_budget_decisions(spark, SF_DIR, audit3))
        assert audit3.get("n_batches") == sq._BUDGET_REPLAYS, audit3
    finally:
        os.environ["SPARK_GRAFT_GATE_CACHE"] = "1"
    assert cached_first == live
    assert cached_second == live


def test_budget_report_identical_through_cache(spark, gate_cache_on):
    """The graded economics report is identical whether its decision
    record came from the cache or a live drain."""
    cached = _rows(sq.streaming_ingest_gate_budget(spark, SF_DIR))
    os.environ["SPARK_GRAFT_GATE_CACHE"] = "0"
    try:
        live = _rows(sq.streaming_ingest_gate_budget(spark, SF_DIR))
    finally:
        os.environ["SPARK_GRAFT_GATE_CACHE"] = "1"
    assert cached == live


def test_close_of_all_rejected_window_is_empty_manifest(spark, tmp_path):
    """A decision record with rows but ZERO admitted docs must close
    to an empty manifest, not crash in the writer's read-back
    (review finding r15)."""
    rows = [
        (1, "web", 0, 10, True, False, False, False, False, True,
         1.0, False, False, 0),
        (2, "web", 0, 12, False, True, False, False, False, True,
         1.0, False, False, 0),
    ]
    dec = spark.createDataFrame(rows, sq._GATE_DEC_SCHEMA)
    _dec, shards, man = sq._gate_shards_close(
        spark, SF_DIR, str(tmp_path / "run"), dec
    )
    assert man.count() == 0
    assert shards.count() == 0


def test_cache_key_folds_gate_params(spark, gate_cache_on, monkeypatch):
    """A knob change must re-drain, never serve stale decisions: the
    cache path must differ when a gate constant differs."""
    from durablestreams_spark.operators.cache_marker import (
        fixture_fingerprint,
    )

    p1 = fixture_fingerprint(
        SF_DIR, "documents", params=sq._gate_dec_params()
    )
    monkeypatch.setattr(sq, "_BUDGET_REPLAYS", sq._BUDGET_REPLAYS + 1)
    p2 = fixture_fingerprint(
        SF_DIR, "documents", params=sq._gate_dec_params()
    )
    assert p1 != p2
