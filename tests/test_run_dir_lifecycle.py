"""Run-dir lifecycle of the streaming operators: a drain leaves no
temp dir and no session temp view behind, on success and on failure."""

import os
import tempfile

import pytest

SF_DIR = "/root/testdata/sf0.001"


def _temp_views(spark):
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


def test_drains_leave_no_run_dirs_or_sink_views(spark, tmp_path, monkeypatch):
    """A memory-sink graded query and a live foreachBatch run whose
    batch function raises both clean up: no ``ds_*`` dir is left in
    the temp root and the session gains no temporary view."""
    from durablestreams_spark.operators import streaming_queries as sq

    tmp_root = tmp_path / "tmp"
    tmp_root.mkdir()
    monkeypatch.setattr(tempfile, "tempdir", str(tmp_root))
    views_before = _temp_views(spark)

    out = sq.streaming_dedup_watermarked(spark, SF_DIR)
    assert out.count() > 0

    delta = spark.createDataFrame(
        [(i, f"doc number {i} with a few words") for i in range(20)],
        "doc_id long, text string",
    )
    # no base index at this path: the first batch's read raises
    with pytest.raises(Exception):
        sq._ndlive_run(spark, str(tmp_path / "no_such_index"), delta)

    assert [e for e in os.listdir(tmp_root) if e.startswith("ds_")] == []
    assert _temp_views(spark) == views_before
