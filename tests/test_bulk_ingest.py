"""Bulk-ingest equivalence: the distributed offset assignment must be
indistinguishable from feeding the same rows, in the same order, in
``batch_records``-sized batches through the serial point-produce path
(which is itself the reference's semantics)."""

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from durablestreams_spark import StreamCatalog, produce_bulk
from durablestreams_spark.ingest import assign_offsets
from durablestreams_spark.offsets import serialize_offset


@pytest.mark.parametrize("n,batch", [(1, 10), (10, 3), (1000, 1000), (2500, 100)])
def test_bulk_offsets_equal_serial_point_produce(spark, catalog, n, batch):
    rows = [(i, f"k{i}") for i in range(n)]

    bulk = catalog.stream(f"bulk_{n}_{batch}")
    produce_bulk(
        bulk,
        spark.createDataFrame(rows, "i long, k string"),
        order_by=["i"],
        batch_records=batch,
    )

    serial = catalog.stream(f"serial_{n}_{batch}")
    for start in range(0, n, batch):
        serial.produce(
            [{"i": i, "k": k} for i, k in rows[start : start + batch]],
            epoch_ms=start // batch + 1,
        )

    got = [(r.offset, r.data["i"]) for r in bulk.consume("-", limit=n + 1)]
    want = [(r.offset, r.data["i"]) for r in serial.consume("-", limit=n + 1)]
    assert got == want and len(got) == n


def test_bulk_of_empty_input_commits_no_segment(spark, catalog):
    """An empty DataFrame has no partition prefix sums: the write
    commits nothing and leaves the stream's clock where it was."""
    stream = catalog.stream("bulk_empty")
    stream.produce([{"i": 0}])
    before = stream.refresh()
    empty = spark.createDataFrame([], "i long, k string")
    assert produce_bulk(stream, empty, order_by=["i"]) == 0
    after = stream.refresh()
    assert list(after.active) == list(before.active)
    assert after.last_epoch_ms == before.last_epoch_ms


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    n=st.integers(min_value=1, max_value=400),
    batch=st.integers(min_value=1, max_value=50),
    base=st.integers(min_value=1, max_value=10**9),
)
def test_assign_offsets_arithmetic_property(spark, n, batch, base):
    """offset(row k of the order) == serialize(base + k//batch, k%batch),
    for arbitrary (n, batch, base) — and offsets are strictly
    increasing in the order key even when keys arrive shuffled."""
    df = spark.range(n).selectExpr("(id * 37) % 997 AS shuffled", "id")
    out = assign_offsets(df, ["id"], batch_records=batch, base_epoch=base)
    rows = sorted(out.select("id", "offset", "batch").collect(), key=lambda r: r.id)
    out._ds_persisted.unpersist()
    for r in rows:
        k = r.id
        assert r.offset == serialize_offset(base + k // batch, k % batch)
        assert r.batch == base + k // batch
    offs = [r.offset for r in rows]
    assert offs == sorted(offs)


def _segment_files(stream):
    import os

    out = []
    for root, _dirs, files in os.walk(stream.segments_dir):
        out += [os.path.join(root, f) for f in files if f.endswith(".parquet")]
    return out


@pytest.mark.parametrize(
    "n,segment_rows",
    [
        (4000, 100),   # n_files(40) >= partitions(8): in-task split, no shuffle
        (4000, 1500),  # n_files(3) < partitions(8): hash-merge on file id
    ],
)
def test_segment_rows_files_disjoint_and_capped(spark, catalog, n, segment_rows):
    """Both physical-sizing paths — the no-shuffle ``maxRecordsPerFile``
    in-task split and the sampling-free hash merge on the arithmetic
    file id — must yield segment files that are ≤segment_rows rows each
    and pairwise DISJOINT in offset range (the manifest invariant)."""
    import pyarrow.parquet as pq

    s = catalog.stream(f"sized_{n}_{segment_rows}")
    df = spark.range(n).selectExpr("id", "concat('k', id) AS k")
    produce_bulk(s, df, order_by=["id"], batch_records=500,
                 segment_rows=segment_rows)

    ranges = []
    for path in _segment_files(s):
        md = pq.read_metadata(path)
        assert md.num_rows <= segment_rows, path
        t = pq.read_table(path, columns=["offset"])
        offs = t.column("offset").to_pylist()
        assert offs == sorted(offs)
        ranges.append((offs[0], offs[-1]))
    ranges.sort()
    for (_, hi), (lo, _) in zip(ranges, ranges[1:]):
        assert hi < lo  # strictly disjoint, ordered
    # merge path sizes files exactly: ceil(n / segment_rows) files
    if -(-n // segment_rows) < 8:
        assert len(ranges) == -(-n // segment_rows)

    got = [r.data["id"] for r in s.consume("-", limit=n + 1)]
    assert got == list(range(n))
