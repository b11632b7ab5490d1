"""Bulk-ingest equivalence: the distributed offset assignment must be
indistinguishable from feeding the same rows, in the same order, in
``batch_records``-sized batches through the serial point-produce path
(which is itself the reference's semantics)."""

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from durablestreams_spark import StreamCatalog, produce_bulk
from durablestreams_spark.ingest import assign_offsets
from durablestreams_spark.offsets import serialize_offset


CASES = [(1, 10), (10, 3), (1000, 1000), (2500, 100)]


def _jobs(spark, fn):
    """``fn()``'s result and the number of Spark jobs it ran."""
    sc = spark.sparkContext
    group = f"bulk-jobs-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "job count")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _persisted(spark):
    """Ids of the RDDs the session holds persisted (earlier tests may
    have left some)."""
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def _one_file_input(spark, tmp_path, n):
    """An ``n``-row input read from one parquet file: one partition,
    as Spark's file-split planning decides it."""
    path = str(tmp_path / f"one_file_{n}")
    spark.range(n).selectExpr("id", "concat('k', id) AS k").coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    assert df.rdd.getNumPartitions() == 1
    return df


@pytest.mark.parametrize(
    "n,batch,one_part",
    [pytest.param(n, b, False, id=f"{n}-{b}") for n, b in CASES]
    + [pytest.param(n, b, True, id=f"{n}-{b}-one_partition") for n, b in CASES],
)
def test_bulk_offsets_equal_serial_point_produce(spark, catalog, n, batch, one_part):
    rows = [(i, f"k{i}") for i in range(n)]
    df = spark.createDataFrame(rows, "i long, k string")
    if one_part:
        df = df.coalesce(1)

    bulk = catalog.stream(f"bulk_{n}_{batch}")
    produce_bulk(bulk, df, order_by=["i"], batch_records=batch)

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


def test_bulk_of_one_partition_empty_input_commits_no_segment(spark, catalog):
    """A one-partition input with no rows takes the one-range path (no
    count tells it the input is empty): one write job, no segment, and
    the clock stays where it was."""
    stream = catalog.stream("bulk_empty_one")
    stream.produce([{"id": 0}])
    before = stream.refresh()
    empty = spark.range(10, numPartitions=1).where("id < 0")
    n, jobs = _jobs(spark, lambda: produce_bulk(stream, empty, order_by=["id"]))
    assert (n, jobs) == (0, 1)
    after = stream.refresh()
    assert list(after.active) == list(before.active)
    assert after.last_epoch_ms == before.last_epoch_ms


def test_bulk_of_one_partition_input_is_one_job(spark, catalog, tmp_path):
    """A one-partition input is its own single range: offsets and write
    run as ONE Spark job (no range sample, shuffle, persist or count),
    and nothing stays persisted.  Offsets are the serial ones."""
    n = 1500
    df = _one_file_input(spark, tmp_path, n)
    stream = catalog.stream("bulk_one_job")
    persisted = _persisted(spark)
    files, jobs = _jobs(
        spark, lambda: produce_bulk(stream, df, order_by=["id"], batch_records=100)
    )
    assert (files, jobs) == (1, 1)
    assert _persisted(spark) == persisted
    recs = stream.consume("-", limit=n + 1)
    assert [r.data["id"] for r in recs] == list(range(n))
    assert [r.offset for r in recs] == [
        serialize_offset(1 + k // 100, k % 100) for k in range(n)
    ]


def test_bulk_of_multi_partition_input_keeps_the_range_path(spark, catalog):
    """A multi-partition input keeps the range path's jobs: range
    sample, the shuffle, the persisted count, the write (six jobs with
    AQE on, as before the one-range path existed)."""
    df = spark.range(2000, numPartitions=4).selectExpr("id", "concat('k', id) AS k")
    stream = catalog.stream("bulk_multi")
    persisted = _persisted(spark)
    _, jobs = _jobs(spark, lambda: produce_bulk(stream, df, order_by=["id"]))
    assert jobs == 6
    assert _persisted(spark) == persisted
    assert [r.data["id"] for r in stream.consume("-", limit=2001)] == list(range(2000))


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


@pytest.mark.parametrize("exact", [False, True], ids=["split", "exact_segments"])
def test_one_partition_segment_rows_are_exact(spark, catalog, tmp_path, exact):
    """One range is one sorted run from row 0: ``maxRecordsPerFile``
    cuts it at exact multiples of segment_rows, in the one write job,
    with or without ``exact_segments`` (no hash merge)."""
    import pyarrow.parquet as pq

    n, segment_rows = 1050, 100
    df = _one_file_input(spark, tmp_path, n)
    s = catalog.stream(f"one_sized_{exact}")
    files, jobs = _jobs(
        spark,
        lambda: produce_bulk(
            s, df, order_by=["id"], batch_records=500,
            segment_rows=segment_rows, exact_segments=exact,
        ),
    )
    assert jobs == 1
    assert files == -(-n // segment_rows) == len(_segment_files(s))
    files_by_offset = []
    for path in _segment_files(s):
        offs = pq.read_table(path, columns=["offset"]).column("offset").to_pylist()
        assert offs == sorted(offs)
        files_by_offset.append((offs[0], len(offs)))
    sizes = [k for _, k in sorted(files_by_offset)]
    assert sizes == [segment_rows] * (len(sizes) - 1) + [n - segment_rows * (len(sizes) - 1)]
    assert [r.data["id"] for r in s.consume("-", limit=n + 1)] == list(range(n))
