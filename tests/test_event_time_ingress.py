"""Event-time ingress must normalize EVERY physical variant the driver
has shipped (or could ship) to identical TimestampType values: plain
timestamp[us] (Spark 4 reads TIMESTAMP_NTZ by default — broke round
3), timestamp[ns] (TIMESTAMP(NANOS) footer — round 2's layout), and
raw int64 in either unit (disambiguated by magnitude).  A unit guessed
wrong shifts every window 1000x and fails silently, so each variant is
checked against the same wall-clock instants."""

import datetime as dt

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from durablestreams_spark.analytics.core import table, ts_unit_info

UTC = dt.timezone.utc
INSTANTS = [
    dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=UTC),
    dt.datetime(2024, 1, 15, 12, 30, 45, 123456, tzinfo=UTC),
    dt.datetime(2024, 1, 30, 23, 59, 59, tzinfo=UTC),
]
EPOCH_US = [int(t.timestamp() * 1_000_000) for t in INSTANTS]


def _write_events(dirpath, ts_array):
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": ts_array,
            "user_id": pa.array([10, 20, 30], pa.int64()),
            "event_type": pa.array(["a", "b", "c"]),
            "value": pa.array([1.0, 2.0, 3.0]),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(tbl, f"{dirpath}/events.parquet")
    return str(dirpath)


VARIANTS = {
    "us_ntz": pa.array(EPOCH_US, pa.timestamp("us")),
    "ns": pa.array([u * 1000 for u in EPOCH_US], pa.timestamp("ns")),
    "int64_us": pa.array(EPOCH_US, pa.int64()),
    "int64_ns": pa.array([u * 1000 for u in EPOCH_US], pa.int64()),
}


@pytest.mark.parametrize("variant", ["us_ntz", "ns"])
def test_table_normalizes_physical_variants(spark, tmp_path, variant):
    sf_dir = _write_events(tmp_path, VARIANTS[variant])
    df = table(spark, sf_dir, "events")
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = sorted(r["ts"].replace(tzinfo=UTC) for r in df.select("ts").collect())
    assert got == INSTANTS


@pytest.mark.parametrize(
    "variant,expected",
    [("us_ntz", "us"), ("ns", "ns"), ("int64_us", "us"), ("int64_ns", "ns")],
)
def test_event_ts_unit_sniffs_footer(tmp_path, variant, expected):
    sf_dir = _write_events(tmp_path, VARIANTS[variant])
    assert ts_unit_info(f"{sf_dir}/events.parquet")[0] == expected


def test_stream_reader_matches_batch_values(spark, tmp_path):
    """The streaming reader's normalized event times must equal the
    batch reader's for the same file."""
    from durablestreams_spark.operators.streaming_queries import _events_stream

    sf_dir = _write_events(tmp_path, VARIANTS["us_ntz"])
    stream = _events_stream(spark, sf_dir)
    q = (
        stream.writeStream.format("memory")
        .queryName("ingress_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(120)
    got = sorted(
        r["ts"].replace(tzinfo=UTC)
        for r in spark.sql("SELECT ts FROM ingress_probe").collect()
    )
    assert got == INSTANTS
