"""``Stream.consume`` seeks inside a segment and decodes only what it
returns.  Its answers must equal the plain algorithm it replaced:
decode every row of every segment, drop the rows at or before the
start offset, stop at the limit."""

import json
import os
import uuid

import pyarrow.parquet as pq

import durablestreams_spark.stream as stream_mod
from durablestreams_spark.ingest import produce_bulk
from durablestreams_spark.maintenance import compact
from durablestreams_spark.offsets import end_of_epoch, parse_offset, serialize_offset
from durablestreams_spark.stream import Record


def _reference_consume(s, offset, limit):
    start = "" if offset == "-" else offset
    out = []
    for seg in s._load().active_sorted():
        t = pq.read_table(os.path.join(s.segments_dir, seg.name), columns=["offset", "data"])
        for o, d in zip(t.column("offset").to_pylist(), t.column("data").to_pylist()):
            if start and o <= start:
                continue
            out.append(Record(offset=o, data=json.loads(d)))
            if len(out) >= limit:
                return out
    return out


def _probes(segs):
    """Offsets that fall outside every segment: before the first,
    between neighbours, after the last."""
    out = [serialize_offset(0, 0)]
    for a, b in zip(segs, segs[1:]):
        after_a = end_of_epoch(parse_offset(a.last_offset)[0])
        before_b = serialize_offset(parse_offset(b.first_offset)[0], 0)
        out += [p for p in (after_a, before_b) if a.last_offset < p < b.first_offset]
    out.append(end_of_epoch(parse_offset(segs[-1].last_offset)[0]))
    return out


def test_consume_matches_decode_and_filter(catalog, spark):
    s = catalog.stream(uuid.uuid4().hex)
    for i, n in enumerate((3, 1, 4)):
        s.produce([{"v": f"raw{i}-{j}"} for j in range(n)], epoch_ms=1_000 * (i + 1))
    assert compact(s) is not None
    df = spark.createDataFrame([(i, f"bulk{i}") for i in range(20)], "k long, v string")
    produce_bulk(s, df, order_by=["k"], batch_records=10, segment_rows=7, exact_segments=True)
    for i, n in enumerate((2, 5)):
        s.produce([{"v": f"tail{i}-{j}"} for j in range(n)], epoch_ms=10**12 + i)

    segs = s.refresh().active_sorted()
    kinds = {
        "compacted": sum(g.name.endswith(".compacted") for g in segs),
        "bulk": sum(g.name.startswith("bulk-") for g in segs),
        "raw": sum(g.name.endswith(".parquet") and "/" not in g.name for g in segs),
    }
    assert kinds == {"compacted": 1, "bulk": 3, "raw": 2}, kinds
    stored = [r.offset for r in _reference_consume(s, "-", 10**9)]
    assert len(stored) == 35
    between = _probes(segs)
    assert len(between) > 4 and not set(between) & set(stored)

    for offset in ["-", *stored, *between]:
        for limit in (1, 7, 100, len(stored) + 5):
            assert s.consume(offset, limit) == _reference_consume(s, offset, limit), (offset, limit)


def test_consume_parses_only_the_rows_it_returns(catalog, monkeypatch):
    s = catalog.stream(uuid.uuid4().hex)
    offsets = []
    for b in range(10):
        offsets += s.produce([{"b": b, "i": i} for i in range(500)]).offsets
    merged = compact(s)
    assert merged is not None and merged.records == 5_000
    assert list(s.refresh().active) == [merged.name]

    class CountingJson:
        calls = 0

        def loads(self, text):
            CountingJson.calls += 1
            return json.loads(text)

    monkeypatch.setattr(stream_mod, "json", CountingJson())
    page = s.consume(offsets[2_499], 10)
    assert [r.offset for r in page] == offsets[2_500:2_510]
    assert [r.data for r in page] == [{"b": 5, "i": i} for i in range(10)]
    assert CountingJson.calls <= 10
