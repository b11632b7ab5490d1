"""Training-shard writer (pipeline_write_shards).

The writer's contract: a SEEDED deterministic shuffle — two
independent builds must produce byte-identical shard assignment (same
sequence -> same shard at the same position), fixed-size rank blocks,
and complete coverage (every packed sequence lands in exactly one
shard).
"""

import os

SF_DIR = "/root/testdata/sf0.001"


def _build(spark, root):
    from durablestreams_spark.operators.pipeline_llm import _write_shards

    return _write_shards(spark, SF_DIR, root=root).select(
        "shard_out", "rank", "key", "shard", "seq_id", "n_tokens_in"
    )


def test_rerun_is_byte_identical(spark, tmp_path):
    """Two independent builds (separate artifact roots, no shared
    cache) must produce the identical (shard, position, identity)
    assignment — the reproducibility property that lets a training
    run be resumed or audited from the seed alone."""
    a = sorted(map(tuple, _build(spark, str(tmp_path / "a")).collect()))
    b = sorted(map(tuple, _build(spark, str(tmp_path / "b")).collect()))
    assert a == b
    assert len(a) > 0


def test_shards_cover_exactly_the_packed_sequences(spark, tmp_path):
    """No sequence dropped, duplicated, or invented: the written rows'
    (shard, seq_id) multiset equals pipeline_pack_sequences' output,
    and ranks are the contiguous 1..M permutation."""
    from durablestreams_spark.analytics.core import all_queries

    rows = _build(spark, str(tmp_path / "c")).collect()
    packed = all_queries()["pipeline_pack_sequences"].fn(
        spark, SF_DIR
    ).collect()
    assert sorted((r.shard, r.seq_id) for r in rows) == sorted(
        (p.shard, p.seq_id) for p in packed
    )
    ranks = sorted(r.rank for r in rows)
    assert ranks == list(range(1, len(rows) + 1))


def test_shards_are_fixed_size_rank_blocks(spark, tmp_path):
    """Shard i holds exactly the ranks in block i of size
    ceil(M / WRITE_SHARDS) — fixed-count shards, contiguous in the
    shuffled order (the WebDataset layout)."""
    from durablestreams_spark.operators.pipeline_llm import WRITE_SHARDS

    rows = _build(spark, str(tmp_path / "d")).collect()
    m = len(rows)
    chunk = -(-m // WRITE_SHARDS)
    for r in rows:
        assert r.shard_out == (r.rank - 1) // chunk


def test_artifact_is_partitioned_per_shard(spark, tmp_path):
    """The written layout is one parquet partition directory per
    output shard (the shard FILES a trainer consumes), not a single
    blob."""
    root = str(tmp_path / "e")
    df = _build(spark, root)
    shard_ids = {r.shard_out for r in df.select("shard_out").collect()}
    dirs = {
        d
        for d in os.listdir(os.path.join(root, "shards.parquet"))
        if d.startswith("shard_out=")
    }
    assert dirs == {f"shard_out={s}" for s in shard_ids}


def test_payload_rerun_is_byte_identical(spark, tmp_path):
    """The payload writer keeps the seeded-shuffle reproducibility
    contract: two independent builds agree on (shard, rank, payload)
    exactly — including every token id."""
    from durablestreams_spark.operators.pipeline_llm import (
        _write_shards_payload,
    )

    def build(root):
        return sorted(
            (r["shard_out"], r["rank"], tuple(r["payload"]))
            for r in _write_shards_payload(spark, SF_DIR, root=root)
            .select("shard_out", "rank", "payload")
            .collect()
        )

    a = build(str(tmp_path / "a"))
    b = build(str(tmp_path / "b"))
    assert a == b and len(a) > 0
    # payloads actually carry tokens
    assert sum(len(p) for _, _, p in a) > 0


def test_payload_fp_flips_on_single_token_and_on_order(spark, tmp_path):
    """VERDICT r10 task 3 'done' criterion: the per-shard content_fp
    must cover PAYLOAD BYTES — changing one token id in one sequence
    flips its shard's fingerprint, and so does swapping the ranks of
    two sequences (position sensitivity)."""
    import hashlib

    from durablestreams_spark.operators.pipeline_llm import (
        _write_shards_payload,
    )

    rows = (
        _write_shards_payload(spark, SF_DIR, root=str(tmp_path / "w"))
        .select("shard_out", "rank", "payload")
        .collect()
    )

    def fp(rows_iter):
        out = {}
        for shard, rank, payload in rows_iter:
            s = f"{rank}:" + ",".join(str(x) for x in payload)
            h = int(hashlib.md5(s.encode()).hexdigest()[:8], 16)
            out[shard] = out.get(shard, 0) + h
        return out

    base_rows = [
        (r["shard_out"], r["rank"], list(r["payload"])) for r in rows
    ]
    base = fp(base_rows)

    # (a) single-token mutation: +1 on the first token of the first
    # non-empty payload
    mut = [(s, rk, list(p)) for s, rk, p in base_rows]
    for row in mut:
        if row[2]:
            row[2][0] += 1
            touched = row[0]
            break
    assert fp(mut)[touched] != base[touched]

    # (b) order mutation: swap the ranks of two sequences in the same
    # shard (membership identical, order changed)
    by_shard = {}
    for i, (s, rk, p) in enumerate(base_rows):
        by_shard.setdefault(s, []).append(i)
    pair = next(
        (v[:2] for v in by_shard.values()
         if len(v) >= 2
         and base_rows[v[0]][2] != base_rows[v[1]][2]),
        None,
    )
    assert pair is not None
    i, j = pair
    swapped = [list(r) for r in base_rows]
    swapped[i][1], swapped[j][1] = swapped[j][1], swapped[i][1]
    s_id = base_rows[i][0]
    assert fp(tuple(r) for r in swapped)[s_id] != base[s_id]

    # and the python fingerprint formula matches the graded query's
    from durablestreams_spark.analytics.core import all_queries

    graded = {
        r["shard_id"]: r["content_fp"]
        for r in all_queries()["pipeline_write_shards_payload"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert graded == base


def test_streaming_epoch_writer_matches_batch_on_same_delta(spark, tmp_path):
    """VERDICT r10 task 5 'done' criterion: the LIVE epoch writer's
    drained manifest equals the batch writer machinery applied to the
    same delta corpus, its replay spans multiple stateless batches,
    and a re-run is byte-identical."""
    from durablestreams_spark.operators import streaming_queries as sq
    from durablestreams_spark.operators.pipeline_llm import (
        _doc_token_counts,
        _pack_from_counts,
        _shards_manifest,
        _write_shards,
    )
    from durablestreams_spark.analytics.core import table
    from pyspark.sql import functions as F

    live1 = sorted(
        map(tuple, sq.streaming_write_shards(spark, SF_DIR).collect())
    )
    audit = sq._SHARDS_LIVE_LAST_RUN
    assert audit["n_batches"] >= 2, audit
    assert audit["state_operators"] == [], audit

    live2 = sorted(
        map(tuple, sq.streaming_write_shards(spark, SF_DIR).collect())
    )
    assert live1 == live2, "epoch delivery not reproducible"

    delta = table(spark, SF_DIR, "documents").where(
        ~sq._base_split("doc_id", sq._NDLIVE_TAG)
    )
    batch = sorted(
        map(
            tuple,
            _shards_manifest(
                _write_shards(
                    spark,
                    SF_DIR,
                    root=str(tmp_path / "batchdelta"),
                    seqs_fn=lambda: _pack_from_counts(
                        _doc_token_counts(delta)
                    ),
                    params="batch-on-delta:test",
                )
            ).collect(),
        )
    )
    assert live1 == batch and len(live1) > 0


def test_shards_resume_survives_midstream_kill(spark):
    """Kill-and-resume for the delivery topology: the injected crash
    really fired mid-run (checkpoint commit log shows fewer committed
    epochs than the full drain's batches), and the resumed run's
    close-step manifest equals an uninterrupted run's row for row."""
    from durablestreams_spark.operators import streaming_queries as sq

    resumed = sorted(
        map(tuple, sq.streaming_write_shards_resume(spark, SF_DIR).collect())
    )
    audit = sq._SHARDS_RESUME_LAST_RUN
    assert audit["killed"] is True
    assert audit["state_operators"] == [], audit
    # the first attempt committed some but not all of the delta's
    # micro-batches (one file per trigger — _NDLIVE_FILES total)
    assert 0 < audit["first_run_committed"] < sq._NDLIVE_FILES, audit
    clean = sorted(
        map(tuple, sq.streaming_write_shards(spark, SF_DIR).collect())
    )
    assert resumed == clean and len(resumed) > 0
