"""Near-dup index maintenance lifecycle (refresh_band_index).

The refresh contract: cost O(|delta| + |index rows|) — the historical
corpus text is NEVER re-read (proven by deleting it before the
refresh) — with guarded-swap semantics: a racing refresher that
advances the guard marker mid-flight makes this refresh abort with
None instead of clobbering the winner's artifact.
"""

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F


def _write_docs(path, rows):
    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["synthetic"] * len(rows), pa.string()),
                "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
            }
        ),
        str(path),
    )


def _base_delta_ids(n=400):
    import hashlib

    base, delta = [], []
    for i in range(1, n):
        tag = hashlib.md5(f"{i}:ndlive".encode()).hexdigest()[:2]
        (base if tag < "cc" else delta).append(i)
    return base, delta


def test_refresh_never_rereads_the_corpus_text(spark, tmp_path):
    """O(delta) pinned structurally: build the base index, DELETE the
    corpus parquet, then refresh with a delta supplied as its own
    file — success is only possible if the refresh touches nothing
    but the index rows and the delta."""
    from durablestreams_spark.operators.streaming_queries import (
        SIMHASH_FAMILY,
        _band_index_path,
        refresh_band_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [(i, f"base document {i} about topic {i % 5}") for i in base_ids[:20]],
    )
    base_p = _band_index_path(SIMHASH_FAMILY, spark, str(tmp_path), base=True)
    # the refresh must survive the corpus text disappearing
    os.remove(corpus)

    idx_p = str(tmp_path / "live_index.parquet")
    shutil.copytree(base_p, idx_p)
    delta_file = tmp_path / "delta.parquet"
    _write_docs(
        delta_file,
        [(i, f"new arrival {i} with fresh words") for i in delta_ids[:5]],
    )
    delta = spark.read.parquet(str(delta_file)).select("doc_id", "text")
    removed_id = base_ids[0]
    removed = spark.createDataFrame([(removed_id,)], "doc_id long")

    out = refresh_band_index(SIMHASH_FAMILY, spark, idx_p, delta, removed)
    assert out is not None
    ids = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert set(delta_ids[:5]) <= ids, "delta signatures not appended"
    assert removed_id not in ids, "tombstone not applied"
    assert set(base_ids[1:20]) <= ids, "surviving base rows lost"
    # 4 bands per doc, exactly once each
    n_docs = len(ids)
    assert out.count() == 4 * n_docs


def test_refresh_aborts_on_lost_guard_race(spark, tmp_path):
    """Guarded swap (the maintenance.compact contract): if the guard
    marker's content changes between refresh entry and the swap —
    simulated by a delta row whose evaluation rewrites the marker,
    i.e. the race happens exactly while this refresh computes — the
    refresh returns None, leaves no .next debris, and the live
    artifact is untouched."""
    from pyspark.sql.functions import udf

    from durablestreams_spark.operators.streaming_queries import (
        SIMHASH_FAMILY,
        _band_index_path,
        refresh_band_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [(i, f"base document {i} some words here") for i in base_ids[:10]],
    )
    base_p = _band_index_path(SIMHASH_FAMILY, spark, str(tmp_path), base=True)
    idx_p = str(tmp_path / "live_index.parquet")
    shutil.copytree(base_p, idx_p)
    before = sorted(
        map(tuple, spark.read.parquet(idx_p).collect())
    )

    marker = str(tmp_path / "guard")
    with open(marker, "w") as fh:
        fh.write("epoch-1")

    def racer(t):
        with open(marker, "w") as fh:
            fh.write("epoch-2-racer-won")
        return t

    poison = udf(racer, "string")
    delta = spark.createDataFrame(
        [(delta_ids[0], "fresh text from the racer window")],
        "doc_id long, text string",
    ).select("doc_id", poison("text").alias("text"))
    removed = spark.createDataFrame([], "doc_id long")

    out = refresh_band_index(
        SIMHASH_FAMILY, spark, idx_p, delta, removed, guard_marker=marker
    )
    assert out is None
    assert sorted(map(tuple, spark.read.parquet(idx_p).collect())) == before
    # no half-swapped symlink debris, and the lock was released
    debris = [d for d in os.listdir(tmp_path) if ".swp-" in d]
    assert debris == []
    assert not os.path.exists(idx_p + ".lock")


def test_refresh_loses_to_a_held_lock(spark, tmp_path):
    """Mutual exclusion: while another refresher holds the artifact
    lock, a second refresh returns None immediately and changes
    nothing — the no-clobber contract under true concurrency."""
    from durablestreams_spark.operators.streaming_queries import (
        SIMHASH_FAMILY,
        _band_index_path,
        refresh_band_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [(i, f"base document {i} words words") for i in base_ids[:6]],
    )
    base_p = _band_index_path(SIMHASH_FAMILY, spark, str(tmp_path), base=True)
    idx_p = str(tmp_path / "live_index.parquet")
    shutil.copytree(base_p, idx_p)
    before = sorted(map(tuple, spark.read.parquet(idx_p).collect()))

    with open(idx_p + ".lock", "w"):
        pass  # a concurrent refresher's lock
    delta = spark.createDataFrame(
        [(delta_ids[0], "late arrival words")], "doc_id long, text string"
    )
    removed = spark.createDataFrame([], "doc_id long")
    out = refresh_band_index(SIMHASH_FAMILY, spark, idx_p, delta, removed)
    assert out is None
    assert sorted(map(tuple, spark.read.parquet(idx_p).collect())) == before
    os.remove(idx_p + ".lock")


def test_refresh_swap_is_atomic_for_readers(spark, tmp_path):
    """The live path is a symlink repointed by one atomic rename:
    after a refresh the path resolves to the NEW version, the
    previous version directory is retained for in-flight readers,
    and the path itself never stops existing."""
    from durablestreams_spark.operators.streaming_queries import (
        SIMHASH_FAMILY,
        _band_index_path,
        refresh_band_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [(i, f"base document {i} alpha beta") for i in base_ids[:6]],
    )
    base_p = _band_index_path(SIMHASH_FAMILY, spark, str(tmp_path), base=True)
    idx_p = str(tmp_path / "live_index.parquet")
    shutil.copytree(base_p, idx_p + ".v-genesis")
    os.symlink(idx_p + ".v-genesis", idx_p)

    delta = spark.createDataFrame(
        [(delta_ids[0], "brand new arrival text")],
        "doc_id long, text string",
    )
    removed = spark.createDataFrame([], "doc_id long")
    out = refresh_band_index(SIMHASH_FAMILY, spark, idx_p, delta, removed)
    assert out is not None
    assert os.path.islink(idx_p)
    assert os.path.realpath(idx_p) != os.path.realpath(
        idx_p + ".v-genesis"
    )
    # previous version retained for in-flight readers
    assert os.path.isdir(idx_p + ".v-genesis")
    assert delta_ids[0] in {
        r["doc_id"] for r in out.select("doc_id").distinct().collect()
    }


def test_refresh_matches_full_rebuild(spark, tmp_path):
    """base UNION delta (minus removed) refresh == full rebuild of the
    index over the surviving corpus — row-for-row."""
    from durablestreams_spark.operators.dedup import (
        band_key_exprs,
        simhash_expr,
    )
    from durablestreams_spark.operators.streaming_queries import (
        SIMHASH_FAMILY,
        _band_index_path,
        refresh_band_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    rows = [
        (i, f"document number {i} talks about subject {i % 7} today")
        for i in base_ids[:15] + delta_ids[:6]
    ]
    corpus = tmp_path / "documents.parquet"
    _write_docs(corpus, rows)
    base_p = _band_index_path(SIMHASH_FAMILY, spark, str(tmp_path), base=True)
    idx_p = str(tmp_path / "live_index.parquet")
    shutil.copytree(base_p, idx_p)

    docs = spark.read.parquet(str(corpus))
    delta = docs.where(
        F.col("doc_id").isin([i for i, _ in rows if i in delta_ids[:6]])
    ).select("doc_id", "text")
    removed_ids = [base_ids[2], delta_ids[1]]
    removed = spark.createDataFrame(
        [(i,) for i in removed_ids], "doc_id long"
    )
    out = refresh_band_index(SIMHASH_FAMILY, spark, idx_p, delta, removed)

    rebuild = (
        docs.where(~F.col("doc_id").isin(removed_ids))
        .where(
            F.expr("size(filter(split(text, '\\\\s+'), t -> t != '')) > 0")
        )
        .select("doc_id", simhash_expr().alias("simhash"))
        .select(
            "doc_id",
            "simhash",
            F.posexplode(F.array(*band_key_exprs("simhash"))).alias(
                "band_id", "band_key"
            ),
        )
        .select("band_id", "band_key", "doc_id", "simhash")
    )
    got = sorted(
        (r["band_id"], r["band_key"], r["doc_id"], r["simhash"])
        for r in out.collect()
    )
    want = sorted(map(tuple, rebuild.collect()))
    assert got == want and len(got) > 0


def test_oracle_corpus_substitution_is_exact():
    """Two round-11 oracles retarget a shared CTE fragment from
    `documents` to a filtered CTE via string replacement; if a future
    edit adds another `FROM documents` to those fragments, the
    substitution would silently rewrite the wrong scan.  Pin the
    occurrence count at exactly one."""
    from durablestreams_spark.operators.dedup import _SIMHASH_CTES
    from durablestreams_spark.operators.pipeline_llm import _PACK_CTES

    assert _SIMHASH_CTES.count("FROM documents") == 1
    assert _PACK_CTES.count("FROM documents") == 1


def test_exact_refresh_reelects_first_id_and_matches_rebuild(spark):
    """dedup_exact_index_refresh on the fixture: every planted removal
    deletes a group LEADER, so the graded output must contain
    re-elected first_ids (the +2^40 copies) — the case a naive
    (h, first_id) append cannot express — and equal the full rebuild
    over (derived minus removed) computed independently here."""
    from durablestreams_spark.analytics.core import all_queries
    from durablestreams_spark.operators.streaming_queries import (
        EXACT_REFRESH_COPY_OFFSET,
        EXACT_REFRESH_REMOVE_MOD,
        _exact_refresh_derived,
    )

    got = {
        r["h"]: r["first_id"]
        for r in all_queries()["dedup_exact_index_refresh"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert len(got) > 0
    reelected = [v for v in got.values() if v >= EXACT_REFRESH_COPY_OFFSET]
    assert len(reelected) > 0, "no re-elected leader — the proof is vacuous"

    want = {
        r["h"]: r["first_id"]
        for r in _exact_refresh_derived(spark, "/root/testdata/sf0.001")
        .where(F.col("doc_id") % EXACT_REFRESH_REMOVE_MOD != 0)
        .groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("first_id"))
        .collect()
    }
    assert got == want


def test_exact_refresh_never_rereads_the_corpus_text(spark, tmp_path):
    """refresh_exact_index O(delta) pinned structurally: build base
    postings, DELETE the corpus parquet, refresh from a delta file —
    and verify tombstone + append + re-election on the postings."""
    from durablestreams_spark.operators.streaming_queries import (
        refresh_exact_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    dup_text = "shared duplicate content words here"
    rows = [(i, f"base document {i} unique words") for i in base_ids[:8]]
    rows += [(base_ids[8], dup_text), (base_ids[9], dup_text)]
    _write_docs(corpus, rows)
    docs = spark.read.parquet(str(corpus)).select("doc_id", "text")
    idx_p = str(tmp_path / "postings.parquet")
    docs.selectExpr("md5(text) AS h", "doc_id").write.parquet(idx_p)
    os.remove(corpus)  # the refresh must survive the corpus vanishing

    delta_file = tmp_path / "delta.parquet"
    _write_docs(
        delta_file,
        [(i, f"new arrival {i} fresh words") for i in delta_ids[:4]],
    )
    delta = spark.read.parquet(str(delta_file)).select("doc_id", "text")
    # remove the dup group's LEADER: min(base_ids[8], base_ids[9])
    leader = min(base_ids[8], base_ids[9])
    survivor = max(base_ids[8], base_ids[9])
    removed = spark.createDataFrame([(leader,)], "doc_id long")

    out = refresh_exact_index(spark, idx_p, delta, removed)
    assert out is not None
    first = {
        r["h"]: r["first_id"]
        for r in out.groupBy("h")
        .agg(F.min("doc_id").alias("first_id"))
        .collect()
    }
    import hashlib

    dup_h = hashlib.md5(dup_text.encode()).hexdigest()
    assert first[dup_h] == survivor, "leadership not re-elected"
    ids = {r["doc_id"] for r in out.collect()}
    assert leader not in ids and set(delta_ids[:4]) <= ids


def test_nb_refresh_merged_counts_equal_full_retrain(spark, tmp_path):
    """refresh_nb_model: merge base-split counts with the delta's and
    the result must be integer-identical to training on the union —
    the additivity that makes the model refreshable — WITHOUT
    re-reading the base corpus (deleted before the refresh)."""
    from durablestreams_spark.operators.streaming_queries import (
        refresh_nb_model,
    )
    from durablestreams_spark.operators.text import _nb_counts

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    rows = [
        (i, f"base document number {i} talks about several things and "
            f"topic {i % 7} in enough words to pass the word gates")
        for i in base_ids[:12]
    ]
    _write_docs(corpus, rows)
    base_docs = spark.read.parquet(str(corpus)).select("doc_id", "text")
    idx_p = str(tmp_path / "counts.parquet")
    _nb_counts(base_docs).write.parquet(idx_p)
    full_rows = list(rows)
    os.remove(corpus)  # refresh must survive the base corpus vanishing

    delta_file = tmp_path / "delta.parquet"
    drows = [
        (i, f"delta arrival {i} brings different vocabulary and some "
            f"more words about subject {i % 3} for the count merge")
        for i in delta_ids[:6]
    ]
    _write_docs(delta_file, drows)
    delta = spark.read.parquet(str(delta_file)).select("doc_id", "text")

    out = refresh_nb_model(spark, idx_p, delta)
    assert out is not None
    merged = {
        r["bkt"]: (r["pc"], r["nc"]) for r in out.collect()
    }
    union_file = tmp_path / "union.parquet"
    _write_docs(union_file, full_rows + drows)
    want = {
        r["bkt"]: (r["pc"], r["nc"])
        for r in _nb_counts(
            spark.read.parquet(str(union_file)).select("doc_id", "text")
        ).collect()
    }
    assert merged == want, "merged counts != full-retrain counts"


def test_nb_refresh_aborts_on_lost_guard_race(spark, tmp_path):
    """The shared _guarded_index_swap skeleton under refresh_nb_model:
    a guard advance mid-compute (racer UDF fires while the refreshed
    counts are being written) aborts with None, leaves no version
    debris, and the live artifact is untouched."""
    from pyspark.sql.functions import udf

    from durablestreams_spark.operators.streaming_queries import (
        refresh_nb_model,
    )
    from durablestreams_spark.operators.text import _nb_counts

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [(i, f"base document {i} with plenty of ordinary words here")
         for i in base_ids[:6]],
    )
    docs = spark.read.parquet(str(corpus)).select("doc_id", "text")
    idx_p = str(tmp_path / "counts.parquet")
    _nb_counts(docs).write.parquet(idx_p)
    before = sorted(map(tuple, spark.read.parquet(idx_p).collect()))

    marker = str(tmp_path / "guard")
    with open(marker, "w") as fh:
        fh.write("epoch-1")

    def racer(t):
        with open(marker, "w") as fh:
            fh.write("epoch-2-racer-won")
        return t

    race_udf = udf(racer, "string")
    delta_file = tmp_path / "delta.parquet"
    _write_docs(
        delta_file,
        [(i, f"delta doc {i} arriving with new words") for i in
         delta_ids[:3]],
    )
    delta = (
        spark.read.parquet(str(delta_file))
        .select("doc_id", race_udf("text").alias("text"))
    )
    out = refresh_nb_model(spark, idx_p, delta, guard_marker=marker)
    assert out is None, "lost race must return None"
    after = sorted(map(tuple, spark.read.parquet(idx_p).collect()))
    assert after == before, "live artifact clobbered by a lost race"
    parent = os.path.dirname(idx_p)
    base = os.path.basename(idx_p)
    versions = [
        e for e in os.listdir(parent)
        if e.startswith(base + ".v") and e != base + ".v-genesis"
    ]
    # only the genesis version (if migrated) may remain
    leftovers = [
        v for v in versions
        if os.path.realpath(os.path.join(parent, v))
        != os.path.realpath(idx_p)
    ]
    assert leftovers == [], leftovers


def test_bench_refresh_shared_shingles_survive_retirement(spark):
    """decontaminate_index_refresh on the fixture: every retired
    benchmark has a same-text surviving copy, so the graded rollup
    must show ownership drops (2 -> 1) with NO shingle disappearing —
    and equal a full rebuild computed independently here."""
    from durablestreams_spark.analytics.core import all_queries
    from durablestreams_spark.operators.pipeline_llm import (
        _BENCH_MOD,
        _shingle5_arrays,
    )
    from durablestreams_spark.operators.streaming_queries import (
        BENCH_REFRESH_COPY_OFFSET,
        BENCH_REFRESH_REMOVE_MOD,
    )

    got = {
        r["sh"]: r["n_owners"]
        for r in all_queries()["decontaminate_index_refresh"]
        .fn(spark, "/root/testdata/sf0.001")
        .collect()
    }
    assert len(got) > 0

    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    bench0 = docs.where(F.col("doc_id") % _BENCH_MOD == 0)
    derived = bench0.unionByName(
        bench0.select(
            (F.col("doc_id") + BENCH_REFRESH_COPY_OFFSET).alias("doc_id"),
            "text",
        )
    )
    retired = derived.where(
        F.col("doc_id") % BENCH_REFRESH_REMOVE_MOD == 0
    )
    assert retired.count() > 0, "no retirement in the graded fixture run"
    live = derived.where(F.col("doc_id") % BENCH_REFRESH_REMOVE_MOD != 0)
    want = {
        r["sh"]: r["n"]
        for r in _shingle5_arrays(live)
        .select("doc_id", F.explode("shs").alias("sh"))
        .groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    assert got == want
    # the survival case is non-vacuous: retired docs' shingles remain
    retired_shs = {
        r["sh"]
        for r in _shingle5_arrays(retired)
        .select(F.explode("shs").alias("sh"))
        .collect()
    }
    assert retired_shs and retired_shs <= set(got), (
        "a retired benchmark's shingles vanished despite a surviving "
        "co-owner"
    )
    assert any(got[s] == 1 for s in retired_shs), (
        "no ownership drop observed — retirement had no effect"
    )


def test_bench_refresh_never_rereads_the_suite_text(spark, tmp_path):
    """refresh_bench_shingle_index O(delta): build base postings,
    DELETE the corpus, refresh from a delta file; shared shingles of
    a retired owner survive via the co-owner's rows."""
    from durablestreams_spark.operators.pipeline_llm import (
        _shingle5_arrays,
    )
    from durablestreams_spark.operators.streaming_queries import (
        refresh_bench_shingle_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    shared = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(base_ids[0], shared), (base_ids[1], shared)]
    rows += [
        (i, f"benchmark {i} question about topic {i % 3} with words")
        for i in base_ids[2:6]
    ]
    _write_docs(corpus, rows)
    docs = spark.read.parquet(str(corpus)).select("doc_id", "text")
    idx_p = str(tmp_path / "postings.parquet")
    (
        _shingle5_arrays(docs)
        .select("doc_id", F.explode("shs").alias("sh"))
        .write.parquet(idx_p)
    )
    os.remove(corpus)

    delta_file = tmp_path / "delta.parquet"
    _write_docs(
        delta_file,
        [(delta_ids[0], "brand new benchmark with its own five words")],
    )
    delta = spark.read.parquet(str(delta_file)).select("doc_id", "text")
    removed = spark.createDataFrame([(base_ids[0],)], "doc_id long")

    out = refresh_bench_shingle_index(spark, idx_p, delta, removed)
    assert out is not None
    owners = {
        r["sh"]: r["n"]
        for r in out.groupBy("sh")
        .agg(F.countDistinct("doc_id").alias("n"))
        .collect()
    }
    # the shared doc's shingles survive at ownership 1
    first_shared = " ".join(shared.split()[:5])
    assert owners.get(first_shared) == 1, owners.get(first_shared)
    ids = {r["doc_id"] for r in out.collect()}
    assert base_ids[0] not in ids and delta_ids[0] in ids


def test_live_reader_across_concurrent_guarded_swap(spark, tmp_path):
    """The interaction the refresh lifecycle exists for: a LIVE
    foreachBatch reader re-resolves the symlink-versioned index every
    micro-batch while a refresher swaps it mid-stream.  Every read
    must be COMPLETE (old version or new version, never a partial
    file list — 4 band rows per doc is the completeness witness),
    batch 0 serves the genesis version, and every batch after the
    swap serves the refreshed one (delta doc present, tombstoned doc
    absent)."""
    from durablestreams_spark.operators.streaming_queries import (
        _await_and_audit,
        _delta_replay_stream,
        SIMHASH_FAMILY,
        _band_index_path,
        refresh_band_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [(i, f"base document {i} about subject {i % 4} words")
         for i in base_ids[:10]],
    )
    base_p = _band_index_path(SIMHASH_FAMILY, spark, str(tmp_path), base=True)
    live_idx = str(tmp_path / "live_index.parquet")
    shutil.copytree(base_p, live_idx + ".v-genesis")
    os.symlink(live_idx + ".v-genesis", live_idx)

    new_id, removed_id = delta_ids[0], base_ids[0]
    refresh_delta = spark.createDataFrame(
        [(new_id, "a completely new arrival with fresh refresh words")],
        "doc_id long, text string",
    )
    removed = spark.createDataFrame([(removed_id,)], "doc_id long")
    reads: list = []

    def _serve(batch_df, epoch_id):
        sess = batch_df.sparkSession
        idx = sess.read.parquet(live_idx)
        docs = {r["doc_id"] for r in idx.select("doc_id").distinct().collect()}
        reads.append(
            (int(epoch_id), os.path.realpath(live_idx), idx.count(), docs)
        )
        if int(epoch_id) == 0:
            out = refresh_band_index(
                SIMHASH_FAMILY, sess, live_idx, refresh_delta, removed
            )
            assert out is not None

    run_dir = str(tmp_path / "swapserve")
    stream_docs = spark.createDataFrame(
        [(i, f"stream traffic {i}") for i in delta_ids[1:9]],
        "doc_id long, text string",
    )
    _await_and_audit(
        _delta_replay_stream(spark, run_dir, stream_docs),
        _serve,
        run_dir,
        {},
        os.path.join(run_dir, "appended"),
    )

    assert len(reads) >= 2, reads
    # every read complete: exactly 4 band rows per distinct doc
    for _e, _v, n_rows, docs in reads:
        assert n_rows == 4 * len(docs), (n_rows, len(docs))
    # batch 0 served genesis; post-swap batches serve the refreshed set
    assert reads[0][1].endswith(".v-genesis"), reads[0][1]
    assert removed_id in reads[0][3] and new_id not in reads[0][3]
    for e, v, _n, docs in reads[1:]:
        assert not v.endswith(".v-genesis"), (e, v)
        assert new_id in docs and removed_id not in docs, (e, docs)


def test_pixel_refresh_never_redecodes_the_corpus(spark, tmp_path):
    """The pixel index's O(delta) refresh, pinned structurally: build
    the base-split pixel band index, DELETE the corpus parquet, then
    refresh with a delta supplied as bare ids — success is only
    possible if the refresh touches nothing but the index rows and
    the delta (historical images never re-decoded)."""
    from durablestreams_spark.operators.streaming_queries import (
        PIXEL_FAMILY,
        _band_index_path,
        refresh_band_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [(i, f"pixel base doc {i}") for i in base_ids[:20]],
    )
    base_p = _band_index_path(PIXEL_FAMILY, spark, str(tmp_path), base=True)
    os.remove(corpus)

    idx_p = str(tmp_path / "live_px_index.parquet")
    shutil.copytree(base_p, idx_p)
    delta = spark.createDataFrame(
        [(i,) for i in delta_ids[:5]], "doc_id long"
    )
    removed_id = base_ids[0]
    removed = spark.createDataFrame([(removed_id,)], "doc_id long")

    out = refresh_band_index(PIXEL_FAMILY, spark, idx_p, delta, removed)
    assert out is not None
    ids = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert set(delta_ids[:5]) <= ids, "delta band rows not appended"
    assert removed_id not in ids, "tombstone not applied"
    assert set(base_ids[1:20]) <= ids, "surviving base rows lost"
    # 4 bands per doc, exactly once each
    assert out.count() == 4 * len(ids)


def test_audio_refresh_never_redecodes_the_corpus(spark, tmp_path):
    """The audio index's O(delta) refresh, pinned structurally: build
    the base-split audio band index, DELETE the corpus parquet, then
    refresh with a delta supplied as bare ids — success is only
    possible if the refresh touches nothing but the index rows and
    the delta (historical recordings never re-decoded)."""
    from durablestreams_spark.operators.multimodal import AUDIO_MOD
    from durablestreams_spark.operators.streaming_queries import (
        AUDIO_FAMILY,
        _band_index_path,
        refresh_band_index,
    )

    base_ids, delta_ids = _base_delta_ids()
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [(i, f"audio base doc {i}") for i in base_ids[:40]],
    )
    base_p = _band_index_path(AUDIO_FAMILY, spark, str(tmp_path), base=True)
    os.remove(corpus)

    idx_p = str(tmp_path / "live_au_index.parquet")
    shutil.copytree(base_p, idx_p)
    delta_sampled = [i for i in delta_ids if i % AUDIO_MOD == 0][:4]
    assert delta_sampled, "fixture has no sampled delta ids"
    delta = spark.createDataFrame(
        [(i,) for i in delta_sampled], "doc_id long"
    )
    base_sampled = [i for i in base_ids[:40] if i % AUDIO_MOD == 0]
    assert base_sampled, "fixture has no sampled base ids"
    removed_id = base_sampled[0]
    removed = spark.createDataFrame([(removed_id,)], "doc_id long")

    out = refresh_band_index(AUDIO_FAMILY, spark, idx_p, delta, removed)
    assert out is not None
    ids = {r["doc_id"] for r in out.select("doc_id").distinct().collect()}
    assert set(delta_sampled) <= ids, "delta band rows not appended"
    assert removed_id not in ids, "tombstone did not retire the doc"
    assert set(base_sampled[1:]) <= ids, "surviving base rows lost"
    # every doc's 2-3 variants carry 4 band rows each; removal
    # retired ALL of the removed doc's variants
    assert (
        out.where(out.media_id % (1 << 42) == removed_id).count() == 0
    )


@pytest.mark.parametrize(
    "family", ["SIMHASH_FAMILY", "PIXEL_FAMILY", "AUDIO_FAMILY"]
)
def test_refresh_with_overlapping_delta_matches_full_rebuild(
    spark, tmp_path, family
):
    """A re-run or an overlapping delta is idempotent for every family:
    a delta that re-lists every already-indexed doc next to the new
    ones appends postings for the new docs only, so the refreshed
    index equals a full rebuild over base UNION new — no doc's band
    rows twice."""
    from durablestreams_spark.operators import streaming_queries as sq

    fam = getattr(sq, family)
    base_ids, delta_ids = _base_delta_ids()
    new_ids = delta_ids[:12]
    assert any(i % 5 == 0 for i in new_ids)  # audio samples doc_id % 5
    corpus = tmp_path / "documents.parquet"
    _write_docs(
        corpus,
        [
            (i, f"document {i} about subject {i % 3} with some words")
            for i in base_ids[:30] + new_ids
        ],
    )
    base_p = sq._band_index_path(fam, spark, str(tmp_path), base=True)
    idx_p = str(tmp_path / "live_index.parquet")
    shutil.copytree(base_p, idx_p)
    # the base artifact lives under /tmp, keyed by this test's dir name
    shutil.rmtree(sq.cache_root(fam.base.base, str(tmp_path)))

    docs = spark.read.parquet(str(corpus))
    removed = spark.createDataFrame([], "doc_id long")
    out = sq.refresh_band_index(fam, spark, idx_p, docs, removed)

    got = sorted(map(tuple, out.select(*fam.index_cols).collect()))
    want = sorted(
        map(tuple, sq._doc_bands(fam, docs).select(*fam.index_cols).collect())
    )
    assert got == want and len(got) > 0
