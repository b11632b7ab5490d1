"""Online near-dup detection (streaming_dedup_neardup).

The LIVE serving path must (a) compute signatures bit-identically to
the batch SimHash, (b) find EXACTLY the all-pairs hamming<=3 truth —
the pigeonhole claim that 4x8-bit banding has perfect recall at the
graded threshold — and (c) stay completely stateless on the stream
side, joining the PERSISTED batch-built index.
"""

import os

import pytest
from pyspark.sql import functions as F

from durablestreams_spark.analytics.core import all_queries

SF_DIR = "/root/testdata/sf0.001"


def test_rowlocal_simhash_matches_batch(spark):
    """simhash_expr (the stream-side row-local fold) must equal
    dedup_simhash (the batch shuffle aggregate) bit-for-bit: a sum of
    ±1 over every token occurrence equals the per-distinct-token
    w·(±1) sum, and both use the same md5-prefix token hash."""
    from pyspark.sql import functions as F

    from durablestreams_spark.operators.dedup import (
        dedup_simhash,
        simhash_expr,
    )

    batch = dedup_simhash(spark, SF_DIR)
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rl = docs.where(
        F.expr("size(filter(split(text, '\\\\s+'), t -> t != '')) > 0")
    ).select("doc_id", simhash_expr().alias("simhash"))
    joined = batch.alias("b").join(rl.alias("r"), "doc_id", "full")
    assert (
        joined.where("b.simhash IS DISTINCT FROM r.simhash").count() == 0
    )
    assert batch.count() == rl.count() > 0


def test_streaming_neardup_equals_allpairs_truth(spark):
    """The drained banded output must equal the TRUE all-pairs
    hamming<=NEARDUP_MAX_HAMMING set computed in Python from the
    batch signatures — banding is exact recall (pigeonhole:
    hamming <= 3 < 4 bands forces one whole agreeing band), not an
    approximation, and the min-band predicate emits each pair exactly
    once."""
    from durablestreams_spark.operators.dedup import (
        NEARDUP_MAX_HAMMING,
        dedup_simhash,
    )

    sigs = {
        r.doc_id: r.simhash
        for r in dedup_simhash(spark, SF_DIR).collect()
    }
    ids = sorted(sigs)
    want = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            h = bin(sigs[a] ^ sigs[b]).count("1")
            if h <= NEARDUP_MAX_HAMMING:
                want[(b, a)] = h  # (doc_id, dup_of) with dup_of < doc_id
    live = all_queries()["streaming_dedup_neardup"].fn(spark, SF_DIR)
    rows = live.collect()
    got = {(r.doc_id, r.dup_of): r.hamming for r in rows}
    assert len(rows) == len(got), "a pair was emitted more than once"
    assert got == want
    assert len(want) > 0


def test_neardup_stream_is_stateless_and_index_is_persisted(spark):
    """Plan audit: the streaming side carries NO aggregation state, no
    watermark, no dropDuplicates — detection throughput must be scan
    throughput — and the static join side scans the persisted
    signature artifact (train-once/serve-many), not a live signature
    recompute."""
    from durablestreams_spark.operators.streaming_queries import (
        SIMHASH_FAMILY,
        _band_index_path,
        _neardup_stream_df,
    )

    sdf = _neardup_stream_df(spark, SF_DIR)
    assert sdf.isStreaming
    analyzed = sdf._jdf.queryExecution().analyzed().toString()
    for forbidden in (
        "Aggregate",
        "EventTimeWatermark",
        "Deduplicate",
        "FlatMapGroups",
    ):
        assert forbidden not in analyzed, forbidden
    # exactly one streaming relation (the docs stream), one static side
    assert analyzed.count("StreamingRelation") == 1
    # the static side is the persisted artifact under the cache root
    idx = spark.read.parquet(
        _band_index_path(SIMHASH_FAMILY, spark, SF_DIR, base=False)
    )
    files = idx.inputFiles()
    assert files and all(
        "/durablestreams_neardup_v1/" in f for f in files
    )
    # and the joined plan's batch leaf reads that artifact, not a live
    # signature recompute over documents.parquet
    leaves = sdf._jdf.queryExecution().analyzed().collectLeaves()
    batch_paths = []
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() == "LogicalRelation":
            roots = leaf.relation().location().rootPaths()
            batch_paths += [
                roots.apply(j).toString() for j in range(roots.size())
            ]
    assert batch_paths and all(
        "/durablestreams_neardup_v1/" in p for p in batch_paths
    ), batch_paths


def test_neardup_index_cache_invalidates_on_params(spark, tmp_path):
    """The marker protocol: a fingerprint/params mismatch rebuilds
    rather than serving a stale index (the cache_marker doctrine)."""
    from durablestreams_spark.operators.cache_marker import (
        marker_current,
        write_marker,
    )
    from durablestreams_spark.operators.streaming_queries import (
        SIMHASH_FAMILY,
        _band_index_path,
    )

    _band_index_path(SIMHASH_FAMILY, spark, SF_DIR, base=False)
    root = os.path.join(
        "/tmp/durablestreams_neardup_v1",
        os.path.basename(os.path.normpath(SF_DIR)),
    )
    marker = os.path.join(root, "_built")
    assert os.path.exists(marker)
    # current params validate; a different geometry tag must not
    with open(marker) as fh:
        content = fh.read()
    assert ":v1" in content
    write_marker(marker, SF_DIR, name="documents", params="other:v9")
    assert not marker_current(
        marker, SF_DIR, name="documents", params="simhash32:bands4x8:v1"
    )
    # restore by rebuilding through the public path
    _band_index_path(SIMHASH_FAMILY, spark, SF_DIR, base=False)
    assert marker_current(
        marker, SF_DIR, name="documents", params="simhash32:bands4x8:v1"
    )


def test_spread_stream_directory_source_sums_data_files(spark, tmp_path):
    """r10 ADVICE: when the source path is a DIRECTORY (multi-file
    dataset — the at-scale case), the split estimate must sum the
    data files, not read the inode's ~4 KB st_size; otherwise the
    helper repartitions exactly where its contract says it must be a
    no-op."""
    from durablestreams_spark.operators.streaming_queries import (
        _spread_stream,
    )

    import pytest as _pytest

    n_par = spark.sparkContext.defaultParallelism
    d = tmp_path / "dataset.parquet"
    d.mkdir()
    # sizes chosen RELATIVE to the host's parallelism so the test
    # holds on any core count: 2 KiB files at a 1 KiB split size give
    # 2 splits each, so n_par files >= 2*n_par splits >= n_par cores.
    for i in range(n_par):
        (d / f"part-{i:05d}.snappy.parquet").write_bytes(b"x" * 2048)
    (d / "_SUCCESS").write_bytes(b"")  # marker files must not count
    # Hive-partitioned layout: data nested under key=value subdirs
    # must be summed too (a one-level scan sees 0 bytes — r11 review)
    p = tmp_path / "partitioned.parquet"
    for i in range(n_par):
        sub = p / f"shard={i}"
        sub.mkdir(parents=True)
        (sub / "part-00000.snappy.parquet").write_bytes(b"x" * 2048)

    df = spark.range(10)
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "1024")
    try:
        assert _spread_stream(df, str(d)) is df
        assert _spread_stream(df, str(p)) is df
        if n_par > 2:
            # Control: one 2 KiB file = 2 splits < cores, so the
            # single-file fixture still gets the rebalance.
            one = str(d / "part-00000.snappy.parquet")
            assert _spread_stream(df, one) is not df
        else:
            _pytest.skip("control case needs defaultParallelism > 2")
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def _ndlive_is_base(i: int) -> bool:
    import hashlib as _h

    return _h.md5(f"{i}:ndlive".encode()).hexdigest()[:2] < "cc"


def test_ndlive_new_vs_new_pair_is_flagged(spark, tmp_path):
    """The r10 blind spot, closed: a near-dup pair in which BOTH
    members are absent from the base corpus (they only ever exist in
    the stream) must be flagged — via the intra-batch self-join or
    the incremental index append, whichever way the replay batches
    them — and a base-vs-delta pair must still be flagged too."""
    from durablestreams_spark.operators import (
        streaming_queries as sq,
    )

    ids = list(range(1, 600))
    delta_ids = [i for i in ids if not _ndlive_is_base(i)]
    base_ids = [i for i in ids if _ndlive_is_base(i)]
    assert len(delta_ids) >= 10 and len(base_ids) >= 3

    dup_text = "alpha beta gamma delta epsilon zeta"
    cross_text = "the quick brown fox jumps over the lazy dog"
    # 8 identical delta docs: their 28 pairs are all new-vs-new, and
    # with 4 replay slices some land in different micro-batches, so
    # finding ALL of them exercises both detection paths.
    clones = delta_ids[:8]
    loner = delta_ids[8]
    b_dup = base_ids[0]
    rows = [(i, dup_text) for i in clones]
    rows.append((loner, cross_text))
    rows.append((b_dup, cross_text))  # base member of a base-delta pair
    rows += [
        (i, f"unique filler document number {i} with its own words")
        for i in base_ids[1:3]
    ]
    # Single-FILE parquet like the driver fixtures (the cache marker
    # fingerprints the file, and table() reads sf_dir/documents.parquet).
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table(
            {
                "doc_id": pa.array([r[0] for r in rows], pa.int64()),
                "text": pa.array([r[1] for r in rows], pa.string()),
                "lang": pa.array(["en"] * len(rows), pa.string()),
                "source": pa.array(["synthetic"] * len(rows), pa.string()),
                "n_chars": pa.array(
                    [len(r[1]) for r in rows], pa.int64()
                ),
            }
        ),
        str(tmp_path / "documents.parquet"),
    )

    out = sq.streaming_dedup_neardup_live(spark, str(tmp_path))
    got = {(r["doc_id"], r["dup_of"]) for r in out.collect()}

    expect_nn = {
        (max(a, b), min(a, b))
        for i, a in enumerate(clones)
        for b in clones[i + 1:]
    }
    assert expect_nn <= got, "new-vs-new pairs missed"
    assert (max(loner, b_dup), min(loner, b_dup)) in got, (
        "base-vs-delta pair missed"
    )
    # every emitted pair is a true near-dup at the graded threshold
    assert all(h <= 3 for h in (r["hamming"] for r in out.collect()))


def test_ndlive_run_is_multi_batch_and_stateless(spark):
    """Audit (VERDICT r10 task 1 'done' criterion): the graded run
    must actually span multiple micro-batches (else the index-append
    path is dead code), carry ZERO streaming state operators (no
    watermark, no state store — detection is scan throughput), and
    grow the run-local appended index."""
    from durablestreams_spark.operators import (
        streaming_queries as sq,
    )

    out = sq.streaming_dedup_neardup_live(spark, SF_DIR)
    n = out.count()
    assert n > 0
    audit = sq._NDLIVE_LAST_RUN
    assert audit["n_batches"] >= 2, audit
    assert audit["state_operators"] == [], audit
    assert len(audit["appended_files"]) >= audit["n_batches"]

    # New-vs-new pairs are present in the graded output itself: both
    # members outside the base split.
    pairs = [(r["doc_id"], r["dup_of"]) for r in out.collect()]
    nn = [
        p
        for p in pairs
        if not _ndlive_is_base(p[0]) and not _ndlive_is_base(p[1])
    ]
    assert len(nn) > 0, "no new-vs-new pair in the graded fixture run"


def test_gate_live_stateless_multibatch_and_neardup_flags(spark):
    """streaming_ingest_gate_live on the fixture: multi-batch,
    zero streaming state, near-dup flags present (the fixture has
    hundreds of near-dup pairs), keep = composition of the flags."""
    from durablestreams_spark.operators import (
        streaming_queries as sq,
    )

    out = sq.streaming_ingest_gate_live(spark, SF_DIR).collect()
    assert len(out) > 0
    audit = sq._GATE_LIVE_LAST_RUN
    assert audit["n_batches"] >= 2, audit
    assert audit["state_operators"] == [], audit
    assert len(audit["appended_files"]) >= audit["n_batches"]
    # the single-append shape (r13 task 5): EVERY side effect of a
    # micro-batch lands in ONE fused kind-discriminated epoch write —
    # exactly one write job per executed batch, never one per arm
    assert audit["n_epoch_writes"] == audit["n_batches"], audit
    assert any(r["near_dup"] for r in out), "no near-dup flag at sf0.001"
    assert any(r["contaminated"] for r in out), (
        "no contamination flag at sf0.001 — the fused screen is vacuous"
    )
    for r in out:
        assert r["keep"] == (
            (not r["exact_dup"])
            and (not r["near_dup"])
            and (not r["pixel_dup"])
            and (not r["audio_dup"])
            and (not r["contaminated"])
            and r["gopher_keep"]
            and r["nb_logit"] > 0
        )
    assert any(r["pixel_dup"] for r in out), (
        "no pixel-dup flag at sf0.001 — the binary-modality rung is "
        "vacuous"
    )
    assert any(r["audio_dup"] for r in out), (
        "no audio-dup flag at sf0.001 — the seventh rung is vacuous"
    )


def test_gate_live_flags_new_vs_new_exact_dups(spark, tmp_path):
    """The exact-dup arm of the r10 blind spot: a content group that
    exists ONLY in the delta (nothing in the base hash index) must
    flag every member except the smallest id — whichever way the
    replay batches them (same-batch self-join, cross-batch via the
    appended index, or retro when the smallest arrives last)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from durablestreams_spark.operators import (
        streaming_queries as sq,
    )

    ids = list(range(1, 900))
    delta_ids = [i for i in ids if not _ndlive_is_base(i)]
    base_ids = [i for i in ids if _ndlive_is_base(i)]
    clone_text = (
        "the committee reviewed the annual budget report and found "
        "that spending on infrastructure had increased while other "
        "departments held steady through the fiscal year"
    )
    clones = delta_ids[:6]
    rows = [(i, clone_text) for i in clones]
    # filler docs (both splits) with distinct text so NB training and
    # the gopher gate see a varied corpus
    fillers = delta_ids[6:16] + base_ids[:10]
    for i in fillers:
        rows.append(
            (
                i,
                f"document {i} talks about weather patterns in region "
                f"{i % 7} where rainfall was recorded at station "
                f"{i * 3} during the spring season of measurement",
            )
        )
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
        str(tmp_path / "documents.parquet"),
    )

    out = {
        r["doc_id"]: r
        for r in sq.streaming_ingest_gate_live(
            spark, str(tmp_path)
        ).collect()
    }
    mn = min(clones)
    for c in clones:
        assert out[c]["exact_dup"] == (c != mn), (c, mn, out[c])
    # identical text is also hamming-0: every non-min clone near-dup
    for c in clones:
        assert out[c]["near_dup"] == (c != mn)
    for i in [f for f in fillers if f in out]:
        assert not out[i]["exact_dup"]


def test_ingest_report_reasons_partition_and_state_is_bounded(spark):
    """streaming_ingest_report: per-source reason counts must
    partition n_docs exactly (first-failing-reason ladder), and the
    only streaming state is the complete-mode rollup — O(#sources)
    rows, the quality-monitor contract."""
    from durablestreams_spark.operators import streaming_queries as sq

    rows = sq.streaming_ingest_report(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert (
            r["n_exact_dup"]
            + r["n_near_dup"]
            + r["n_pixel_dup"]
            + r["n_audio_dup"]
            + r["n_contaminated"]
            + r["n_gopher_fail"]
            + r["n_nb_fail"]
            + r["n_admitted"]
            == r["n_docs"]
        ), r
    # the fixture has near-dups and quality failures, so the report
    # is non-trivial in at least those reason columns
    assert sum(r["n_near_dup"] for r in rows) > 0
    assert sum(r["n_admitted"] for r in rows) > 0


def test_decontaminate_gate_covers_every_doc_and_matches_batch(spark):
    """streaming_decontaminate_gate: a verdict row for EVERY screened
    corpus doc (>= 5 words, non-eval), offender set identical to the
    batch text_decontaminate report, multi-batch and stateless."""
    from durablestreams_spark.analytics.core import all_queries
    from durablestreams_spark.operators import streaming_queries as sq

    rows = {
        r["doc_id"]: r
        for r in sq.streaming_decontaminate_gate(spark, SF_DIR).collect()
    }
    assert len(rows) > 0
    audit = sq._DECON_LIVE_LAST_RUN
    assert audit["n_batches"] >= 2, audit
    assert audit["state_operators"] == [], audit

    batch = {
        r["doc_id"]: r
        for r in all_queries()["text_decontaminate"]
        .fn(spark, SF_DIR)
        .collect()
    }
    live_offenders = {d for d, r in rows.items() if r["contaminated"]}
    assert live_offenders == set(batch), "offender sets diverge"
    for d in live_offenders:
        assert rows[d]["n_hit"] == batch[d]["n_hit"]
        assert rows[d]["n_shingles"] == batch[d]["n_shingles"]
    # gate answers for non-offenders too (the batch report doesn't)
    assert any(not r["contaminated"] for r in rows.values())


def _emblive_is_base(i: int) -> bool:
    import hashlib as _h

    return _h.md5(f"{i}:emblive".encode()).hexdigest()[:2] < "cc"


def test_emblive_run_is_multi_batch_stateless_and_covers_both_paths(spark):
    """streaming_embedding_dedup_live audit (VERDICT r11 task 1 'done'
    criterion): the graded run spans multiple micro-batches, carries
    ZERO streaming state operators, appends the run-local index per
    batch, and the graded output contains BOTH provenance classes —
    delta-vs-base pairs (the stream-static band join) and
    delta-vs-delta pairs (the self-join / incremental-append paths,
    the modality's new-vs-new blind spot this operator closes)."""
    from durablestreams_spark.operators import streaming_queries as sq
    from durablestreams_spark.operators.dedup import (
        COSINE_TIGHT_THRESHOLD,
    )

    out = sq.streaming_embedding_dedup_live(spark, SF_DIR)
    rows = out.collect()
    assert len(rows) > 0
    audit = sq._EMBLIVE_LAST_RUN
    assert audit["n_batches"] >= 2, audit
    assert audit["state_operators"] == [], audit
    assert len(audit["appended_files"]) >= audit["n_batches"]
    # exactly-once: no pair emitted twice across batches
    pairs = [(r["vec_id"], r["dup_of"]) for r in rows]
    assert len(pairs) == len(set(pairs)), "a pair was emitted twice"
    # no base-base pair (the historical index covers those), and both
    # live provenance classes occur
    classes = {
        (_emblive_is_base(a), _emblive_is_base(b)) for a, b in pairs
    }
    assert (True, True) not in classes, "base-base pair leaked"
    assert (
        (False, False) in classes
    ), "no delta-delta (new-vs-new) pair in the graded fixture run"
    assert any(
        True in c for c in classes
    ), "no delta-vs-base pair in the graded fixture run"
    # every emitted pair clears the production threshold
    assert all(r["cos"] >= COSINE_TIGHT_THRESHOLD - 1e-4 for r in rows)


def test_gate_resume_kill_fires_and_result_matches_uninterrupted(spark):
    """streaming_ingest_gate_resume: the injected crash genuinely
    fired mid-stream (the first attempt committed fewer batches than
    the stream holds), the restart drained the remainder from the
    SAME checkpoint, and the assembled admission record is row-for-row
    identical to an uninterrupted streaming_ingest_gate_live run —
    exactly-once made observable."""
    from durablestreams_spark.operators import streaming_queries as sq

    resumed = {
        r["doc_id"]: tuple(r)
        for r in sq.streaming_ingest_gate_resume(spark, SF_DIR).collect()
    }
    audit = sq._GATE_RESUME_LAST_RUN
    assert audit.get("killed") is True
    # the first attempt was genuinely PARTIAL: the checkpoint commit
    # log held fewer epochs at kill time than the stream's slices
    assert 0 < audit["first_run_committed"] < sq._NDLIVE_FILES, audit
    # the resumed drain processed at least the victim batch
    assert audit["n_batches"] >= 1, audit
    assert audit["state_operators"] == [], audit
    clean = {
        r["doc_id"]: tuple(r)
        for r in sq.streaming_ingest_gate_live(spark, SF_DIR).collect()
    }
    assert resumed == clean, "crash was observable in the delivered data"


def test_budget_gate_enforces_and_partitions(spark):
    """streaming_ingest_gate_budget: the sixth rung's invariants the
    hash gate alone doesn't make visible — (a) reason counts
    partition n_arrivals in every (source, epoch) cell; (b) every
    source with a nonzero allocation EXHAUSTS its budget during the
    replay (the by-construction bite: replays = cap + 1); (c) the
    gate never overspends (sum admitted_tokens <= alloc, per source);
    (d) once exhausted a source admits nothing in later epochs (the
    cutoff is monotone); (e) the topology is stateless multi-batch
    (one batch per epoch, no streaming state store)."""
    from collections import defaultdict

    from durablestreams_spark.operators import streaming_queries as sq

    out = sq.streaming_ingest_gate_budget(spark, SF_DIR).collect()
    assert len(out) > 0
    audit = sq._GATE_BUDGET_LAST_RUN
    assert audit["n_batches"] == sq._BUDGET_REPLAYS, audit
    assert audit["state_operators"] == [], audit
    spent = defaultdict(int)
    alloc = {}
    exhausted_at = {}
    for r in out:
        parts = (
            r["n_exact_dup"]
            + r["n_near_dup"]
            + r["n_pixel_dup"]
            + r["n_audio_dup"]
            + r["n_contaminated"]
            + r["n_gopher_fail"]
            + r["n_nb_fail"]
            + r["n_budget_exhausted"]
            + r["n_admitted"]
        )
        assert parts == r["n_arrivals"], r
        spent[r["source"]] += r["admitted_tokens"]
        alloc[r["source"]] = r["alloc_tokens"]
        if r["n_budget_exhausted"] > 0 and r["source"] not in exhausted_at:
            exhausted_at[r["source"]] = r["epoch"]
    for s, a in alloc.items():
        assert spent[s] <= a, (s, spent[s], a)
        if a > 0:
            assert s in exhausted_at, f"{s} never exhausted (alloc {a})"
    # monotone cutoff: after the first epoch with an exhaustion and
    # zero admissions, no later epoch admits
    by_src = defaultdict(list)
    for r in out:
        by_src[r["source"]].append(r)
    for s, rows in by_src.items():
        rows.sort(key=lambda r: r["epoch"])
        closed = False
        for r in rows:
            if closed:
                assert r["n_admitted"] == 0, (s, r)
            if r["n_budget_exhausted"] > 0 and r["n_admitted"] == 0:
                closed = True


def test_budget_gate_rerun_is_byte_identical(spark):
    """The budget cutoff is a pure function of the data — two
    independent drains must agree row for row."""
    from durablestreams_spark.operators import streaming_queries as sq

    a = sorted(map(tuple, sq.streaming_ingest_gate_budget(spark, SF_DIR).collect()))
    b = sorted(map(tuple, sq.streaming_ingest_gate_budget(spark, SF_DIR).collect()))
    assert a == b and len(a) > 0


def test_gate_shard_delivery_identity(spark):
    """The admission→delivery seam (r13 task 1): per source the gate
    never overspends (within_alloc pinned TRUE), the WRITTEN shard
    files carry exactly the decision record's admitted token total
    (tokens_match pinned TRUE), and the per-source economics agree
    with the budget gate's own report — the two halves of the
    pipeline observe one truth."""
    from collections import defaultdict

    from durablestreams_spark.operators import streaming_queries as sq

    deliv = sq.streaming_gate_shard_delivery(spark, SF_DIR).collect()
    assert len(deliv) > 0
    for r in deliv:
        assert r["within_alloc"], r
        assert r["tokens_match"], r
    rep = sq.streaming_ingest_gate_budget(spark, SF_DIR).collect()
    rep_adm = defaultdict(int)
    for r in rep:
        rep_adm[r["source"]] += r["admitted_tokens"]
    for r in deliv:
        assert rep_adm[r["source"]] == r["admitted_tokens"], r
    assert deliv[0]["shard_tokens"] == sum(rep_adm.values())


def test_shards_from_gate_rerun_is_byte_identical(spark):
    """The gate-fed shard set is a pure function of the data: the
    decision record is batching-independent and the shuffle is
    seeded, so two independent drain+write runs must produce the
    same manifest byte for byte."""
    from durablestreams_spark.operators import streaming_queries as sq

    a = sorted(
        map(tuple, sq.streaming_shards_from_gate(spark, SF_DIR).collect())
    )
    b = sorted(
        map(tuple, sq.streaming_shards_from_gate(spark, SF_DIR).collect())
    )
    assert a == b and len(a) > 0


def test_gate_shards_close_rerun_discards_partial_write(spark):
    """Crash-and-rerun for the gate→shard CLOSE (r14 task 5): a
    marker-less shards dir holding a genuinely partial write must be
    discarded and rebuilt — the rerun manifest equals the
    uninterrupted close, and the audit proves the wreckage existed
    (partial rows written, no marker before, marker after)."""
    from durablestreams_spark.operators import streaming_queries as sq

    man = sorted(
        map(
            tuple,
            sq.streaming_shards_from_gate_resume(spark, SF_DIR).collect(),
        )
    )
    audit = dict(sq._GATE_SHARDS_RESUME_LAST_RUN)
    assert audit["partial_rows"] > 0, audit
    assert audit["marker_before"] is False, audit
    assert audit["marker_after"] is True, audit
    assert audit["final_rows"] != audit["partial_rows"], audit
    clean = sorted(
        map(tuple, sq.streaming_shards_from_gate(spark, SF_DIR).collect())
    )
    assert man == clean and len(man) > 0


def test_bpe_gate_unit_genuinely_differs(spark):
    """The BPE-unit gate (r14 task 3) must share the whitespace
    gate's seven-signal ladder exactly (signals are unit-independent)
    while its plan/allocation genuinely differs — BPE merges compress
    sources non-uniformly, so identical allocs would mean the unit
    switch silently didn't happen."""
    from durablestreams_spark.operators import streaming_queries as sq

    words = {
        (r["source"], r["epoch"]): r
        for r in sq.streaming_ingest_gate_budget(spark, SF_DIR).collect()
    }
    bpe = {
        (r["source"], r["epoch"]): r
        for r in sq.streaming_ingest_gate_budget_bpe(
            spark, SF_DIR
        ).collect()
    }
    assert set(words) == set(bpe) and len(words) > 0
    for k in words:
        for c in (
            "n_arrivals",
            "n_exact_dup",
            "n_near_dup",
            "n_pixel_dup",
            "n_audio_dup",
            "n_contaminated",
            "n_gopher_fail",
            "n_nb_fail",
        ):
            assert words[k][c] == bpe[k][c], (k, c)
    assert any(
        words[k]["alloc_tokens"] != bpe[k]["alloc_tokens"] for k in words
    ), "BPE and whitespace allocations are identical — unit vacuous"
    assert any(
        words[k]["admitted_tokens"] != bpe[k]["admitted_tokens"]
        for k in words
    )


def test_budget_gate_resume_matches_uninterrupted(spark):
    """Kill-and-resume for the budget gate (r13 task 2): the crash
    lands AFTER the victim epoch's decision+ledger writes and BEFORE
    its commit — the replay must ignore the orphaned ledger epoch
    (before_epoch guard) instead of double-counting spend.  The
    resumed run's report must equal an uninterrupted run's row for
    row, and the commit log must prove the first attempt was
    genuinely partial."""
    from durablestreams_spark.operators import streaming_queries as sq

    resumed = sorted(
        map(
            tuple,
            sq.streaming_ingest_gate_budget_resume(spark, SF_DIR).collect(),
        )
    )
    audit = dict(sq._GATE_BUDGET_RESUME_LAST_RUN)
    assert audit["killed"] is True
    assert 0 < audit["first_run_committed"] < sq._BUDGET_REPLAYS, audit
    clean = sorted(
        map(tuple, sq.streaming_ingest_gate_budget(spark, SF_DIR).collect())
    )
    assert resumed == clean and len(resumed) > 0


def test_budget_gate_resume_rejects_other_tok_unit(spark, tmp_path):
    """The _staged marker records the token unit: a run killed under
    'words' must refuse a 'bpe' resume (its persisted n_tok and
    ledger count words), and the refusal must leave the run intact —
    a 'words' resume still equals the clean run."""
    from durablestreams_spark.operators import streaming_queries as sq

    run_dir = str(tmp_path / "words_run")
    audit: dict = {}
    with pytest.raises(Exception, match="injected mid-stream kill"):
        sq._budget_gate_drain(
            spark, SF_DIR, run_dir, audit, kill_epoch=2, persist_ann=True
        )
    with pytest.raises(ValueError, match="staged with tok_unit 'words'"):
        sq._budget_gate_drain(
            spark, SF_DIR, run_dir, audit, tok_unit="bpe", persist_ann=True
        )
    dec_path = sq._budget_gate_drain(
        spark, SF_DIR, run_dir, audit, persist_ann=True
    )
    resumed = sorted(
        map(
            tuple,
            sq._gate_budget_report(sq._epoch_read(spark, dec_path)).collect(),
        )
    )
    clean = sorted(
        map(tuple, sq.streaming_ingest_gate_budget(spark, SF_DIR).collect())
    )
    assert resumed == clean and len(resumed) > 0


def test_budget_gate_restages_after_partial_staging(spark, tmp_path):
    """The _staged marker guard (r14 review fix): a run_dir whose
    delta dir exists but holds only a PARTIAL epoch set (a crash
    mid-staging) must be re-staged from scratch, not drained as-is —
    the report must equal a clean run's."""
    import os

    from durablestreams_spark.operators import streaming_queries as sq

    clean = sorted(
        map(tuple, sq.streaming_ingest_gate_budget(spark, SF_DIR).collect())
    )
    run_dir = str(tmp_path / "partial_run")
    stream_dir = os.path.join(run_dir, "delta")
    os.makedirs(stream_dir)
    # a truncated staging attempt: one bogus epoch file, NO marker
    with open(os.path.join(stream_dir, "epoch0.parquet"), "wb") as fh:
        fh.write(b"not a real epoch file")
    audit: dict = {}
    dec_path = sq._budget_gate_drain(spark, SF_DIR, run_dir, audit)
    out = sorted(
        map(
            tuple,
            sq._gate_budget_report(
                sq._epoch_read(spark, dec_path)
            ).collect(),
        )
    )
    assert out == clean and len(out) > 0
    assert audit["n_batches"] == sq._BUDGET_REPLAYS, audit
    assert os.path.exists(os.path.join(run_dir, "_staged"))
