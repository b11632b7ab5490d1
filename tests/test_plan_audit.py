"""Physical-plan audits: the properties that decide 100 TB behavior,
asserted on the actual graded queries.  A regression here is a scale
bug even when results stay correct."""

import pytest
from pyspark.sql import functions as F

from durablestreams_spark.analytics.core import all_queries, table
from durablestreams_spark.plans import (
    formatted_plan,
    has_broadcast_join,
    has_python_eval,
    pushed_filters,
    scan_read_columns,
    shuffle_count,
)

SF_DIR = "/root/testdata/sf0.001"


def test_q5_broadcasts_small_dims(spark):
    """q5 joins lineitem against customer/supplier/nation/region — the
    dims must broadcast, never shuffle the fact table extra times."""
    df = all_queries()["q5_region_revenue"].fn(spark, SF_DIR)
    assert has_broadcast_join(df)


def test_q5_customer_supplier_not_forced_broadcast(spark):
    """customer/supplier scale WITH the fact data (150k×sf customers):
    a hard broadcast hint on them is a 100 TB driver OOM. With the
    broadcast threshold disabled, those joins must fall back to a
    shuffle join — proving there is no forced hint — while the
    fixed-cardinality nation/region hints still broadcast."""
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = all_queries()["q5_region_revenue"].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        # nation/region keep their explicit hints...
        assert "BroadcastHashJoin" in plan, plan
        # ...but customer/supplier now sort-merge/shuffle-hash join:
        # without hints + threshold off they cannot be broadcast.
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_asof_join_is_single_pass(spark):
    """The as-of join must be the union + last-value-forward plan:
    no join node (the pair-expansion O(clicks·purchases) blowup per
    skewed user), exactly one hash exchange (user_id for the window
    sort)."""
    df = all_queries()["join_asof_purchase_prior_click"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert shuffle_count(df) == 1, plan
    assert "Window" in plan


def test_filter_pushdown_reaches_scan(spark):
    """A predicate on a scanned column must appear in PushedFilters."""
    ev = table(spark, SF_DIR, "events").where(F.col("event_type") == "click")
    pf = pushed_filters(ev)
    assert any("event_type" in f for f in pf), pf


def test_column_pruning_on_projection(spark):
    """A 2-column projection must scan 2 columns, not the full table."""
    li = table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    cols = scan_read_columns(li)
    assert cols and set(cols[0]) == {"l_orderkey", "l_quantity"}


def test_text_ops_stay_jvm_side(spark):
    """Text/dedup pipelines are pure column expressions — any Python
    eval node in them is the 10-100x slow path."""
    for name in ("text_quality", "text_langid", "dedup_minhash_lsh_pairs",
                 "dedup_simhash"):
        df = all_queries()[name].fn(spark, SF_DIR)
        assert not has_python_eval(df), f"{name} fell off the JVM path"
    # knn's cosine runs as the vectorized Arrow pair-dot (r15,
    # exactness pinned by test_srp_arrow.py); only the row-at-a-time
    # path stays forbidden
    knn = all_queries()["similarity_knn_brute"].fn(spark, SF_DIR)
    assert "BatchEvalPython" not in formatted_plan(knn)


def test_multimodal_decode_is_arrow_batched(spark):
    """Every intentional Python stage must be mapInPandas (Arrow),
    never row-at-a-time BatchEvalPython."""
    for name in (
        "multimodal_decode_stats",
        "multimodal_frame_sample",
        "multimodal_resize_thumbnail",
        "multimodal_feature_extract",
    ):
        df = all_queries()[name].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        assert "MapInPandas" in plan, name
        assert "BatchEvalPython" not in plan, name


def test_q6_full_pushdown_and_pruning(spark):
    """Q6 is the pushdown showcase: all four predicates must reach
    PushedFilters and the scan must read exactly the four referenced
    columns of lineitem's sixteen."""
    df = all_queries()["q6_forecast_revenue"].fn(spark, SF_DIR)
    pf = pushed_filters(df)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert any(col in f for f in pf), (col, pf)
    cols = scan_read_columns(df)
    assert cols and set(cols[0]) == {
        "l_quantity", "l_extendedprice", "l_discount", "l_shipdate"
    }, cols


def test_tfidf_stays_jvm_side(spark):
    """TF-IDF is aggregation composition — no Python eval anywhere, and
    the scalar N joins in as a broadcast, not a shuffle."""
    df = all_queries()["text_tfidf_top_term"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert not has_python_eval(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_q1_single_shuffle(spark):
    """q1 is one groupBy — exactly one exchange (plus AQE reads),
    with partial aggregation before it."""
    df = all_queries()["q1_pricing_summary"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert shuffle_count(df) <= 2, plan  # agg exchange (+ optional sort)
    assert "HashAggregate" in plan


def test_topk_is_take_ordered(spark):
    """orderBy+limit must compile to TakeOrderedAndProject (per-
    partition top-k + merge), not a global sort."""
    df = all_queries()["topk_orders"].fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_exact_dedup_partial_agg(spark):
    """Exact dedup's groupBy must map-side combine (two HashAggregate
    phases around one exchange) so the shuffle carries digests, not
    documents."""
    df = all_queries()["dedup_exact_hash"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert plan.count("HashAggregate") >= 2
    assert shuffle_count(df) == 1, plan


def test_bucketed_join_eliminates_shuffle(spark, tmp_path):
    """Pre-bucketing both sides of a recurring join on the join key
    removes the per-query exchanges entirely — THE pattern for repeated
    100 TB fact-fact joins (SURVEY.md §2.2 'bucketing for co-located
    joins'). Both tables bucketed by orderkey: the sort-merge join must
    read buckets directly, zero Exchange nodes."""
    orders = table(spark, SF_DIR, "orders")
    li = table(spark, SF_DIR, "lineitem")
    for df, name, key in ((orders, "b_orders", "o_orderkey"), (li, "b_lineitem", "l_orderkey")):
        (
            df.write.bucketBy(8, key)
            .sortBy(key)
            .option("path", str(tmp_path / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    try:
        # force the SMJ path: at sf0.001 both sides fit the broadcast
        # threshold, which would hide the bucket co-location being tested
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        j = (
            spark.table("b_orders")
            .join(
                spark.table("b_lineitem"),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            .groupBy("o_orderpriority")
            .agg(F.sum("l_quantity").alias("q"))
        )
        plan = formatted_plan(j)
        assert "SortMergeJoin" in plan, plan
        # the join reads buckets directly: the ONLY exchange in the whole
        # plan is the final tiny aggregation one (unbucketed, this plan
        # has three — one per join side plus the agg)
        assert shuffle_count(j) == 1, plan
        assert j.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_q4_exists_is_semi_join(spark):
    """Q4's EXISTS must compile to a LEFT SEMI join — orders never
    duplicate per matching lineitem, so the agg input stays O(orders)
    however many lineitems match at 100 TB."""
    df = all_queries()["q4_order_priority"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan


def test_q18_take_ordered_and_agg_before_join(spark):
    """Q18: top-k via TakeOrderedAndProject, and the HAVING aggregate
    must partial-aggregate (map-side combine) before its exchange."""
    df = all_queries()["q18_large_volume_customers"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_q22_anti_join_with_broadcast_dims(spark):
    """Q22: NOT EXISTS must be a LEFT ANTI join; the nation dim and the
    scalar-average subquery broadcast."""
    df = all_queries()["q22_sales_opportunity"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan


def test_q11_single_fact_scan_with_scalar_threshold(spark):
    """Q11: ONE lineitem scan — the per-part aggregate is checkpointed
    before feeding both the threshold statistic and the final filter
    (without it Spark plans two full fact scans; no ReusedExchange
    across the scalar subtree).  The threshold joins back as a one-row
    broadcast."""
    df = all_queries()["q11_important_stock"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    # the fact scan ran ONCE when the aggregate checkpointed; the
    # final plan reads the materialized per-part rows, never parquet.
    assert "lineitem.parquet" not in plan, plan
    assert "Scan ExistingRDD" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_q16_deny_list_is_anti_join(spark):
    """Q16: the NOT IN deny list must plan as LEFT ANTI, and the
    count-distinct must partial-aggregate before its exchange."""
    df = all_queries()["q16_supplier_variety"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_q20_semi_join_and_stacked_aggs(spark):
    """Q20: the final supplier filter must be LEFT SEMI on the distinct
    excess keys; the two stacked aggregates share the (partkey, ...)
    grouping so no third fact scan appears."""
    import re

    df = all_queries()["q20_excess_suppliers"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftSemi" in plan, plan
    li_scans = [
        s for s in re.findall(r"\(\d+\) Scan parquet \S*", plan)
        if "lineitem" in s
    ]
    assert len(li_scans) <= 2, plan


def test_ivf_no_all_pairs_search(spark):
    """IVF: the probe-limited search must join on cent_id (equi) and
    never run a corpus×corpus nested loop.  Since round 8 the
    centroid ASSIGNMENT contributes no join at all: the K learned
    centroids are collected (bounded O(K) rows) and re-injected as
    literals, so each vector ranks its cells with an in-row
    sort_array + posexplode (a Generate node) — the old
    crossJoin+row_number shape shuffled and sorted n×K rows."""
    df = all_queries()["similarity_ivf_topk"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    # assignment is map-side: no nested-loop join survives in the
    # search plan, and the in-row ranking explodes via Generate
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "Generate" in plan, plan
    # the only window left ranks the per-QUERY top-k (bounded query
    # set); the corpus-side assignment window over vec_id is gone
    import re as _re

    n_windows = len(_re.findall(r"\(\d+\) Window\s*$", plan, _re.M))
    assert n_windows <= 1, plan
    # cell-restricted search is an equi join keyed on the cell id
    assert "cent_id" in plan, plan


def test_q7_no_forced_broadcast_of_scaling_tables(spark):
    """q7 joins supplier/customer (scale with SF) — with the broadcast
    threshold disabled those joins must fall back to shuffle joins
    (proving no hard hint), while nation/region keep their hints."""
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = all_queries()["q7_volume_shipping"].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" in plan, plan  # nation⋈region hints
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_q19_or_decomposition_prunes_scans(spark):
    """Q19's derivable single-side implications must reach the scans:
    the part scan pushes the brand IN-list, the lineitem scan pushes
    the quantity range — each input prunes BEFORE the join even though
    the disjunction itself evaluates after."""
    df = all_queries()["q19_discounted_revenue"].fn(spark, SF_DIR)
    pf = pushed_filters(df)
    assert any("p_brand" in f for f in pf), pf
    assert any("l_quantity" in f for f in pf), pf


def test_aqe_splits_skewed_join_partition(spark):
    """The 100 TB hot-key story has two layers: salted aggregation
    (skew_salted_agg_quantity) for aggs, and AQE's OptimizeSkewedJoin
    for joins. This pins the second: a 10:1-skewed join under
    fact-sized thresholds must show a skew=true split in the final
    adaptive plan — i.e., the hot partition was divided across tasks
    instead of serializing one straggler."""
    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # scale the byte thresholds down to fixture size so the local
        # run exercises the same decision a 256 MB-threshold cluster
        # makes on real partitions
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(200_000).select(
            F.lit(0).alias("k"), F.rand(7).alias("x")
        ).union(
            spark.range(20_000).select(
                (F.col("id") % 1000 + 1).alias("k"), F.rand(8).alias("x")
            )
        )
        right = spark.range(1001).select(
            F.col("id").alias("k"), F.lit("d").alias("v")
        )
        j = left.join(right, "k")
        j.foreach(lambda r: None)  # run to completion -> final AQE plan
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_skew_join_block_candidates_aqe_split(spark):
    """The graded skewed blocking join (skew_join_block_candidates —
    'en' holds ~41% of documents, so one shuffle partition carries the
    quadratic hot key) must actually receive AQE's skew-split
    treatment: under fact-scaled thresholds the final adaptive plan
    shows skew=true on the join, i.e. the hot partition was divided
    across tasks instead of serializing one straggler.  Two layers:
    the bare candidate-pair JOIN (what feeds per-pair verification at
    scale) splits naturally; the graded rollup aggregates on the join
    key, which makes the join's output partitioning load-bearing, so
    its split requires forceOptimizeSkewedJoin (Spark never trades an
    extra shuffle for a split unless told the straggler is worse)."""
    from durablestreams_spark.operators.skew import block_candidate_pairs

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        # keep AQE from collapsing the small shuffle below the skew
        # detector's feet
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        pairs = block_candidate_pairs(spark, "/root/testdata/sf0.1")
        pairs.foreach(lambda r: None)  # run to completion -> final plan
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan

        spark.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
        df = all_queries()["skew_join_block_candidates"].fn(
            spark, "/root/testdata/sf0.1"
        )
        df.foreach(lambda r: None)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan, plan
    finally:
        spark.conf.unset("spark.sql.adaptive.forceOptimizeSkewedJoin")
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_q21_is_decorrelated(spark):
    """Q21's double-EXISTS must be two hash aggregations + one equi
    self-join — never a correlated per-row subquery (no nested-loop
    join) and no Python eval."""
    df = all_queries()["q21_waiting_orders"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "HashAggregate" in plan
    assert not has_python_eval(df)


def test_q15_argmax_is_broadcast_scalar(spark):
    """Q15's max(total_revenue) must join back as a broadcast scalar —
    a one-partition global window over all suppliers would serialize a
    dimension that scales with SF."""
    df = all_queries()["q15_top_supplier"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert has_broadcast_join(df), plan
    assert "Window" not in plan, plan


def test_q13_left_join_preserved(spark):
    """Q13 must keep the LEFT join (zero-order customers land in the
    c_count=0 bin) — an optimizer or refactor turning it inner would
    silently drop the bin while staying 'correct-looking'."""
    df = all_queries()["q13_customer_distribution"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftOuter" in plan, plan


def test_q12_single_join_pre_aggregated(spark):
    """Q12 is one equi join + one aggregation: the conditional-sum
    pivot must not introduce a second scan of either fact table or an
    Expand node."""
    import re

    df = all_queries()["q12_shipping_delay"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    # formatted plans list each node in the tree AND the detail section;
    # count the numbered detail entries only.
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 2, plan
    assert "Expand" not in plan, plan


def test_embedding_cosine_has_no_all_pairs_stage(spark):
    """The graded embedding near-dup plan must be the 100 TB shape:
    banded-LSH candidate generation + equi-join verify.  No node in
    the physical plan may enumerate all pairs — no broadcast
    nested-loop join of the corpus against itself and no cartesian
    product; every join is an equi-join on a fixed-width key (band
    bucket or vec_id)."""
    df = all_queries()["dedup_embedding_cosine"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # vector math is a VECTORIZED Arrow stage (r15: the SRP signature
    # and the sequential pair-dot, exactness pinned by
    # test_srp_arrow.py) — the row-at-a-time path stays forbidden
    assert "BatchEvalPython" not in plan, plan


def test_embedding_cosine_matches_all_pairs_exactly(spark):
    """Recall check: the banded-LSH two-phase result must equal the
    exact all-pairs answer at the graded threshold on the fixture's
    graded 1-in-COSINE_DUP_MOD sample — the bands are tuned (8×2 bits
    at cos ≥ 0.4) so no true pair is lost.  This keeps the oracle
    (which IS all-pairs SQL over the same sample) honest."""
    from durablestreams_spark.operators.dedup import (
        COSINE_DUP_MOD,
        COSINE_DUP_THRESHOLD,
    )

    df = all_queries()["dedup_embedding_cosine"].fn(spark, SF_DIR)
    got = {(r.vec_a, r.vec_b) for r in df.collect()}

    from durablestreams_spark.analytics.core import table as _table

    emb = (
        _table(spark, SF_DIR, "embeddings")
        .where(F.col("vec_id") % COSINE_DUP_MOD == 0)
        .select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    wn = emb.withColumn(
        "norm", F.sqrt(F.aggregate("v", F.lit(0.0), lambda s, x: s + x * x))
    )
    a = wn.select(
        F.col("vec_id").alias("vec_a"),
        F.col("v").alias("va"),
        F.col("norm").alias("na"),
    )
    b = wn.select(
        F.col("vec_id").alias("vec_b"),
        F.col("v").alias("vb"),
        F.col("norm").alias("nb"),
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x
    )
    exact = (
        a.join(F.broadcast(b), F.col("vec_a") < F.col("vec_b"))
        .withColumn("cos", dot / (F.col("na") * F.col("nb")))
        .where(F.col("cos") >= COSINE_DUP_THRESHOLD)
    )
    want = {(r.vec_a, r.vec_b) for r in exact.collect()}
    assert got == want, f"LSH missed {want - got}, extra {got - want}"


def test_pointer_decode_scan_is_metadata_only(spark):
    """The pointer-pattern scan must prune the content column: the
    binaryFile FileScan's ReadSchema carries only path+length, so no
    payload bytes move through the scan tier (the property that makes
    the pattern viable for >2 GB blobs)."""
    df = all_queries()["multimodal_pointer_decode"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "binaryfile" in plan.lower() or "BINARYFILE" in plan, plan
    import re

    read_schemas = re.findall(r"ReadSchema: (\S+)", plan)
    assert read_schemas, plan
    assert all("content" not in rs for rs in read_schemas), plan


def test_multimodal_decode_chains_in_one_stage(spark):
    """build-blob → decode are two chained mapInPandas workers with NO
    exchange between them (pipelined in one stage); the only shuffle
    is the per-format aggregate on top."""
    df = all_queries()["multimodal_decode_stats"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    # two distinct MapInPandas nodes, and exactly ONE shuffle total --
    # if an exchange sat between build and decode there would be two.
    assert plan.count("MapInPandas") >= 2, plan
    assert shuffle_count(df) == 1, plan


def test_decontaminate_broadcasts_benchmark_set(spark):
    """The eval/benchmark shingle set is small by nature; the corpus
    side must join against it via broadcast, never shuffle the corpus
    shingles on the shingle string."""
    df = all_queries()["text_decontaminate"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastHashJoin" in plan, plan
    from durablestreams_spark.plans import has_python_eval

    assert not has_python_eval(df)


def test_unigram_logprob_broadcasts_vocab(spark):
    """The scoring join's broadcast side must be the TOP-K vocabulary
    (TakeOrderedAndProject → BroadcastExchange), never the full
    corpus-proportional frequency table: open-web vocabulary grows
    with the corpus, so an unbounded broadcast dies at 100 TB. The
    token stream itself is the 100 TB side and must not be re-shuffled
    for the join."""
    df = all_queries()["text_unigram_logprob"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan  # bounded vocab build
    assert plan.count("BroadcastExchange") >= 1, plan
    assert "SortMergeJoin" not in plan, plan


def test_bigram_logprob_broadcast_sides_are_vocab_bounded(spark):
    """Same 100×-scale contract for the bigram LM: tokens map to a
    top-K vocab + '<oov>' sentinel BEFORE bigram formation, so every
    broadcast side (unigram counts ≤ K+1, bigram counts ≤ (K+1)²) is
    corpus-size-independent. The plan must show the TakeOrdered vocab
    build feeding broadcasts and no shuffle join of the token stream
    by token.  Since round 8, bigram formation is ARRAY-SIDE (zip_with
    over two slices) — the plan must carry NO window: the old
    lead()-over-(doc_id, pos) version sorted the entire token stream,
    a full-corpus exchange that dominated sf1 and would own the 100 TB
    runtime."""
    df = all_queries()["text_bigram_logprob"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert plan.count("BroadcastExchange") >= 2, plan
    assert "SortMergeJoin" not in plan, plan
    assert "Window" not in plan, plan


def test_canonical_doc_is_hash_agg_not_window(spark):
    """Canonical-member selection must be the max(struct(...)) hash
    aggregate (map-side combinable), not a per-cluster window sort."""
    df = all_queries()["dedup_canonical_doc"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" not in plan, plan
    assert "HashAggregate" in plan, plan


def test_hive_partition_pruning(spark, tmp_path):
    """Writing date-partitioned parquet and filtering on the partition
    column must prune at PLANNING time: the scan's PartitionFilters
    carries the predicate and only matching directories are read."""
    ev = table(spark, SF_DIR, "events").withColumn(
        "day", F.date_format("ts", "yyyy-MM-dd")
    )
    out = str(tmp_path / "by_day")
    ev.write.partitionBy("day").parquet(out)
    days = sorted(r.day for r in spark.read.parquet(out).select("day").distinct().collect())
    target = days[len(days) // 2]
    got = spark.read.parquet(out).where(F.col("day") == target)
    plan = formatted_plan(got)
    assert "PartitionFilters" in plan and target not in ("",), plan
    m = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert any("day" in ln for ln in m), plan
    # the pruned count matches the unpartitioned filter
    want = ev.where(F.col("day") == target).count()
    assert got.count() == want


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """With broadcast off and scale-emulating thresholds (the 10 GB
    application-side default exists precisely so this only fires on
    big scans), Catalyst must inject a runtime bloom filter built from
    the selective dim side into the fact-side scan filter
    (might_contain) — row-level pruning before the join shuffle."""
    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
    }
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = table(spark, SF_DIR, "lineitem")
        orders = table(spark, SF_DIR, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy()
            .agg(F.sum("l_quantity").alias("s"))
        )
        plan = formatted_plan(j)
        assert "might_contain" in plan, plan
    finally:
        for k in confs:
            spark.conf.unset(k)


def test_chunk_windows_no_shuffle(spark):
    """The 1→N chunk expansion must happen inside the scan stage —
    zero exchanges; at 100 TB each task chunks its own documents."""
    df = all_queries()["text_chunk_windows"].fn(spark, SF_DIR)
    assert shuffle_count(df) == 0, formatted_plan(df)
    from durablestreams_spark.plans import has_python_eval

    assert not has_python_eval(df)


def test_pq_adc_scores_against_broadcast_tables(spark):
    """ADC scoring (r16): ONE MapInArrow scorer over the codes scan —
    the per-query lookup tables ride in the plan closure (the same
    bytes the old BroadcastExchange shipped), the corpus side carries
    only the compressed codes column, and the 4M-pair
    BroadcastNestedLoopJoin + full local Sort are GONE (they
    materialized the 16x32-double table per pair; measured 8.1 -> 1.2 s
    executor CPU at sf1).  Row values are pinned by
    tests/test_pq_arrow.py."""
    df = all_queries()["similarity_pq_topk"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "MapInArrow" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the scorer's input projection is exactly (vid, cds) — raw
    # vectors never cross into it (the pytest live-build plan still
    # scans `embedding` UPSTREAM to learn the codes; the audit is on
    # the MapInArrow operand)
    assert "MapInArrow (" in plan or "MapInArrow" in plan
    import re as _re

    m = _re.search(r"\(\d+\) MapInArrow\s*\nInput \[2\]: \[vid#\d+L, cds#\d+\]", plan)
    assert m, plan


def test_weighted_sample_is_take_ordered(spark):
    """A-ES weighted sampling must plan as TakeOrderedAndProject
    (per-partition heaps + driver merge), never a global sort."""
    df = all_queries()["sample_weighted_topk"].fn(spark, SF_DIR)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_pagerank_lineage_truncated(spark):
    """Iterative PageRank must NOT replay rounds 1..N-1 in the final
    plan: after per-round localCheckpoint the graded result is a
    TakeOrdered over the checkpointed table — zero joins, zero
    aggregates, zero shuffles left in the plan."""
    df = all_queries()["graph_pagerank_dup_centrality"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert shuffle_count(df) == 0, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pack_sequences_shard_local(spark):
    """Concat-and-chunk packing: one hash shuffle by shard for the
    window cumsum, one for the (shard, seq_id) aggregate — no join,
    no global sort, no Python."""
    df = all_queries()["pipeline_pack_sequences"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert shuffle_count(df) <= 3, plan
    assert "Join" not in plan, plan
    assert "Window" in plan, plan
    assert not has_python_eval(df)


def test_bpe_pair_counts_partial_agg_topk(spark):
    """BPE pair counting must partial-aggregate map-side (the shuffle
    carries (pair, count) partials, not exploded pairs) and take the
    top-50 as TakeOrdered, not a global sort."""
    df = all_queries()["text_bpe_pair_counts"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert not has_python_eval(df)
    assert "TakeOrderedAndProject" in plan, plan
    # partial_count before the exchange = map-side combine
    assert plan.count("HashAggregate") >= 2, plan


def test_vocab_oov_single_scoring_pass(spark):
    """OOV scoring joins the corpus tokenization against the broadcast
    vocab ONCE (left join + conditional agg). Separate total/OOV
    branches would re-scan the corpus: the plan must contain only
    broadcast joins and at most 4 exchanges (spread + vocab agg +
    scoring agg, plus the vocab branch's spread)."""
    df = all_queries()["text_vocab_oov"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan, plan
    assert "ShuffledHashJoin" not in plan, plan
    assert shuffle_count(df) <= 4, plan


def test_source_quota_windowed_topk(spark):
    """Per-source quota = one shuffle on source + rank window; no join
    and no Python in the plan."""
    df = all_queries()["sample_source_quota"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Window" in plan, plan
    assert "Join" not in plan, plan
    assert not has_python_eval(df)


def test_ivfpq_no_cartesian_no_corpus_broadcast(spark):
    """IVFPQ: candidate restriction joins must hash-join on the cell
    key with only the tiny query/probe/codebook sides broadcast; a
    CartesianProduct anywhere means the composite degenerated into
    all-pairs."""
    df = all_queries()["similarity_ivfpq_topk"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert has_broadcast_join(df)


def test_bucketed_join_has_no_join_exchange(spark):
    """The bucketed orders x lineitem join must read both sides'
    bucket layout from the catalog and sort-merge-join with ZERO
    exchanges under the join — the full query's only shuffles are the
    aggregate and the final order (2), where the identical plain-
    parquet join needs join-side exchanges on top (3+ without its
    orderBy)."""
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = all_queries()["layout_bucketed_join"].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        assert "SortMergeJoin" in plan, plan
        assert shuffle_count(df) == 2, plan
        o = table(spark, SF_DIR, "orders")
        li = table(spark, SF_DIR, "lineitem")
        plain = (
            o.join(li, o.o_orderkey == li.l_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        assert shuffle_count(plain) >= 3
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_dpp_prunes_fact_partitions_at_runtime(spark):
    """The campaign-days join over the day-partitioned events copy must
    trigger dynamic partition pruning: the fact scan's PartitionFilters
    carries a dynamicpruning expression fed by the dim subquery, so
    only the selected day directories are read."""
    df = all_queries()["layout_dpp_campaign_days"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "dynamicpruning" in plan.lower(), plan


def test_markov_normalizing_window_after_agg(spark):
    """The transition matrix normalizes over the TYPES x TYPES result
    of the aggregate, not the event stream: plan = one user-partitioned
    window + one partial-aggregated count + one tiny window, no join,
    no Python."""
    df = all_queries()["markov_event_transitions"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Join" not in plan, plan
    assert not has_python_eval(df)
    assert plan.count("Window") >= 2, plan


def test_retrieval_broadcasts_ann_hits(spark):
    """The retrieval payload join must broadcast the tiny ANN hit set
    against one corpus pass — a sort-merge join here would shuffle the
    documents table for a queries x k row probe."""
    df = all_queries()["similarity_retrieve_docs"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert has_broadcast_join(df)
    assert "SortMergeJoin" not in plan, plan


def test_integrity_audit_uses_anti_joins(spark):
    """The FK checks must plan as anti joins (semi-join family), never
    a full outer or cartesian comparison."""
    df = all_queries()["audit_referential_integrity"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan or "ExistenceJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ewma_runs_pandas_state_operator(spark):
    """The EWMA query must execute the real applyInPandasWithState
    operator (state-store-backed), not a batch rewrite."""
    from durablestreams_spark.streaming.stateful import running_user_ewma

    src = (
        spark.readStream.schema(
            "event_id long, ts timestamp, user_id long, value double"
        )
        .option("pathGlobFilter", "events.parquet")
        .parquet(SF_DIR)
        .select("user_id", "ts", "event_id", "value")
    )
    sdf = running_user_ewma(src)
    assert "FlatMapGroupsInPandasWithState" in sdf._jdf.queryExecution().analyzed().toString()


def test_pii_redact_stays_jvm_side(spark):
    """The PII scrub is a pure regexp column pipeline — a Python eval
    node would turn an I/O-bound 100 TB scan into a CPU-bound one."""
    df = all_queries()["text_pii_redact"].fn(spark, SF_DIR)
    assert not has_python_eval(df), "text_pii_redact fell off the JVM path"
    plan = formatted_plan(df)
    # projection must prune the scan to the two columns used
    cols = scan_read_columns(df)
    assert any(set(c) <= {"doc_id", "text"} for c in cols), cols


def test_exact_substring_explode_in_scan_stage(spark):
    """The heavy subplan (counting): the 8-token-gram explode must be a
    Generate fused before the FIRST exchange (1->N expansion inside the
    scan stage — no shuffle of raw documents), the shuffle key must be
    the fixed-width hash (never gram strings), BOTH grouping levels
    must share the single repartition(gh) exchange (no second
    aggregation shuffle, no Expand), and the top-100 must be
    TakeOrderedAndProject, never a global sort."""
    from durablestreams_spark.operators.dedup import substring_top_plan

    df = substring_top_plan(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "Generate" in plan and "explode" in plan, plan
    # Generate appears below (after in text order) the exchanges:
    # formatted_plan prints the tree root-first, so scan-stage nodes
    # come LAST; the first Exchange must precede Generate in the tree.
    assert plan.index("Exchange") < plan.index("Generate"), plan
    assert "TakeOrderedAndProject" in plan, plan
    # Exactly ONE data-dependent shuffle: repartition(gh); the
    # per-(gh, doc_id) agg and the per-gh rollup both run under that
    # partitioning.  spread() may add ONE round-robin balancing
    # exchange of raw doc rows below the Generate on small-file
    # fixtures (a no-op at scale, where files >= cores); it must be
    # round-robin (data-independent), never a second key shuffle.
    assert plan.count("hashpartitioning(gh") == 1, plan
    n_shuffles = shuffle_count(df)
    assert n_shuffles <= 2, plan
    if n_shuffles == 2:
        assert "RoundRobinPartitioning" in plan, plan
    assert "Expand" not in plan, plan
    assert not has_python_eval(df)


def test_exact_substring_recovery_is_pruned_scan(spark):
    """The string-recovery pass of the full query must read only the
    <= 100 representative docs through a pushed-down In filter and
    broadcast the winners — no second corpus shuffle, no gram-string
    exchange."""
    df = all_queries()["dedup_exact_substring"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    pf = pushed_filters(df)
    assert any("doc_id" in f and "In" in f for f in pf), pf
    assert has_broadcast_join(df), plan
    assert not has_python_eval(df)


def test_profile_approx_has_no_expand(spark):
    """The approx profile's sketch pass must be a single-pass agg with
    NO Expand node (the exact multi-distinct profile replicates every
    row N_cols times through Expand — the cost the approx variant
    exists to avoid).  The separate exact-distinct agg used only for
    the bounds check IS allowed to Expand; assert the main pass by
    counting: the exact profile has strictly more Expands."""
    approx = all_queries()["audit_column_profile_approx"].fn(spark, SF_DIR)
    exact = all_queries()["audit_column_profile"].fn(spark, SF_DIR)
    pa, pe = formatted_plan(approx), formatted_plan(exact)
    assert pe.count("Expand") >= 1, pe  # exact multi-distinct expands
    # approx plan: only the bounds-check agg may expand; the sketch
    # pass itself must not — so strictly fewer Expand nodes than the
    # same profile computed exactly twice would have, and none if the
    # bounds agg is collapsed.  Assert the strong property we rely on:
    # at most one Expand (from the exact bounds check), never two.
    assert pa.count("Expand") <= pe.count("Expand"), pa


def test_gopher_rules_zero_shuffle_codegen(spark):
    """text_gopher_rules is a pure row-local filter-metrics projection:
    the plan must contain no exchange at all (the 100 TB claim is
    'runs at parquet scan speed') and no Python eval."""
    df = all_queries()["text_gopher_rules"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert shuffle_count(df) == 0, plan
    assert not has_python_eval(df), plan


def test_perplexity_buckets_is_window_free(spark):
    """The CCNet terciles classify against per-language percentile
    BOUNDARIES (row-local CASE after a broadcast of the O(#languages)
    cuts table) — no window anywhere: with ~constant language
    cardinality even a lang-partitioned ntile window is
    corpus-proportional, a near-global sort at 100 TB.  Audited on
    both halves: the final (post-checkpoint) plan and the scored
    subtree the checkpoint materializes."""
    from durablestreams_spark.operators.pipeline_llm import (
        text_unigram_logprob,
    )

    import re as _re

    df = all_queries()["text_perplexity_buckets"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert not _re.search(r"(?<![a-z])ntile[(]", plan), plan
    assert "Window" not in plan, plan
    # the cuts join is a broadcast (tiny per-language table), and the
    # exact-percentile aggregate is the map-side-merged counts form
    assert "BroadcastHashJoin" in plan and "percentile" in plan, plan
    # the scored subtree (hidden behind the localCheckpoint in the
    # final plan) is window-free too
    docs = table(spark, SF_DIR, "documents").select("doc_id", "lang")
    scored = (
        text_unigram_logprob(spark, SF_DIR)
        .join(docs, "doc_id")
        .select("lang", "avg_nll")
    )
    up = formatted_plan(scored)
    assert "Window" not in up, up


def test_split_leakage_train_grams_never_broadcast(spark):
    """The train-side gram set grows with the corpus, so the leak join
    must survive with broadcasts disabled (proving no forced hint
    anywhere in the plan) and the exchanged key must be the
    fixed-width md5 prefix, not raw gram strings."""
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = all_queries()["split_leakage_ngrams"].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # the gram join key is substring(md5(sh), 1, 16)
        assert "substring(md5(" in plan, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_semantic_clusters_no_all_pairs(spark):
    """SemDeDup's whole point is pairing WITHIN clusters: the pair
    phase must be an equi-join on cent_id — no cartesian product, no
    broadcast nested loop of the corpus against itself — and the
    cosine folds stay JVM-side."""
    df = all_queries()["dedup_semantic_clusters"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "cent" in plan, plan
    # cosine folds run as the vectorized Arrow kernels (r15, exactness
    # pinned by test_srp_arrow.py); row-at-a-time stays forbidden
    assert "BatchEvalPython" not in plan, plan


def test_pipeline_curate_v2_composition_shape(spark):
    """The composed curation pipeline must inherit every part's scale
    shape: the CCNet gate is boundary-classification (window-free —
    the ONLY window left is the content-hash dedup's, partitioned by
    the 16-byte digest, key- not corpus-proportional), no cartesian /
    nested-loop node anywhere downstream of the checkpointed survivor
    subtree, all expressions JVM-side.  (The unigram LM's single-row
    scalar cross joins live UPSTREAM of the localCheckpoint inside
    with_lang_tercile_bucket, so the composed plan itself must contain
    zero nested loops — the checkpoint also guarantees the
    gopher+LM subtree executes once, the property the old BNLJ-count
    comparison audited.)"""
    import re as _re

    df = all_queries()["pipeline_curate_v2"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert not _re.search(r"(?<![a-z])ntile[(]", plan), plan
    wins = _re.findall(r"windowspecdefinition\((\w+)#", plan)
    assert wins and set(wins) == {"content_hash"}, (wins, plan)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert not has_python_eval(df), plan


def test_bpe_tokenize_apply_is_row_local(spark):
    """BPE merge application must be an embarrassingly parallel scan:
    the merge table is VOCABULARY STATE (constant-size, folded into the
    projection as chained replace literals), so the returned plan has
    zero shuffles, zero joins, zero windows, one parquet scan, and no
    Python eval.  The learning pass (pair count + TakeOrdered(50)) runs
    at build time as a separate bounded job and must not appear in the
    apply plan."""
    from durablestreams_spark.operators.text import _BPE_N_MERGES

    assert _BPE_N_MERGES <= 64  # broadcast-trivial by construction
    df = all_queries()["text_bpe_tokenize"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    # spread() may add ONE round-robin balancing exchange on the tiny
    # single-file fixture (no-op at scale); never a hash partitioning.
    assert shuffle_count(df) <= 1, plan
    assert "hashpartitioning" not in plan, plan
    assert "Join" not in plan, plan
    assert "Window" not in plan, plan
    assert not has_python_eval(df), plan
    import re as _re

    assert len(_re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan


def test_span_contamination_single_gram_pass(spark):
    """The duplicated-span fraction must compute its gram explode ONCE
    (the checkpointed per-(gh, doc) table feeds both the doc-frequency
    rollup and the join back — without it Spark plans the explode
    twice), shuffle on the fixed-width hash key, and never broadcast
    the corpus-proportional dup-gram set."""
    import re as _re

    # the dup-gram frequency table is corpus-proportional: with the
    # size thresholds disabled the join must survive as a shuffle join
    # (no forced broadcast hint anywhere); on the tiny fixture AQE is
    # free to broadcast it by size.
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = all_queries()["dedup_span_contamination"].fn(spark, SF_DIR)
        plan = formatted_plan(df)
        # the parquet scan + explode live BEHIND the checkpoint: the
        # final plan must contain no parquet scan at all (only the
        # checkpointed RDD), proving the gram pass ran exactly once
        assert "Scan parquet" not in plan, plan
        assert "BroadcastHashJoin" not in plan, plan
        assert "BroadcastNestedLoopJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert not has_python_eval(df), plan
        assert not _re.search(r"windowspecdefinition", plan), plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")


def test_tercile_bucket_keeps_null_lang_rows(spark):
    """The boundary-classification join must be null-safe: a NULL lang
    forms its own bucket group (exactly like the per-lang window it
    replaced) instead of vanishing through a null-dropping equi-join —
    silently excluding such docs from the perplexity report and the
    curation survivors."""
    from durablestreams_spark.operators.pipeline_llm import (
        with_lang_tercile_bucket,
    )

    scored = spark.createDataFrame(
        [(i, None if i < 6 else "en", float(i)) for i in range(9)],
        "doc_id long, lang string, avg_nll double",
    )
    out = with_lang_tercile_bucket(scored)
    rows = out.collect()
    assert len(rows) == 9, rows
    null_buckets = {r["bucket"] for r in rows if r["lang"] is None}
    assert null_buckets == {"head", "middle", "tail"}, rows


def test_write_shards_rank_is_bucket_partitioned(spark, tmp_path):
    """The shard writer's exact global rank must come from the
    two-phase 256-bucket plan: the only Window over corpus-sized data
    is PARTITIONED BY bucket (per-bucket row_number), never a global
    ORDER BY rank over everything — the shape that still works when
    the sequence count is billions.  (The O(256) offsets rollup's
    single-partition window is the bounded exception, same as
    sample_token_budget.)"""
    from durablestreams_spark.operators.pipeline_llm import _write_shards

    df = _write_shards(spark, SF_DIR, root=str(tmp_path / "aud"))
    assert "bucket" not in df.columns  # internal; the artifact stays lean
    # Build-plan audit: the ranking subplan the builder runs, built
    # from the builder's OWN shared key definition (_shard_sort_key)
    # so the audited plan cannot drift from the one that executes.
    from pyspark.sql import Window as W

    from durablestreams_spark.analytics.core import all_queries
    from durablestreams_spark.operators.pipeline_llm import _shard_sort_key

    seqs = all_queries()["pipeline_pack_sequences"].fn(spark, SF_DIR)
    d = seqs.withColumn("key", _shard_sort_key()).withColumn(
        "bucket", F.substring("key", 1, 2)
    )
    wr = W.partitionBy("bucket").orderBy("key", "shard", "seq_id")
    ranked = d.withColumn("rn", F.row_number().over(wr))
    plan = formatted_plan(ranked)
    # The rank must add ZERO range exchanges over the bare packing
    # plan (whose graded ORDER BY contributes one): the only new
    # exchange is hashpartitioning(bucket) — the partitioned-window
    # signature, never a global sort of the sequence stream.
    base = formatted_plan(seqs).lower().count("rangepartitioning")
    assert plan.lower().count("rangepartitioning") <= base, plan
    assert "hashpartitioning(bucket" in plan, plan


def test_amplified_candidates_stay_equi_join(spark):
    """The recall-amplified operating point's whole claim is that
    hamming-tolerant matching stays an EQUI-join (probe-side variant
    expansion), never a similarity predicate in the join condition:
    the candidate plan must contain no cartesian product and no
    broadcast nested loop, and the 17x expansion must be a row-local
    generate, not a Python eval."""
    from durablestreams_spark.operators.dedup import (
        AMPLIFIED_BAND_HAMMING,
        COSINE_TIGHT_BAND_BITS,
        COSINE_TIGHT_REPORT_MOD,
        _tight_band_rows,
        _tight_cand_amplified,
        _tight_corpus,
        _variant_list_exprs,
    )

    cand = _tight_cand_amplified(
        _tight_band_rows(
            _tight_corpus(spark, SF_DIR, COSINE_TIGHT_REPORT_MOD)
        )
    )
    plan = formatted_plan(cand)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the 256-plane signature is a vectorized Arrow stage (r15,
    # exactness pinned by test_srp_arrow.py); the variant expansion
    # itself must stay a row-local generate, and the row-at-a-time
    # Python path stays forbidden
    assert "BatchEvalPython" not in plan, plan
    # the expansion derives from the knob: r=1 -> 1 + C(16,1) variants
    import math

    n_variants = 1 + sum(
        math.comb(COSINE_TIGHT_BAND_BITS, r)
        for r in range(1, AMPLIFIED_BAND_HAMMING + 1)
    )
    assert len(_variant_list_exprs("spark")) == n_variants
    assert len(_variant_list_exprs("duck")) == n_variants


def test_phash_dedup_has_no_all_pairs_stage(spark):
    """The pixel near-dup's pair phase must be the 100 TB shape:
    banded equi-joins only — no broadcast nested-loop of the media
    corpus against itself, no cartesian product.  Python is allowed
    exactly once (the Arrow encode/decode/hash stages); the candidate
    join and hamming verify stay JVM-side."""
    df = all_queries()["multimodal_phash_dedup"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    # (the Arrow encode/decode/hash stage is localCheckpointed before
    # the pair phase, so the audited plan is exactly the join graph)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the verify is bit_count over carried keys, JVM-side
    assert not has_python_eval(df), plan


def test_pixel_flag_serving_join_is_one_to_one(spark):
    """The economics report's pixel signal must be a 1:1 LEFT lookup
    against the persisted per-doc flag index — never a band-pair
    fan-out on the stream side (the shared _flag_index protocol)."""
    from durablestreams_spark.operators.streaming_queries import (
        PIXEL_FAMILY,
        _flag_index,
    )

    flags = _flag_index(PIXEL_FAMILY, spark, SF_DIR)
    # per-doc flags: one row per flagged doc, no band columns
    assert flags.columns == ["doc_id"], flags.columns
    n = flags.count()
    d = flags.distinct().count()
    assert n == d > 0, (n, d)


def test_audio_dedup_has_no_all_pairs_stage(spark):
    """The audio near-dup's pair phase must be the 100 TB shape:
    banded equi-joins only — no broadcast nested-loop of the media
    corpus against itself, no cartesian product.  Python is allowed
    exactly once (the Arrow WAV encode/decode/fingerprint stages,
    localCheckpointed before the pair phase); the candidate join and
    hamming verify stay JVM-side — literally the same matcher code as
    the pixel family (streaming_queries._band_pairs)."""
    df = all_queries()["multimodal_audio_dedup"].fn(spark, SF_DIR)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert not has_python_eval(df), plan


def test_bpe_budgeted_rows_fractional_fill_is_bucket_partitioned(spark):
    """The BPE-unit budgeted delivery must inherit the two-phase
    bucket-rank shape: the fractional fill's only corpus-sized window
    is PARTITIONED BY (source, bucket) — never a per-source global
    sort of the doc stream (the shape that still works when a source
    has billions of docs)."""
    from durablestreams_spark.operators.pipeline_llm import (
        _bpe_plan_and_rows,
    )

    _reps, rows = _bpe_plan_and_rows(spark, SF_DIR)
    plan = formatted_plan(rows)
    low = plan.lower()
    assert "rangepartitioning" not in low, plan
    assert "hashpartitioning(source" in low, plan
