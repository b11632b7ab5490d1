"""Training-data curation operators a 100 TB corpus pipeline runs
between raw ingest and tokenization (SURVEY.md §2.2 "LLM-pipeline"),
beyond the dedup/similarity/text families already registered:

- **benchmark decontamination** — flag corpus documents sharing 5-gram
  shingles with an eval/benchmark set (the standard contamination
  check run before training; cf. the n-gram overlap procedure in the
  GPT-3/PaLM appendices);
- **canonical selection** — after near-dup clustering, keep ONE
  representative per cluster (here: per SimHash fingerprint), chosen
  by an explicit deterministic quality order;
- **train/valid/test split** — reproducible hash-bucket assignment
  (never ``rand()``: must survive re-runs, engine swaps and
  repartitioning);
- **unigram LM scoring** — corpus-frequency negative log-likelihood
  per document (the cheap stand-in for the CCNet-style LM quality
  filter).

All pure column expressions (no Python UDFs); hashes are md5-hex
prefixes so the DuckDB oracle agrees bit-for-bit (same policy as
``operators/dedup.py``).
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from ..analytics.core import query, spread, table
from .cache_marker import build_once, cache_root
from .dedup import dedup_simhash

#: Top-V corpus vocabulary shared by the OOV-coverage scorer and the
#: truncated unigram/bigram LMs (all out-of-vocab tokens pool into one
#: OOV bucket, keeping every broadcast side corpus-size-independent).
VOCAB_SIZE = 500

# Every doc whose id falls in this residue class plays the role of the
# held-out benchmark/eval set; the remaining docs are the training
# corpus being screened.  Deterministic, so both engines agree.
_BENCH_MOD = 97


def _shingle5_arrays(docs):
    """(doc_id, shs) where shs = the doc's DISTINCT 5-word shingles as
    an array.  The per-doc dedup is ``array_distinct`` — row-local,
    inside the scan stage, ZERO shuffle — where a global
    ``.distinct()`` on exploded (doc_id, shingle-string) rows would
    shuffle every full 5-gram string (and get recomputed per
    consumer: the round-6 profile showed that distinct dominating the
    sf1 cost ×3).  Split once per doc into a words array in its own
    projection so CollapseProject can't inline the O(words) split per
    shingle (same guard as dedup._shingle_rows)."""
    words = docs.select("doc_id", F.split("text", r"\s+").alias("w")).where(
        F.size("w") >= 5
    )
    return words.select(
        "doc_id",
        F.array_distinct(
            F.expr(
                "transform(sequence(0, size(w) - 5), i -> "
                "concat_ws(' ', w[i], w[i+1], w[i+2], w[i+3], w[i+4]))"
            )
        ).alias("shs"),
    )


_DUCK_SHINGLE5 = """
    SELECT DISTINCT doc_id, sh
    FROM (
        SELECT doc_id, string_split_regex(text, '\\s+') AS wrds
        FROM documents
        WHERE len(string_split_regex(text, '\\s+')) >= 5
    ), UNNEST(list_transform(
           generate_series(1, len(wrds) - 4),
           i -> wrds[i] || ' ' || wrds[i+1] || ' ' || wrds[i+2] || ' ' ||
                wrds[i+3] || ' ' || wrds[i+4])) AS u(sh)
"""


def _contam_flag_ctes(p: str = "") -> str:
    """The contamination-flag CTE triple (all shingles -> bench
    shingles -> contaminated doc_ids), shared verbatim by every
    graded consumer — the fused live gate, the economics report, and
    the batch curation run — so no two queries can disagree on what
    'contaminated' means; ``p`` prefixes the CTE names to avoid
    collisions."""
    return f"""{p}shing AS ({_DUCK_SHINGLE5}),
    {p}bsh AS (SELECT DISTINCT sh FROM {p}shing
            WHERE doc_id % {_BENCH_MOD} = 0),
    {p}cflag AS (SELECT DISTINCT c.doc_id
              FROM {p}shing c JOIN {p}bsh b USING (sh))"""


@query(
    "text_decontaminate",
    f"""
    WITH shingles AS ({_DUCK_SHINGLE5}),
    bench AS (
        SELECT DISTINCT sh FROM shingles WHERE doc_id % {_BENCH_MOD} = 0
    ),
    corpus AS (
        SELECT doc_id, sh FROM shingles WHERE doc_id % {_BENCH_MOD} <> 0
    ),
    totals AS (
        SELECT doc_id, count(*) AS n_shingles FROM corpus GROUP BY doc_id
    ),
    hits AS (
        SELECT c.doc_id, count(*) AS n_hit
        FROM corpus c JOIN bench b USING (sh)
        GROUP BY c.doc_id
    )
    SELECT t.doc_id, t.n_shingles, h.n_hit,
           floor(h.n_hit * 1.0 / t.n_shingles * 10000 + 0.5) / 10000
               AS overlap_ratio
    FROM totals t JOIN hits h USING (doc_id)
    """,
    doc="Benchmark decontamination: corpus docs sharing any 5-gram with "
    "the (doc_id % 97 == 0) eval set, with their overlap fraction. The "
    "benchmark shingle set is tiny relative to the corpus, so it is "
    "BROADCAST — the corpus-side scan is the only big pass, and the "
    "per-doc counts shuffle fixed-width (doc_id, counts) only.  "
    "Per-doc shingle dedup is array_distinct inside the scan stage "
    "(shuffle-free); n_shingles is the array size, so the totals leg "
    "never explodes at all.",
)
def text_decontaminate(spark, sf_dir):
    # spread(): the shingle transform + array_distinct is the CPU-heavy
    # stage and must not run at the input's file-partition count on
    # small-file fixtures; no-op on any at-scale scan (files >= cores).
    arrays = _shingle5_arrays(spread(table(spark, sf_dir, "documents")))
    bench = (
        arrays.where(F.col("doc_id") % _BENCH_MOD == 0)
        .select(F.explode("shs").alias("sh"))
        .distinct()
    )
    corpus = arrays.where(F.col("doc_id") % _BENCH_MOD != 0)
    totals = corpus.select("doc_id", F.size("shs").alias("n_shingles"))
    hits = (
        corpus.select("doc_id", F.explode("shs").alias("sh"))
        .join(F.broadcast(bench), "sh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return totals.join(hits, "doc_id").select(
        "doc_id",
        "n_shingles",
        "n_hit",
        (F.floor(F.col("n_hit") / F.col("n_shingles") * 10000 + 0.5) / 10000)
        .alias("overlap_ratio"),
    )


# The oracle recomputes the 32-bit SimHash with the exact SQL the
# dedup_simhash query is already graded against, then picks the
# canonical member per fingerprint by the same explicit order.
_DUCK_SIMHASH = """
    WITH toks AS (
        SELECT doc_id, UNNEST(string_split_regex(text, '\\s+')) AS tok
        FROM documents
    ),
    tok_hashes AS (
        SELECT doc_id, tok, count(*) AS w,
               CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h
        FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ),
    bits AS (
        SELECT doc_id, b.i,
               sum(CASE WHEN (h // (1::BIGINT << b.i)) % 2 = 1
                        THEN w ELSE -w END) AS score
        FROM tok_hashes, (SELECT UNNEST(generate_series(0, 31)) AS i) b
        GROUP BY doc_id, b.i
    ),
    sims AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN score > 0 THEN (1::BIGINT << i)
                             ELSE 0 END) AS BIGINT) AS simhash
        FROM bits GROUP BY doc_id
    )
"""


@query(
    "dedup_canonical_doc",
    f"""
    {_DUCK_SIMHASH}
    SELECT simhash, n_members, canonical_id, canon_len FROM (
        SELECT s.simhash,
               count(*) OVER (PARTITION BY s.simhash) AS n_members,
               first_value(d.doc_id) OVER (
                   PARTITION BY s.simhash
                   ORDER BY length(d.text) DESC, d.doc_id) AS canonical_id,
               first_value(CAST(length(d.text) AS BIGINT)) OVER (
                   PARTITION BY s.simhash
                   ORDER BY length(d.text) DESC, d.doc_id) AS canon_len,
               row_number() OVER (
                   PARTITION BY s.simhash
                   ORDER BY length(d.text) DESC, d.doc_id) AS rn
        FROM sims s JOIN documents d USING (doc_id)
    ) WHERE rn = 1
    """,
    doc="Canonical-doc selection: one representative per near-dup "
    "cluster (cluster = 32-bit SimHash), keeping the longest text with "
    "doc_id as the deterministic tie-break. Spark side is a single "
    "hash aggregation of max(struct(len, -doc_id)) — map-side "
    "combinable, no window sort; the oracle states the same choice as "
    "a window for readability.",
)
def dedup_canonical_doc(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("len")
    )
    sims = dedup_simhash(spark, sf_dir)
    best = F.max(
        F.struct(F.col("len"), (-F.col("doc_id")).alias("neg_id"))
    ).alias("b")
    return (
        sims.join(docs, "doc_id")
        .groupBy("simhash")
        .agg(F.count(F.lit(1)).alias("n_members"), best)
        .select(
            "simhash",
            "n_members",
            (-F.col("b.neg_id")).alias("canonical_id"),
            F.col("b.len").cast("long").alias("canon_len"),
        )
    )


@query(
    "split_train_valid_test",
    """
    SELECT split, lang, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM (
        SELECT CASE
                 WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2)
                      < 'cc' THEN 'train'
                 WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2)
                      < 'e6' THEN 'valid'
                 ELSE 'test'
               END AS split, lang, n_chars
        FROM documents
    ) GROUP BY split, lang
    """,
    doc="Reproducible corpus split: md5(doc_id)-bucket assignment "
    "(204/26/26 of 256 ≈ 80/10/10), aggregated per (split, lang). A "
    "hash split — unlike rand()/TABLESAMPLE — survives re-runs, "
    "repartitioning, and engine swaps; the assignment is a row-local "
    "projection (no shuffle before the final small agg).",
)
def split_train_valid_test(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2)
    split = (
        F.when(bucket < "cc", "train").when(bucket < "e6", "valid").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), "lang", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
    )


# Shared by text_unigram_logprob and text_perplexity_buckets: the CTE
# chain building the truncated unigram LM and the final per-doc NLL
# select — one definition so the two graded oracles can never drift.
_UNIGRAM_NLL_CTES = f"""toks AS (
        SELECT doc_id, UNNEST(string_split_regex(text, '\\s+')) AS tok
        FROM documents
    ),
    clean AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    freq AS (SELECT tok, count(*) AS c FROM clean GROUP BY tok),
    topk AS (SELECT tok, c FROM freq ORDER BY c DESC, tok LIMIT {VOCAB_SIZE}),
    oov AS (SELECT (SELECT count(*) FROM clean) AS n,
                   (SELECT count(*) FROM clean)
                   - (SELECT sum(c) FROM topk) AS oc)"""

_UNIGRAM_NLL_SELECT = """
    SELECT doc_id, count(*) AS n_tokens,
           round(avg(-ln(coalesce(k.c, o.oc) * 1.0 / o.n)), 4) AS avg_nll
    FROM clean LEFT JOIN topk k USING (tok) CROSS JOIN oov o
    GROUP BY doc_id"""


@query(
    "text_unigram_logprob",
    f"""
    WITH {_UNIGRAM_NLL_CTES}
    {_UNIGRAM_NLL_SELECT}
    """,
    doc=f"Unigram-LM document scoring: avg negative log-likelihood of "
    "a doc's tokens under a TRUNCATED corpus unigram LM — the "
    f"CCNet-style recipe with a top-{VOCAB_SIZE} vocabulary "
    "(frequency order, token tie-break) and all out-of-vocabulary "
    "tokens pooled into one OOV bucket carrying the residual mass. "
    "High avg_nll = rare-token soup, low = repetitive boilerplate. "
    "The truncation is what makes this scale-safe: open-web "
    "vocabulary grows with the corpus, so broadcasting the FULL "
    "frequency table would blow past Spark's broadcast cap at 100 TB; "
    f"the top-{VOCAB_SIZE}+OOV table is corpus-size-independent. "
    "Vocabulary induction is a map-side-combined count + "
    "TakeOrdered (tiny); scoring is ONE broadcast left join over the "
    "token stream + one per-doc aggregation — nothing shuffles "
    "document text by token.",
)
def text_unigram_logprob(spark, sf_dir):
    # spread(): the token explode runs twice (vocab count + scoring)
    # and is the CPU-heavy stage; no-op at scale (files >= cores).
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id", F.explode(F.split("text", r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    topk = freq.orderBy(F.col("c").desc(), "tok").limit(VOCAB_SIZE)
    # scalar (n = corpus token count, oc = pooled OOV mass): n comes
    # from a map-side scalar count — NOT from summing freq, which
    # would re-run the token-keyed shuffle a second time — and kc from
    # the tiny top-K table; neither is corpus-proportional
    oov = (
        toks.agg(F.count(F.lit(1)).alias("n"))
        .crossJoin(topk.agg(F.sum("c").alias("kc")))
        .select("n", (F.col("n") - F.col("kc")).alias("oc"))
    )
    ce = F.coalesce(F.col("kc_tok"), F.col("oc"))
    return (
        toks.join(
            F.broadcast(topk.withColumnRenamed("c", "kc_tok")), "tok", "left"
        )
        .crossJoin(F.broadcast(oov))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.round(F.avg(-F.log(ce / F.col("n"))), 4).alias("avg_nll"),
        )
    )


#: CCNet tercile classification by COMPUTED PER-LANGUAGE BOUNDARIES —
#: the window-free replacement for `ntile(3) OVER (PARTITION BY lang
#: ORDER BY avg_nll)`: language cardinality is ~constant, so a
#: per-language window partition is CORPUS-PROPORTIONAL (at 100 TB the
#: dominant language's scores would sort through one task).  Instead
#: the two cut scores come from one exact-percentile aggregate and
#: rows classify against them row-locally — CCNet's own recipe.  The
#: fragment expects a ``scored`` CTE with at least (lang, avg_nll).
#: Cross-engine determinism: avg_nll is 4-dp-rounded, so every score
#: sits on the 1e-4 grid; raw interpolated percentiles can land one
#: ulp either side of a grid value depending on the engine's
#: interpolation arithmetic (measured: DuckDB 3.3999000000000006 vs
#: Spark 3.3999 on the sf0.01 en cut), so the cuts are SNAPPED to the
#: grid with the repo's floor-form rounding.  For tercile fractions
#: the 0.5 rounding boundary is unreachable: the interpolation
#: fraction is k/3 mod 1 ∈ {0, 1/3, 2/3} grid-steps, never 1/2, so a
#: cut is never within float noise of the floor boundary.
_TERCILE_BUCKET_SQL = """cuts AS (
        SELECT lang,
               floor(quantile_cont(avg_nll, 1.0/3) * 10000 + 0.5) / 10000
                   AS c1,
               floor(quantile_cont(avg_nll, 2.0/3) * 10000 + 0.5) / 10000
                   AS c2
        FROM scored GROUP BY lang
    ),
    bucketed AS (
        SELECT s.*, CASE WHEN s.avg_nll <= c.c1 THEN 'head'
                         WHEN s.avg_nll <= c.c2 THEN 'middle'
                         ELSE 'tail' END AS bucket
        -- null-safe: a NULL lang forms its own group (like the window
        -- form this replaced) instead of being dropped by the join
        FROM scored s JOIN cuts c ON s.lang IS NOT DISTINCT FROM c.lang
    )"""


def with_lang_tercile_bucket(scored):
    """Append a ``bucket`` (head/middle/tail) column classifying
    ``avg_nll`` against per-language tercile boundaries — the Spark
    half of ``_TERCILE_BUCKET_SQL`` (one shared definition, consumed
    by text_perplexity_buckets and pipeline_curate_v2).

    Scale shape: ``scored`` is localCheckpoint-ed so the expensive
    scoring subtree (token explode + LM join) materializes ONCE and
    feeds both consumers — the cuts aggregate and the classification
    join — instead of being physically duplicated per consumer.  The
    cuts aggregate is Spark's exact ``percentile``, whose state is a
    value→count map with map-side partial merge: scores are 4-dp
    rounded, so the map is bounded by the GRID (distinct rounded
    values), not the row count — O(small constant) per language at any
    corpus size.  The cuts table is O(#languages) rows, broadcast;
    classification is a row-local CASE.  No window anywhere (pinned by
    tests/test_plan_audit.py)."""
    scored = scored.localCheckpoint()

    def _grid(c):
        # floor-form snap to the 1e-4 grid (see _TERCILE_BUCKET_SQL)
        return F.floor(c * 10000 + F.lit(0.5)) / 10000

    cuts = scored.groupBy(F.col("lang").alias("_cuts_lang")).agg(
        _grid(F.expr("percentile(avg_nll, 1.0D/3)")).alias("c1"),
        _grid(F.expr("percentile(avg_nll, 2.0D/3)")).alias("c2"),
    )
    bucket = (
        F.when(F.col("avg_nll") <= F.col("c1"), "head")
        .when(F.col("avg_nll") <= F.col("c2"), "middle")
        .otherwise("tail")
    )
    # eqNullSafe: a NULL lang forms its own bucket group (exactly like
    # the window form this replaced) instead of vanishing from the
    # report / curation survivors through a null-dropping equi-join.
    return (
        scored.join(
            F.broadcast(cuts), F.col("lang").eqNullSafe(F.col("_cuts_lang"))
        )
        .withColumn("bucket", bucket)
        .drop("_cuts_lang", "c1", "c2")
    )


@query(
    "text_perplexity_buckets",
    f"""
    WITH {_UNIGRAM_NLL_CTES},
    nll AS ({_UNIGRAM_NLL_SELECT}),
    scored AS (
        SELECT d.lang, n.avg_nll
        FROM nll n JOIN documents d USING (doc_id)
    ),
    {_TERCILE_BUCKET_SQL}
    SELECT lang, bucket,
           count(*) AS n_docs,
           round(avg(avg_nll), 4) AS bucket_avg_nll
    FROM bucketed
    GROUP BY lang, bucket
    """,
    doc="CCNet-style perplexity bucketing (Wenzek et al. 2020): score "
    "every document under the shared truncated unigram LM (identical "
    "CTEs to text_unigram_logprob — one definition, two queries), "
    "split each language into head/middle/tail buckets by per-doc "
    "avg NLL and report per-bucket counts and mean NLL — the standard "
    "quality-stratified sampling input.  Buckets are defined by "
    "PER-LANGUAGE PERCENTILE BOUNDARIES classified row-locally "
    "(_TERCILE_BUCKET_SQL / with_lang_tercile_bucket — CCNet's own "
    "head/middle/tail cut-score recipe), NOT by an ntile window: with "
    "~constant language cardinality a per-language window partition "
    "is corpus-proportional, a near-global sort at 100 TB.  The "
    "percentile state is bounded by the 4-dp score grid and the cut "
    "table is O(#languages); upstream is the same bounded top-K+OOV "
    "broadcast as text_unigram_logprob — nothing corpus-proportional "
    "is broadcast, sorted, or windowed.  (Bucket sizes under boundary "
    "classification differ from ntile's equal thirds when scores tie "
    "across a cut — ties stay together, the statistically meaningful "
    "behavior.)",
)
def text_perplexity_buckets(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").select("doc_id", "lang")
    nll = text_unigram_logprob(spark, sf_dir)
    scored = nll.join(docs, "doc_id").select("lang", "avg_nll")
    return (
        with_lang_tercile_bucket(scored)
        .groupBy("lang", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("avg_nll"), 4).alias("bucket_avg_nll"),
        )
    )


@query(
    "text_chunk_windows",
    """
    WITH w AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS wrds
        FROM documents
    )
    SELECT doc_id,
           CAST((s - 1) // 40 AS BIGINT) AS chunk_idx,
           CAST(least(50, len(wrds) - s + 1) AS BIGINT) AS n_tokens,
           wrds[s] AS first_tok,
           wrds[s + least(50, len(wrds) - s + 1) - 1] AS last_tok
    FROM w, UNNEST(generate_series(1, len(wrds), 40)) AS g(s)
    WHERE len(wrds) > 0
    """,
    doc="Training-chunk windowing: every doc split into 50-token "
    "chunks with stride 40 (10-token overlap) — the standard "
    "pre-tokenization packing step. Pure array arithmetic + one "
    "posexplode; the 1→N expansion happens inside the scan stage "
    "(no shuffle at all), so at 100 TB it streams: each task chunks "
    "its own documents and nothing is exchanged.",
)
def text_chunk_windows(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id",
        F.filter(F.split("text", r"\s+"), lambda t: t != "").alias("w"),
    ).where(F.size("w") > 0)
    # 0-based starts 0, 40, 80, ... ; chunk covers [s, s + n_tok)
    return words.select(
        "doc_id",
        F.posexplode(F.expr("sequence(0, size(w) - 1, 40)")).alias(
            "chunk_idx", "s"
        ),
        F.col("w"),
    ).select(
        "doc_id",
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.least(F.lit(50), F.size("w") - F.col("s"))
        .cast("long")
        .alias("n_tokens"),
        F.expr("w[s]").alias("first_tok"),
        F.expr("w[s + least(50, size(w) - s) - 1]").alias("last_tok"),
    )


@query(
    "sample_weighted_topk",
    """
    WITH keyed AS (
        SELECT doc_id, n_chars,
               -ln((1.0 + CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)
                                              || ':wsample'), 1, 8) AS BIGINT))
                   / 4294967298.0) / n_chars AS k
        FROM documents WHERE n_chars > 0
    )
    SELECT doc_id, n_chars,
           floor(k * 1000000 + 0.5) / 1000000 AS sort_key
    FROM keyed ORDER BY sort_key ASC, doc_id LIMIT 200
    """,
    doc="Deterministic weighted sample (Efraimidis-Spirakis A-ES): "
    "each doc draws u from an md5-derived uniform and keeps key "
    "-ln(u)/weight; the global top-200 by key is a weighted sample "
    "without replacement, here weighted by n_chars (the quality-"
    "weighted mixing primitive of training-data pipelines). The key "
    "is a row-local projection and the top-k is TakeOrdered — "
    "per-partition heaps then a driver merge, NO global sort shuffle; "
    "rerunning, repartitioning, or switching engines reproduces the "
    "identical sample (u is hash-derived, never rand()).",
)
def sample_weighted_topk(spark, sf_dir):
    docs = table(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (
        1.0
        + F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wsample"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("double")
    ) / 4294967298.0
    k = -F.log(u) / F.col("n_chars")
    # Rank on the ROUNDED key (floor form, see core.py's rounding
    # policy) with a doc_id tie-break: JVM and libm ln() differ by
    # 1 ulp, and ranking raw keys lets docs straddling the #200
    # cutoff swap between engines (the DSIR queries' policy).
    sk = F.floor(k * 1000000 + 0.5) / 1000000
    return (
        docs.select("doc_id", "n_chars", sk.alias("sort_key"))
        .orderBy(F.col("sort_key").asc(), "doc_id")
        .limit(200)
    )


#: Concat-and-chunk packing: tokens per packed training sequence and
#: the shard fan-out the packing is local to.  Packing is inherently
#: order-dependent, so it runs WITHIN a deterministic shard (docs in
#: doc_id order) — the same contract real pipelines use so that any
#: shard can be packed independently on any executor.
PACK_SEQ_LEN = 512
PACK_SHARDS = 8


#: Concat-and-chunk packing CTEs, shared VERBATIM by the packing
#: graded query and the shard WRITER's oracle (pipeline_write_shards)
#: — one definition so the two cannot drift.
_PACK_CTES = f"""
    t AS (
        SELECT doc_id, doc_id % {PACK_SHARDS} AS shard,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS n_tok
        FROM documents
    ),
    c AS (
        SELECT doc_id, shard, n_tok,
               sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
        FROM t
    ),
    packed AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST((cum - n_tok) // {PACK_SEQ_LEN} AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens_in
        FROM c
        GROUP BY shard, seq_id
    )
"""


def _doc_seq_assign(t, order_cols=("doc_id",), keep_cols=()):
    """The doc → training-sequence assignment underlying the
    concat-and-chunk pack: docs concatenate in ``order_cols`` order
    within their pack shard and each doc belongs to the sequence its
    first token lands in.  Factored out of _pack_from_counts so the
    gate-fed shard close can derive per-sequence SOURCE composition
    from the SAME assignment rule (one definition, two consumers).
    ``keep_cols`` ride along unchanged."""
    from pyspark.sql import Window as W

    w = W.partitionBy("shard").orderBy(*order_cols).rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    return c.select(
        F.col("shard").cast("long").alias("shard"),
        F.expr(
            f"CAST((cum - n_tok) DIV {PACK_SEQ_LEN} AS BIGINT)"
        ).alias("seq_id"),
        "doc_id",
        "n_tok",
        *keep_cols,
    )


def _pack_from_counts(t, order_cols=("doc_id",)):
    """The concat-and-chunk pack over per-doc token-count rows
    ``(doc_id, shard, n_tok)`` — factored so the LIVE epoch writer
    (streaming_write_shards) packs its accumulated arrivals through
    the SAME rule as the batch corpus pack.  ``order_cols`` is the
    within-shard concatenation order (the budgeted epoch writer packs
    epoch-major: all of epoch 0, then epoch 1, ... — so repeats of a
    doc land in distinct training sequences)."""
    return (
        _doc_seq_assign(t, order_cols=order_cols)
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.sum("n_tok").cast("long").alias("n_tokens_in"),
        )
        .orderBy("shard", "seq_id")
    )


def _doc_token_counts(docs):
    """(doc_id, shard, n_tok) — the pack's per-doc scan projection."""
    return docs.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("long")
        .alias("n_tok"),
    )


@query(
    "pipeline_pack_sequences",
    f"""
    WITH {_PACK_CTES}
    SELECT shard, seq_id, n_docs, first_doc, n_tokens_in
    FROM packed
    ORDER BY shard, seq_id
    """,
    doc=f"Training-sequence packing (concat-and-chunk, the GPT-style "
    f"pack): docs concatenate in doc_id order within {PACK_SHARDS} "
    f"hash shards and split every {PACK_SEQ_LEN} tokens; each doc is "
    "assigned the sequence its first token lands in. One shuffle "
    "(hash by shard) + one window cumsum per shard + an all-integer "
    "aggregate — per-shard packing is embarrassingly parallel, which "
    "is exactly why real pipelines shard first: a 100 TB corpus "
    "packs as thousands of independent shard-local sorts instead of "
    "one global order. All-bigint output, so the oracle comparison "
    "is exact (no float rounding anywhere).",
)
def pipeline_pack_sequences(spark, sf_dir):
    return _pack_from_counts(
        _doc_token_counts(table(spark, sf_dir, "documents"))
    )


#: Training-shard writer geometry: output shard fan-out and the
#: deterministic-shuffle seed (folded into the md5 sort key AND the
#: cache marker, so changing it rebuilds every artifact).
WRITE_SHARDS = 16
SHARD_SEED = 42


def _shard_sort_key() -> F.Column:
    """The seeded deterministic-shuffle sort key over packed sequences
    — one definition shared by the builder and the plan audit (so the
    audited ranking subplan cannot drift from the one that runs)."""
    return F.substring(
        F.md5(
            F.concat(
                F.col("shard").cast("string"),
                F.lit(":"),
                F.col("seq_id").cast("string"),
                F.lit(f":shard:{SHARD_SEED}"),
            )
        ),
        1,
        16,
    )


def _shard_key_sql() -> str:
    """The seeded-shuffle sort key as a SQL expression over columns
    (shard, seq_id) — the SQL twin of _shard_sort_key.  ONE key
    definition for every oracle that replays the writer's shuffle
    (_SHARD_RANK_SQL and the gate mixture oracle), so a seed or
    formula change cannot leave a stale third copy behind."""
    return (
        "substr(md5(CAST(shard AS VARCHAR) || ':' "
        "|| CAST(seq_id AS VARCHAR) "
        f"|| ':shard:{SHARD_SEED}'), 1, 16)"
    )


def _shard_assign_sql() -> str:
    """The fixed-size rank-block shard assignment over (rank, total)
    — the single SQL definition of the writer's block cut."""
    return (
        f"(rank - 1) // ((total + {WRITE_SHARDS - 1}) "
        f"// {WRITE_SHARDS})"
    )


#: The seeded-shuffle rank/assignment CTE fragment over a CTE named
#: ``packed`` — shared by the pipeline_write_shards oracle and the
#: payload writer's oracle (one ranking definition, two graded
#: consumers); its key and assignment expressions come from the
#: shared fragments above.
_SHARD_RANK_SQL = f"""keyed AS (
        SELECT *, {_shard_key_sql()} AS key
        FROM packed
    ),
    ranked AS (
        SELECT *,
               row_number() OVER (ORDER BY key, shard, seq_id) AS rank,
               count(*) OVER () AS total
        FROM keyed
    ),
    assigned AS (
        SELECT *, {_shard_assign_sql()} AS shard_out
        FROM ranked
    )"""


def _write_shards(
    spark,
    sf_dir,
    root: str | None = None,
    seqs_fn=None,
    root_base: str = "/tmp/durablestreams_shards_v1",
    params: str | None = None,
    extra_cols: tuple = (),
):
    """Build (or serve from cache) the written training shards: the
    packed sequences of ``pipeline_pack_sequences`` in a SEEDED
    deterministic global shuffle (md5-key order — never rand(), the
    split_train_valid_test idiom), split into WRITE_SHARDS fixed-size
    rank blocks and written as one parquet partition per output shard.
    Returns the read-back DataFrame.

    The exact global rank over the shuffled order is computed by the
    two-phase 256-bucket plan (the sample_token_budget pattern): a
    per-bucket row_number (partitioned window — no global sort) plus
    broadcast bucket-prefix offsets from an O(256) rollup, so the only
    corpus-sized exchange is the bucket hash partition — the shape
    that still works when the sequence count is billions."""
    from pyspark.sql import Window as W

    def build(root):
        seqs = (
            seqs_fn()
            if seqs_fn is not None
            else pipeline_pack_sequences(spark, sf_dir)
        )
        d = seqs.withColumn("key", _shard_sort_key()).withColumn(
            "bucket", F.substring("key", 1, 2)
        )
        bcnt = d.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
        # 256 rows: the bounded single-partition window is fine here.
        wb = W.orderBy("bucket").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        bases = bcnt.select(
            "bucket",
            (F.sum("cnt").over(wb) - F.col("cnt")).alias("base"),
            F.sum("cnt")
            .over(
                W.orderBy("bucket").rangeBetween(
                    W.unboundedPreceding, W.unboundedFollowing
                )
            )
            .alias("total"),
        )
        wr = W.partitionBy("bucket").orderBy("key", "shard", "seq_id")
        ranked = (
            d.join(F.broadcast(bases), "bucket")
            .withColumn("rank", F.col("base") + F.row_number().over(wr))
            .withColumn(
                "shard_out",
                F.expr(
                    f"(rank - 1) DIV ((total + {WRITE_SHARDS - 1})"
                    f" DIV {WRITE_SHARDS})"
                ).cast("long"),
            )
        )
        (
            ranked.select(
                "shard_out",
                "rank",
                "key",
                "shard",
                "seq_id",
                "n_docs",
                "first_doc",
                "n_tokens_in",
                *extra_cols,
            )
            .repartition("shard_out")
            .sortWithinPartitions("rank")
            .write.mode("overwrite")
            .partitionBy("shard_out")
            .parquet(os.path.join(root, "shards.parquet"))
        )

    root = build_once(
        root or cache_root(root_base, sf_dir),
        sf_dir,
        build,
        name="documents",
        params=params
        or (
            f"pack{PACK_SEQ_LEN}x{PACK_SHARDS}:ws{WRITE_SHARDS}"
            f":seed{SHARD_SEED}:v1"
        ),
    )
    return spark.read.parquet(os.path.join(root, "shards.parquet"))


@query(
    "pipeline_write_shards",
    f"""
    WITH {_PACK_CTES},
    {_SHARD_RANK_SQL}
    SELECT CAST(shard_out AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tokens_in) AS BIGINT) AS n_tokens,
           CAST(sum(CAST('0x' || substr(
               md5(key || ':' || CAST(rank AS VARCHAR)), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_fp
    FROM assigned
    GROUP BY shard_out
    ORDER BY shard_id
    """,
    doc="The training-shard WRITER — the last step a data pipeline "
    "ships (the WebDataset/TFRecord step): packed sequences "
    "(pipeline_pack_sequences' exact shared definition) in a SEEDED "
    "deterministic global shuffle — sort key = md5(seq identity ‖ "
    f"seed {SHARD_SEED}), never rand(), so the assignment is "
    "reproducible byte-for-byte across runs (pinned by test) — cut "
    f"into {WRITE_SHARDS} fixed-size rank blocks and WRITTEN as one "
    "parquet partition per shard (persisted artifact, the cache-"
    "marker protocol).  The graded rows are the per-shard MANIFEST "
    "read back FROM THE WRITTEN FILES: seq count, token count, and a "
    "position-sensitive content fingerprint (sum of per-(key, rank) "
    "32-bit md5 prefixes — commutative, so it partial-aggregates at "
    "any scale, yet any membership or ORDER change flips it); the "
    "oracle recomputes all three from the raw corpus, so a writer "
    "that drops, duplicates, misorders, or misassigns one sequence "
    "is a hash mismatch.  Scale: the exact global rank uses the "
    "two-phase 256-bucket plan (per-bucket row_number + broadcast "
    "prefix offsets — no global sort window); the write is one hash "
    "partition by shard.  Reference capability: none — BASELINE.json "
    "north-star operator (VERDICT r9 task 3).",
)
def pipeline_write_shards(spark, sf_dir):
    return _shards_manifest(_write_shards(spark, sf_dir))


def _shards_manifest(shards):
    """Per-shard manifest over written shard rows: seq count, token
    count, position-sensitive (key, rank) content fingerprint —
    shared by the batch writer and the LIVE epoch writer."""
    member_h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("key"), F.lit(":"), F.col("rank").cast("string")
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        shards.groupBy("shard_out")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("n_tokens_in").cast("long").alias("n_tokens"),
            F.sum(member_h).cast("long").alias("content_fp"),
        )
        .select(
            F.col("shard_out").cast("long").alias("shard_id"),
            "n_seqs",
            "n_tokens",
            "content_fp",
        )
        .orderBy("shard_id")
    )


#: Candidate training-sequence lengths for the packing-efficiency
#: sweep (powers of two around PACK_SEQ_LEN, the lengths a team
#: actually debates).
PACK_LEN_LADDER = (128, 256, 512, 1024, 2048)


@query(
    "pipeline_pack_efficiency",
    f"""
    WITH t AS (
        SELECT doc_id % {PACK_SHARDS} AS shard,
               len(list_filter(string_split_regex(text, '\\s+'),
                               x -> x <> '')) AS n_tok
        FROM documents
    ),
    st AS (SELECT shard, CAST(sum(n_tok) AS BIGINT) AS shard_toks
           FROM t GROUP BY shard),
    ladder AS (SELECT CAST(UNNEST([{", ".join(str(x) for x in PACK_LEN_LADDER)}])
                           AS BIGINT) AS seq_len),
    g AS (
        SELECT l.seq_len, s.shard, s.shard_toks,
               (s.shard_toks + l.seq_len - 1) // l.seq_len AS n_seqs,
               (s.shard_toks + l.seq_len - 1) // l.seq_len * l.seq_len
                   - s.shard_toks AS pad
        FROM st s CROSS JOIN ladder l
    )
    SELECT seq_len,
           CAST(sum(n_seqs) AS BIGINT) AS n_seqs,
           CAST(sum(shard_toks) AS BIGINT) AS n_tokens,
           CAST(sum(pad) AS BIGINT) AS pad_tokens,
           floor(CAST(sum(pad) AS DOUBLE)
                 / (sum(shard_toks) + sum(pad)) * 1000000 + 0.5)
               / 1000000 AS pad_frac
    FROM g
    GROUP BY seq_len
    ORDER BY seq_len
    """,
    doc="Packing-efficiency sweep — the table a team reads before "
    "fixing the training sequence length: for each candidate length "
    "in the ladder, the sequence count, the padding wasted by "
    "concat-and-chunk packing (under this engine's shard-local "
    "geometry, pipeline_pack_sequences' exact rule: waste = the final "
    "partial chunk of each of the " f"{PACK_SHARDS} shards), and the "
    "padded fraction of compute.  ONE corpus pass (the per-shard "
    "token totals, a partial-aggregated O(#shards) rollup); the sweep "
    "itself is O(#shards x |ladder|) arithmetic on driver-scale rows "
    "— the length decision costs nothing more than the token count "
    "the pipeline already maintains.  All-integer counts; the one "
    "ratio floor-snaps to 1e-6.",
)
def pipeline_pack_efficiency(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    t = docs.select(
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        F.size(F.filter(F.split("text", r"\s+"), lambda x: x != ""))
        .cast("long")
        .alias("n_tok"),
    )
    st = t.groupBy("shard").agg(F.sum("n_tok").alias("shard_toks"))
    ladder = F.explode(
        F.array(*[F.lit(int(x)).cast("long") for x in PACK_LEN_LADDER])
    )
    g = st.select("shard", "shard_toks", ladder.alias("seq_len")).select(
        "seq_len",
        "shard_toks",
        F.expr("(shard_toks + seq_len - 1) DIV seq_len").alias("n_seqs"),
        F.expr(
            "(shard_toks + seq_len - 1) DIV seq_len * seq_len - shard_toks"
        ).alias("pad"),
    )
    pad_frac = F.floor(
        F.sum("pad").cast("double")
        / (F.sum("shard_toks") + F.sum("pad"))
        * 1000000
        + F.lit(0.5)
    ) / 1000000
    return (
        g.groupBy("seq_len")
        .agg(
            F.sum("n_seqs").cast("long").alias("n_seqs"),
            F.sum("shard_toks").cast("long").alias("n_tokens"),
            F.sum("pad").cast("long").alias("pad_tokens"),
            pad_frac.alias("pad_frac"),
        )
        .orderBy("seq_len")
    )


#: Source-balancing cap: at most this many docs survive per source.
QUOTA_PER_SOURCE = 120


@query(
    "sample_source_quota",
    f"""
    WITH ranked AS (
        SELECT doc_id, source,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || ':quota'), 1, 8),
                            doc_id) AS rk
        FROM documents
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(min(doc_id) AS BIGINT) AS min_kept_doc,
           CAST(max(doc_id) AS BIGINT) AS max_kept_doc
    FROM ranked
    WHERE rk <= {QUOTA_PER_SOURCE}
    GROUP BY source ORDER BY source
    """,
    doc=f"Source-balancing quota: keep at most {QUOTA_PER_SOURCE} docs "
    "per source, chosen by md5-hash order (a reproducible uniform "
    "draw, not rand() — survives re-runs and repartitioning; same "
    "policy as split_train_valid_test). This is the domain-mixing cap "
    "every corpus recipe applies so one crawl can't dominate "
    "training. One shuffle on source + a per-source top-K window; at "
    "100 TB skewed sources are exactly why the cap exists, and the "
    "rank window only materializes K survivors per group.",
)
def sample_source_quota(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    key = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":quota"))), 1, 8
    )
    w = W.partitionBy("source").orderBy(key, "doc_id")
    return (
        docs.select("doc_id", "source", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= QUOTA_PER_SOURCE)
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.min("doc_id").cast("long").alias("min_kept_doc"),
            F.max("doc_id").cast("long").alias("max_kept_doc"),
        )
        .orderBy("source")
    )


@query(
    "text_vocab_oov",
    f"""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS n FROM toks GROUP BY tok
            ORDER BY n DESC, tok LIMIT {VOCAB_SIZE})
    ),
    tot AS (SELECT doc_id, count(*) AS n_tok FROM toks GROUP BY doc_id),
    oov AS (SELECT doc_id, count(*) AS n_oov FROM toks
            WHERE tok NOT IN (SELECT tok FROM vocab) GROUP BY doc_id)
    SELECT t.doc_id,
           CAST(t.n_tok AS BIGINT) AS n_tok,
           CAST(coalesce(o.n_oov, 0) AS BIGINT) AS n_oov,
           floor(CAST(coalesce(o.n_oov, 0) AS DOUBLE) / t.n_tok * 10000 + 0.5)
               / 10000 AS oov_ratio
    FROM tot t LEFT JOIN oov o ON o.doc_id = t.doc_id
    """,
    doc=f"Vocabulary coverage: induce the top-{VOCAB_SIZE} corpus "
    "vocabulary (frequency order, token tie-break), then score every "
    "document's out-of-vocabulary token ratio against it — the "
    "tokenizer-fit / domain-shift signal checked before committing a "
    "vocab. Two passes over one tokenization: a map-side-combined "
    "count + TakeOrdered for the vocab (tiny), then a broadcast "
    "LEFT ANTI join for the OOV counts — the corpus-side scan never "
    "shuffles by token, only by doc_id for the final per-doc "
    "aggregate.",
)
def text_vocab_oov(spark, sf_dir):
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("tok"),
    )
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "tok")
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("iv"))
    )
    # Scoring is ONE corpus pass: mark membership via broadcast left
    # join, then count total + OOV in a single conditional aggregate
    # (separate tot/oov branches would re-scan and re-shuffle the
    # tokenization twice more).
    marked = toks.join(F.broadcast(vocab), "tok", "left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tok"),
        F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_oov"),
        (
            F.floor(
                F.sum(F.when(F.col("iv").isNull(), 1).otherwise(0))
                .cast("double")
                / F.count(F.lit(1))
                * 10000
                + 0.5
            )
            / 10000
        ).alias("oov_ratio"),
    )


@query(
    "sample_temperature_mixture",
    """
    WITH counts AS (
        SELECT source, count(*) AS n FROM documents GROUP BY source),
    tot AS (
        SELECT sum(n) AS n_corpus,
               sum(CAST(floor(sqrt(n)) AS BIGINT)) AS s_w
        FROM counts),
    keyed AS (
        SELECT d.doc_id, d.source, c.n, t.n_corpus, t.s_w,
               CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                                       || ':tempmix'), 1, 8) AS BIGINT) AS u
        FROM documents d
        JOIN counts c USING (source)
        CROSS JOIN tot t)
    SELECT source,
           CAST(max(n) AS BIGINT) AS n_total,
           CAST(sum(CASE WHEN CAST(u AS HUGEINT) * 2 * s_w * n
                          < CAST(n_corpus AS HUGEINT)
                            * CAST(floor(sqrt(n)) AS BIGINT) * 4294967296
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM keyed GROUP BY source ORDER BY source
    """,
    doc="Temperature-weighted source mixing (alpha = 0.5, the "
    "multilingual/Pile rebalancing recipe): source i with n_i docs is "
    "sampled at rate C*sqrt(n_i)/n_i with C chosen so the expected "
    "kept corpus is half the input — small sources are upweighted, "
    "dominant crawls downweighted.  The keep decision is EXACT "
    "INTEGER arithmetic end to end: u*2*S*n_i < N*w_i*2^32 with "
    "w_i = floor(sqrt(n_i)) and S = sum(w_i), so no IEEE threshold "
    "exists to flip under different summation orders across engines "
    "(doubles would differ in the last ulp between Spark's and the "
    "oracle's aggregation order; a hash gate turns that into a red "
    "row).  The rate>=1 clamp falls out of u < 2^32 for free.  "
    "Plan: one count agg, one 5-row broadcast, one row-local integer "
    "predicate — a single corpus scan at any scale.",
)
def sample_temperature_mixture(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    counts = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    w = F.floor(F.sqrt(F.col("n"))).cast("long")
    tot = counts.agg(
        F.sum("n").alias("n_corpus"), F.sum(w).alias("s_w")
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":tempmix"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    keyed = (
        docs.select("doc_id", "source", u.alias("u"))
        .join(F.broadcast(counts), "source")
        .crossJoin(F.broadcast(tot))
    )
    dec = "decimal(38,0)"
    kept = (
        F.col("u").cast(dec) * 2 * F.col("s_w") * F.col("n")
        < F.col("n_corpus").cast(dec)
        * F.floor(F.sqrt(F.col("n"))).cast("long")
        * F.lit(4294967296).cast("long")
    )
    return (
        keyed.groupBy("source")
        .agg(
            F.max("n").cast("long").alias("n_total"),
            F.sum(kept.cast("long")).cast("long").alias("n_kept"),
        )
        .orderBy("source")
    )


@query(
    "sample_token_budget",
    """
    WITH toks AS (
        SELECT doc_id, source,
               len(list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '')) AS n_tok,
               substr(md5(CAST(doc_id AS VARCHAR) || ':budget'), 1, 8) AS u
        FROM documents),
    tot AS (SELECT sum(n_tok) * 2 // 5 AS budget FROM toks),
    c AS (
        SELECT *, sum(n_tok) OVER (ORDER BY u, doc_id
                                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM toks)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs_kept,
           CAST(sum(n_tok) AS BIGINT) AS tokens_kept
    FROM c, tot WHERE cum <= budget
    GROUP BY source ORDER BY source
    """,
    doc="Token-budget truncation (take a hash-shuffled corpus prefix "
    "until the training budget — 40% of total tokens, integer "
    "arithmetic — is spent).  The oracle's naive form is a GLOBAL "
    "ordered cumsum — a single-partition window at 100 TB; the "
    "engine instead runs the two-phase scalable plan: docs bucket by "
    "the first 2 hex chars of their hash key (256 ordered buckets — "
    "the bucket is a PREFIX of the sort key, so bucket-major order "
    "IS the global hash order), per-bucket token totals roll into "
    "256-row bucket bases (bounded single-partition window), and the "
    "per-doc cumsum runs partitioned WITHIN each bucket — the only "
    "big window is distributed, and each row's global cumulative "
    "position is base + within-bucket cumsum.  Both forms keep "
    "exactly the same docs; the hash gate proves it.",
)
def sample_token_budget(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    u = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":budget"))), 1, 8
    )
    d = docs.select(
        "doc_id",
        "source",
        n_tok.cast("long").alias("n_tok"),
        u.alias("u"),
    ).withColumn("bucket", F.substring("u", 1, 2))
    btot = d.groupBy("bucket").agg(F.sum("n_tok").alias("btok"))
    # 256 rows: the bounded single-partition window + the budget scalar
    wb = W.orderBy("bucket").rowsBetween(W.unboundedPreceding, W.currentRow)
    bases = btot.select(
        "bucket",
        (F.sum("btok").over(wb) - F.col("btok")).alias("base"),
        F.sum("btok").over(
            W.orderBy("bucket").rangeBetween(
                W.unboundedPreceding, W.unboundedFollowing
            )
        ).alias("total"),
    ).withColumn("budget", F.expr("total * 2 div 5"))
    wd = W.partitionBy("bucket").orderBy("u", "doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    joined = d.join(F.broadcast(bases.select("bucket", "base", "budget")), "bucket")
    cum = F.col("base") + F.sum("n_tok").over(wd)
    return (
        joined.withColumn("cum", cum)
        .where(F.col("cum") <= F.col("budget"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs_kept"),
            F.sum("n_tok").cast("long").alias("tokens_kept"),
        )
        .orderBy("source")
    )


#: Shared split-bucket SQL (identical to split_train_valid_test).
_SPLIT_CASE = """CASE
        WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2)
             < 'cc' THEN 'train'
        WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2)
             < 'e6' THEN 'valid'
        ELSE 'test' END"""


def _split_col() -> F.Column:
    """The same md5-bucket split assignment as split_train_valid_test."""
    bucket = F.substring(
        F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2
    )
    return (
        F.when(bucket < "cc", "train")
        .when(bucket < "e6", "valid")
        .otherwise("test")
    )


@query(
    "split_leakage_ngrams",
    f"""
    WITH shingles AS ({_DUCK_SHINGLE5}),
    tagged AS (
        SELECT s.doc_id, d.lang, s.sh,
               substr(md5(s.sh), 1, 16) AS gh,
               {_SPLIT_CASE.replace("doc_id", "s.doc_id")} AS split
        FROM shingles s JOIN documents d ON s.doc_id = d.doc_id
    ),
    train_grams AS (SELECT DISTINCT gh FROM tagged WHERE split = 'train'),
    valid_totals AS (
        SELECT doc_id, lang, count(*) AS n_shingles
        FROM tagged WHERE split = 'valid' GROUP BY doc_id, lang
    ),
    hits AS (
        SELECT v.doc_id, count(*) AS n_hit
        FROM (SELECT doc_id, gh FROM tagged WHERE split = 'valid') v
        JOIN train_grams t USING (gh)
        GROUP BY v.doc_id
    )
    SELECT t.doc_id, t.lang, t.n_shingles, h.n_hit,
           floor(h.n_hit * 1.0 / t.n_shingles * 10000 + 0.5) / 10000
               AS overlap_ratio
    FROM valid_totals t JOIN hits h USING (doc_id)
    """,
    doc="Cross-split contamination report: validation documents that "
    "share any 5-gram shingle with the TRAINING split (the "
    "train/valid leak check every corpus release runs — same intent "
    "as text_decontaminate, but split-vs-split, where the reference "
    "set is corpus-proportional rather than a tiny benchmark).  "
    "Because the train-side gram set grows with the corpus it is "
    "NEVER broadcast: both sides reduce each distinct 5-gram to a "
    "fixed-width 16-hex-char md5 prefix (the substring-dedup shuffle "
    "trick — a 64-bit key moves instead of the raw gram string) and "
    "meet in a shuffle equi-join on that key.  Per-doc shingle dedup "
    "is array_distinct inside the scan (shuffle-free); split "
    "assignment is the identical md5-bucket projection "
    "split_train_valid_test grades, so the splits audited here are "
    "exactly the splits that query ships.",
)
def split_leakage_ngrams(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    # spread(): see text_decontaminate — the shingle stage is the cost.
    arrays = _shingle5_arrays(spread(docs)).withColumn("split", _split_col())
    lang = docs.select("doc_id", "lang")
    train_grams = (
        arrays.where(F.col("split") == "train")
        .select(F.explode("shs").alias("sh"))
        .select(F.substring(F.md5("sh"), 1, 16).alias("gh"))
        .distinct()
    )
    valid = arrays.where(F.col("split") == "valid")
    totals = valid.select("doc_id", F.size("shs").alias("n_shingles"))
    hits = (
        valid.select("doc_id", F.explode("shs").alias("sh"))
        .select("doc_id", F.substring(F.md5("sh"), 1, 16).alias("gh"))
        .join(train_grams, "gh")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        totals.join(hits, "doc_id")
        .join(lang, "doc_id")
        .select(
            "doc_id",
            "lang",
            "n_shingles",
            "n_hit",
            (
                F.floor(
                    F.col("n_hit") / F.col("n_shingles") * 10000 + 0.5
                )
                / 10000
            ).alias("overlap_ratio"),
        )
    )


#: DSIR hashed-feature space: unigrams+bigrams hashed into a CONSTANT
#: number of buckets — the whole point of the hashing trick is that
#: the learned importance table is corpus-size-independent (256 rows
#: at 1 GB and at 100 TB), so it broadcasts safely where a raw
#: vocabulary table would not (the text_unigram_logprob lesson).
DSIR_BUCKETS = 256
DSIR_TARGET_LANG = "en"
DSIR_TOPK = 50


#: Shared DSIR oracle CTE chain: token arrays -> hashed features ->
#: bucket counts -> smoothed importance table -> per-doc raw weights.
#: One definition feeds BOTH graded DSIR oracles so they cannot drift.
_DSIR_CTES = f"""w AS (
        SELECT doc_id, lang,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS ws
        FROM documents),
    f AS (
        SELECT doc_id, lang,
               UNNEST(list_concat(
                   ws,
                   list_transform(range(1, len(ws)),
                                  i -> ws[i] || ' ' || ws[i + 1]))) AS feat
        FROM w),
    b AS (
        SELECT doc_id, lang,
               CAST('0x' || substr(md5(feat), 1, 8) AS BIGINT)
                   % {DSIR_BUCKETS} AS bkt
        FROM f),
    c AS (
        SELECT bkt, count(*) AS raw_c,
               sum(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                        THEN 1 ELSE 0 END) AS tgt_c
        FROM b GROUP BY bkt),
    t AS (SELECT sum(raw_c) AS raw_n, sum(tgt_c) AS tgt_n FROM c),
    lam AS (
        SELECT bkt,
               ln((tgt_c + 1.0) / (tgt_n + {DSIR_BUCKETS}))
                   - ln((raw_c + 1.0) / (raw_n + {DSIR_BUCKETS})) AS lam
        FROM c CROSS JOIN t),
    scored AS (
        SELECT doc_id, lang, count(*) AS n_feats, sum(lam) AS w_raw
        FROM b JOIN lam USING (bkt)
        WHERE lang <> '{DSIR_TARGET_LANG}'
        GROUP BY doc_id, lang)"""


def _dsir_scored(spark, sf_dir):
    """Raw-pool documents with their unrounded DSIR importance
    log-weight: (doc_id, lang, n_feats, w_raw).  Shared subplan of
    sample_dsir_importance (rank by weight) and sample_dsir_resample
    (Gumbel-top-k) — one definition, two graded queries."""
    # spread(): the unigram+bigram explode and per-feature md5 run
    # twice (count pass, scoring pass) and are the whole cost; they
    # must not run at the input's file-partition count on small-file
    # fixtures.  No-op on any at-scale scan (files >= cores).
    docs = spread(table(spark, sf_dir, "documents"))
    ws = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    w = docs.select("doc_id", "lang", ws.alias("ws"))
    n = F.size("ws")
    bigrams = F.zip_with(
        F.slice("ws", F.lit(1), F.greatest(n - 1, F.lit(0))),
        F.slice("ws", F.lit(2), F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    feats = w.select(
        "doc_id",
        "lang",
        F.explode(F.concat(F.col("ws"), bigrams)).alias("feat"),
    )
    bkt = (
        F.conv(F.substring(F.md5("feat"), 1, 8), 16, 10).cast("long")
        % DSIR_BUCKETS
    )
    b = feats.select("doc_id", "lang", bkt.alias("bkt"))
    c = b.groupBy("bkt").agg(
        F.count(F.lit(1)).alias("raw_c"),
        F.sum(
            (F.col("lang") == DSIR_TARGET_LANG).cast("long")
        ).alias("tgt_c"),
    )
    t = c.agg(
        F.sum("raw_c").alias("raw_n"), F.sum("tgt_c").alias("tgt_n")
    )
    lam = c.crossJoin(F.broadcast(t)).select(
        "bkt",
        (
            F.log((F.col("tgt_c") + 1.0) / (F.col("tgt_n") + DSIR_BUCKETS))
            - F.log((F.col("raw_c") + 1.0) / (F.col("raw_n") + DSIR_BUCKETS))
        ).alias("lam"),
    )
    return (
        b.where(F.col("lang") != DSIR_TARGET_LANG)
        .join(F.broadcast(lam), "bkt")
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            F.sum("lam").alias("w_raw"),
        )
    )


@query(
    "sample_dsir_importance",
    f"""
    WITH {_DSIR_CTES}
    SELECT doc_id, lang, CAST(n_feats AS BIGINT) AS n_feats,
           round(w_raw, 4) AS dsir_logweight
    FROM scored
    ORDER BY dsir_logweight DESC, doc_id
    LIMIT {DSIR_TOPK}
    """,
    doc="DSIR data selection (Xie et al. 2023, 'Data Selection for "
    "Language Models via Importance Resampling'): estimate hashed "
    f"n-gram (unigram+bigram, {DSIR_BUCKETS} buckets) feature "
    f"distributions for a target domain (lang='{DSIR_TARGET_LANG}' "
    "plays the curated target) and for the raw pool, then score every "
    "non-target document by its total importance log-weight "
    "sum(ln p_target(b) - ln p_raw(b)) with add-one smoothing, "
    f"keeping the top {DSIR_TOPK} — the docs whose feature mix most "
    "resembles the target.  The hashing trick IS the scale story: "
    f"the importance table is exactly {DSIR_BUCKETS} rows no matter "
    "the corpus size (contrast a raw vocabulary LM, which grows with "
    "the corpus and killed the unbroadcastable text_unigram_logprob "
    "v1), so it broadcasts at 100 TB.  Plan: bigrams are formed "
    "ARRAY-SIDE (zip_with over two slices — zero window, zero extra "
    "shuffle), one hash-partial-agg over buckets, one broadcast join "
    "back over the feature stream, one per-doc partial agg, "
    "TakeOrdered.  Ranking is on the ROUNDED weight with doc_id "
    "tie-break, so cross-engine ulp noise in the float sums cannot "
    "reorder the graded rows.",
)
def sample_dsir_importance(spark, sf_dir):
    scored = _dsir_scored(spark, sf_dir)
    return (
        scored.select(
            "doc_id",
            "lang",
            "n_feats",
            F.round("w_raw", 4).alias("dsir_logweight"),
        )
        .orderBy(F.col("dsir_logweight").desc(), "doc_id")
        .limit(DSIR_TOPK)
    )


def gumbel_col(id_col, salt: str):
    """Deterministic Gumbel(0,1) noise from an md5-derived uniform —
    the shared weighted-sampling primitive (Gumbel-top-k = exact
    weighted sample without replacement): u = (h + 0.5) / 2^32 keeps
    u strictly inside (0,1) so -ln(-ln(u)) is always finite; never
    rand(), which could not survive re-runs, engine swaps or
    repartitioning.  One definition for every engine-side consumer
    (sample_dsir_resample, sample_quality_resample); the matching SQL
    is gumbel_sql()."""
    h = F.conv(
        F.substring(F.md5(F.concat(id_col.cast("string"), F.lit(salt))), 1, 8),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    return -F.log(-F.log(u))


def gumbel_sql(id_expr: str, salt: str) -> str:
    """The DuckDB half of :func:`gumbel_col` — one definition, every
    oracle consumer."""
    return (
        f"-ln(-ln((CAST('0x' || substr(md5(CAST({id_expr} AS VARCHAR) "
        f"|| '{salt}'), 1, 8) AS BIGINT) + 0.5) / 4294967296.0))"
    )


@query(
    "sample_dsir_resample",
    f"""
    WITH {_DSIR_CTES},
    g AS (
        SELECT doc_id, lang, w_raw,
               {gumbel_sql("doc_id", ":dsir")} AS gum
        FROM scored)
    SELECT doc_id, lang,
           round(w_raw, 4) AS dsir_logweight,
           round(w_raw + gum, 4) AS gumbel_key
    FROM g
    ORDER BY gumbel_key DESC, doc_id
    LIMIT {DSIR_TOPK}
    """,
    doc="The RESAMPLING half of DSIR (Xie et al. 2023 §3: sample "
    "without replacement proportionally to exp(importance weight), "
    "not just rank by it — rank-only selection collapses onto one "
    "mode of the target; the paper's Gumbel-top-k draw preserves "
    "diversity): each raw-pool doc gets key = w + Gumbel(0,1), and "
    f"the top {DSIR_TOPK} keys are exactly a weighted sample without "
    "replacement (the Gumbel-max trick).  The Gumbel draw derives "
    "from an md5 hash of the doc_id — never rand(), which would not "
    "survive re-runs, engine swaps, or repartitioning (the "
    "split_train_valid_test rule); u = (h + 0.5)/2^32 stays strictly "
    "inside (0,1) so -ln(-ln(u)) is always finite.  Same bounded "
    "plan as sample_dsir_importance (shared _dsir_scored subplan) "
    "plus one row-local key expression and a TakeOrdered.  Ranking "
    "is on the ROUNDED key + doc_id tie-break, cross-engine-stable.",
)
def sample_dsir_resample(spark, sf_dir):
    scored = _dsir_scored(spark, sf_dir)
    gum = gumbel_col(F.col("doc_id"), ":dsir")
    return (
        scored.select(
            "doc_id",
            "lang",
            F.round("w_raw", 4).alias("dsir_logweight"),
            F.round(F.col("w_raw") + gum, 4).alias("gumbel_key"),
        )
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(DSIR_TOPK)
    )


@query(
    "sample_mixture_weights",
    """
    WITH per_doc AS (
        SELECT source,
               len(list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '')) AS n_tok
        FROM documents
    ),
    per_src AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               -- alpha=0.5 mass, snapped to a 1e-6 grid and summed as
               -- an EXACT integer (order-independent normalizer)
               CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS s6
        FROM per_doc GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
                   CAST(sum(s6) AS BIGINT) AS s6_total FROM per_src)
    SELECT source, n_docs, n_tokens,
           floor(CAST(n_tokens AS DOUBLE) / n_total * 1000000 + 0.5) / 1000000
               AS natural_share,
           floor(CAST(s6 AS DOUBLE) / s6_total * 1000000 + 0.5) / 1000000
               AS target_share,
           floor((CAST(s6 AS DOUBLE) / s6_total)
                 / (CAST(n_tokens AS DOUBLE) / n_total) * 10000 + 0.5) / 10000
               AS up_weight,
           least(1.0, (CAST(s6 AS DOUBLE) / s6_total)
                      / (CAST(n_tokens AS DOUBLE) / n_total)) > 0.9999
               AS keep_all
    FROM per_src, tot
    ORDER BY source
    """,
    doc="Data-mixing planner (the temperature-scaled mixture rule of "
    "multilingual/multi-source LM training, alpha = 0.5): per-source "
    "natural token share vs the alpha-tempered target share "
    "p_i ∝ n_i^0.5, the up/down-weight factor between them, and a "
    "keep-all flag for sources already at-or-under target — the table "
    "a curation run feeds into its per-source sampling stage "
    "(sample_source_quota / sample_temperature_mixture execute the "
    "plan this query computes).  Scale shape: one partial-aggregated "
    "pass over the corpus (per-source token sums are BIGINT-exact), "
    "then O(#sources) rows; the alpha mass is snapped to a 1e-6 grid "
    "and summed as an exact integer so the normalizer is "
    "summation-order-independent (double sqrt sums would be "
    "non-associative across partitions), and every published ratio "
    "uses the repo's floor-form rounding.",
)
def sample_mixture_weights(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    per_src = (
        docs.select("source", n_tok.alias("n_tok"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tok").cast("long").alias("n_tokens"),
        )
        .withColumn(
            "s6",
            F.floor(
                F.sqrt(F.col("n_tokens").cast("double")) * 1000000 + F.lit(0.5)
            ).cast("long"),
        )
    )
    tot = per_src.groupBy().agg(
        F.sum("n_tokens").cast("long").alias("n_total"),
        F.sum("s6").cast("long").alias("s6_total"),
    )
    nat = F.col("n_tokens").cast("double") / F.col("n_total")
    tgt = F.col("s6").cast("double") / F.col("s6_total")
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            (F.floor(nat * 1000000 + F.lit(0.5)) / 1000000).alias(
                "natural_share"
            ),
            (F.floor(tgt * 1000000 + F.lit(0.5)) / 1000000).alias(
                "target_share"
            ),
            (F.floor(tgt / nat * 10000 + F.lit(0.5)) / 10000).alias(
                "up_weight"
            ),
            (F.least(F.lit(1.0), tgt / nat) > 0.9999).alias("keep_all"),
        )
        .orderBy("source")
    )


#: Epoch planner knobs: total training budget = BUDGET_MULT x the
#: corpus's token count — chosen so the fixture's tempered epoch
#: demands STRADDLE the repeat cap (roughly 3.7-4.3 epochs): both the
#: constrained and unconstrained planner branches are exercised, and the Muennighoff et al. 2023 finding that repeated
#: data holds its value up to ~4 epochs and decays sharply after —
#: the cap every data-constrained run schedules against.
EPOCH_BUDGET_MULT = 4
EPOCH_MAX_REPEATS = 4


def _epoch_plan_oracle_sql(doc_block: str, doc_cte: str) -> str:
    """The epoch planner's FULL graded-column oracle over ANY per-doc
    token CTE (source, n_tok) — ONE SQL definition instantiated for
    the whitespace and BPE token units (the SQL twin of
    _epoch_plan_over)."""
    return f"""
    WITH {doc_block},
    per_src AS (
        SELECT source,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS s6
        FROM {doc_cte} GROUP BY source
    ),
    tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
                   CAST(sum(s6) AS BIGINT) AS s6_total FROM per_src),
    j AS (
        SELECT source, n_tokens,
               floor(CAST(s6 AS DOUBLE) / s6_total * 1000000 + 0.5)
                   / 1000000 AS target_share,
               CAST({EPOCH_BUDGET_MULT} * n_total AS BIGINT) AS budget
        FROM per_src, tot
    ),
    r AS (
        SELECT source, n_tokens, target_share,
               CAST(floor(budget * target_share + 0.5) AS BIGINT)
                   AS requested_tokens
        FROM j
    )
    SELECT source, n_tokens, target_share, requested_tokens,
           floor(CAST(requested_tokens AS DOUBLE) / n_tokens * 10000 + 0.5)
               / 10000 AS epochs_needed,
           least(floor(CAST(requested_tokens AS DOUBLE) / n_tokens
                       * 10000 + 0.5) / 10000,
                 CAST({EPOCH_MAX_REPEATS} AS DOUBLE)) AS repeat_factor,
           least(requested_tokens,
                 {EPOCH_MAX_REPEATS} * n_tokens) AS alloc_tokens,
           (requested_tokens > {EPOCH_MAX_REPEATS} * n_tokens)
               AS data_constrained,
           greatest(CAST(0 AS BIGINT),
                    requested_tokens - {EPOCH_MAX_REPEATS} * n_tokens)
               AS shortfall_tokens
    FROM r
    ORDER BY source
    """


@query(
    "pipeline_epoch_plan",
    _epoch_plan_oracle_sql(
        """per_doc AS (
        SELECT source,
               len(list_filter(string_split_regex(text, '\\s+'),
                               t -> t <> '')) AS n_tok
        FROM documents
    )""",
        "per_doc",
    ),
    doc="Data-constrained EPOCH planner — the repeat-factor table of "
    "Muennighoff et al. 2023 ('Scaling Data-Constrained Language "
    "Models'): given the tempered mixing shares "
    "(sample_mixture_weights' alpha=0.5 rule, SAME s6 integer-grid "
    "normalizer) and a training budget of "
    f"{EPOCH_BUDGET_MULT}x the corpus's tokens, how many EPOCHS of "
    "each source does the run schedule?  requested = budget x "
    "tempered share; epochs_needed = requested / available; "
    f"repeat_factor caps at {EPOCH_MAX_REPEATS} (the published "
    "~4-epoch value-decay threshold); alloc_tokens = the capped "
    "integer allocation, data_constrained flags sources whose demand "
    "exceeds the cap, shortfall_tokens is the unmet demand a second "
    "water-filling round would redistribute (reported as data, not "
    "silently re-normalized — the planner's honesty contract).  "
    "Determinism: requested derives from the 1e-6-SNAPPED share "
    "(identical doubles cross-engine) times an exact BIGINT budget; "
    "epochs ratios are divisions of identical longs snapped 4-dp "
    "floor-form; integer allocations and flags are pure BIGINT "
    "arithmetic.  Scale: one partial-aggregated corpus pass to "
    "O(#sources) rows; everything downstream is driver-scale.  The "
    "table pipeline_write_shards consumes when an epoch's shard set "
    "must respect per-source repeat caps.",
)
def pipeline_epoch_plan(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    return _epoch_plan_over(docs.select("source", n_tok.alias("n_tok")))


def _epoch_plan_over(per_doc):
    """The epoch planner's arithmetic over ANY per-doc (source, n_tok)
    token table — factored so the BPE-unit plan (pipeline_epoch_plan_
    bpe) runs the IDENTICAL s6/snap/cap rules over a different token
    unit: the unit is part of the plan's identity, the arithmetic is
    not."""
    per_src = (
        per_doc.groupBy("source")
        .agg(F.sum("n_tok").cast("long").alias("n_tokens"))
        .withColumn(
            "s6",
            F.floor(
                F.sqrt(F.col("n_tokens").cast("double")) * 1000000
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    tot = per_src.groupBy().agg(
        F.sum("n_tokens").cast("long").alias("n_total"),
        F.sum("s6").cast("long").alias("s6_total"),
    )
    share = (
        F.floor(
            F.col("s6").cast("double") / F.col("s6_total") * 1000000
            + F.lit(0.5)
        )
        / 1000000
    )
    j = per_src.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        share.alias("target_share"),
        (F.lit(EPOCH_BUDGET_MULT) * F.col("n_total"))
        .cast("long")
        .alias("budget"),
    )
    r = j.select(
        "source",
        "n_tokens",
        "target_share",
        F.floor(F.col("budget") * F.col("target_share") + F.lit(0.5))
        .cast("long")
        .alias("requested_tokens"),
    )
    epochs = (
        F.floor(
            F.col("requested_tokens").cast("double")
            / F.col("n_tokens")
            * 10000
            + F.lit(0.5)
        )
        / 10000
    )
    cap = F.lit(EPOCH_MAX_REPEATS) * F.col("n_tokens")
    return r.select(
        "source",
        "n_tokens",
        "target_share",
        "requested_tokens",
        epochs.alias("epochs_needed"),
        F.least(epochs, F.lit(float(EPOCH_MAX_REPEATS))).alias(
            "repeat_factor"
        ),
        F.least(F.col("requested_tokens"), cap)
        .cast("long")
        .alias("alloc_tokens"),
        (F.col("requested_tokens") > cap).alias("data_constrained"),
        F.greatest(
            F.lit(0).cast("long"),
            (F.col("requested_tokens") - cap).cast("long"),
        ).alias("shortfall_tokens"),
    ).orderBy("source")


@query(
    "sample_source_kl",
    f"""
    WITH toks AS (
        SELECT source, UNNEST(string_split_regex(text, '\\s+')) AS tok
        FROM documents),
    clean AS (SELECT source, tok FROM toks WHERE tok <> ''),
    freq AS (SELECT tok, count(*) AS c FROM clean GROUP BY tok),
    topk AS (SELECT tok FROM freq ORDER BY c DESC, tok LIMIT {VOCAB_SIZE}),
    mapped AS (
        SELECT source,
               CASE WHEN k.tok IS NULL THEN '<oov>' ELSE clean.tok END
                   AS term
        FROM clean LEFT JOIN topk k USING (tok)),
    sc AS (SELECT source, term, count(*) AS c
           FROM mapped GROUP BY source, term),
    st AS (SELECT source, sum(c) AS n_s FROM sc GROUP BY source),
    ct AS (SELECT term, sum(c) AS c_all FROM sc GROUP BY term),
    tot AS (SELECT sum(c_all) AS n, count(*) AS v FROM ct),
    grid AS (
        SELECT s.source, t.term, coalesce(x.c, 0) AS c_s
        FROM st s
        CROSS JOIN ct t
        LEFT JOIN sc x ON x.source = s.source AND x.term = t.term),
    kl AS (
        -- DECIMAL(38,18) per-term cast + exact decimal sum (the
        -- _NB_SCORED_CTES / SCALE.md long-log-sum policy): a plain
        -- double sum over ~VOCAB+1 terms is shuffle-order-dependent
        -- and can flip round(.,6) between runs/engines; the per-term
        -- double->decimal cast is identical in every engine and the
        -- decimal sum is order-independent.
        SELECT g.source,
               sum(CAST(((g.c_s + 1.0) / (s.n_s + o.v))
                   * (ln((g.c_s + 1.0) / (s.n_s + o.v))
                      - ln((c.c_all + 1.0) / (o.n + o.v)))
                   AS DECIMAL(38, 18))) AS kl
        FROM grid g
        JOIN st s USING (source)
        JOIN ct c USING (term)
        CROSS JOIN tot o
        GROUP BY g.source)
    SELECT source, CAST(s.n_s AS BIGINT) AS n_tokens,
           CAST(round(k.kl, 6) AS DOUBLE) AS kl_nats
    FROM kl k JOIN st s USING (source)
    ORDER BY source
    """,
    doc="Per-source token-distribution drift: KL(source ‖ corpus) in "
    "nats over the shared truncated vocabulary (top-"
    f"{VOCAB_SIZE} by corpus frequency, token tie-break, everything "
    "else pooled into '<oov>') with add-one smoothing over the "
    "observed support — the data-MIXING diagnostic that tells a "
    "curation run which sources are distributionally far from the "
    "blend (candidates for re-weighting in sample_mixture_weights) "
    "and which are near-duplicates of it.  The vocabulary truncation "
    "is the scale story (the text_unigram_logprob lesson): per-source "
    "count vectors are O(#sources x (VOCAB+1)) rows NO MATTER the "
    "corpus size, so after one map-side-combined aggregation over the "
    "token stream every remaining table is driver-scale.  Plan: one "
    "corpus pass for vocabulary induction (partial-agg + "
    "TakeOrdered), one corpus pass mapping tokens through the "
    "broadcast vocab and partial-aggregating to the bounded "
    "(source, term) grid; the zero-fill cross join and the KL "
    "aggregate run on a few thousand rows.  The per-source KL is a "
    f"sum of <= {VOCAB_SIZE}+1 log terms — long enough for double "
    "summation order to flip round(.,6), so each term is cast to "
    "DECIMAL(38,18) and summed exactly on both sides (the "
    "_NB_SCORED_CTES / SCALE.md long-log-sum policy).",
)
def sample_source_kl(spark, sf_dir):
    # spread(): the token explode runs twice (vocab pass + count
    # pass); same guard as text_unigram_logprob.
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        "source", F.explode(F.split("text", r"\s+")).alias("tok")
    ).where(F.col("tok") != "")
    freq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    topk = freq.orderBy(F.col("c").desc(), "tok").limit(VOCAB_SIZE)
    mapped = toks.join(
        F.broadcast(topk.select("tok", F.lit(1).alias("hit"))), "tok", "left"
    ).select(
        "source",
        F.when(F.col("hit").isNull(), F.lit("<oov>"))
        .otherwise(F.col("tok"))
        .alias("term"),
    )
    # Bounded after this partial agg: <= #sources x (VOCAB_SIZE+1) rows.
    sc_ = mapped.groupBy("source", "term").agg(F.count(F.lit(1)).alias("c"))
    st = sc_.groupBy("source").agg(F.sum("c").alias("n_s"))
    ct = sc_.groupBy("term").agg(F.sum("c").alias("c_all"))
    tot = ct.agg(F.sum("c_all").alias("n"), F.count(F.lit(1)).alias("v"))
    grid = (
        st.select("source")
        .crossJoin(F.broadcast(ct.select("term")))
        .join(sc_, ["source", "term"], "left")
        .select("source", "term", F.coalesce("c", F.lit(0)).alias("c_s"))
    )
    p_s = (F.col("c_s") + 1.0) / (F.col("n_s") + F.col("v"))
    q = (F.col("c_all") + 1.0) / (F.col("n") + F.col("v"))
    # Exact decimal sum of the per-term KL contributions — the
    # _NB_SCORED_CTES / SCALE.md long-log-sum policy: double summation
    # over ~VOCAB+1 terms is shuffle-order-dependent and can flip
    # round(.,6) between runs/engines; the per-term double->decimal
    # cast is engine-identical and the decimal column sum is exact.
    term = (p_s * (F.log(p_s) - F.log(q))).cast("decimal(38,18)")
    kl = (
        grid.join(st, "source")
        .join(F.broadcast(ct), "term")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(F.sum(term).alias("kl"))
    )
    return (
        kl.join(st, "source")
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            F.round("kl", 6).cast("double").alias("kl_nats"),
        )
        .orderBy("source")
    )

# --- payload shard writer ---------------------------------------
# Kept at module END: its oracle composes text.py's _BPE_APPLY_CTES,
# and text.py itself imports pipeline_llm mid-module (the curate-v2
# oracle).  With this block after every name text.py needs, the
# deferred cross-import resolves in either import order.

def _bpe_token_ids(spark, sf_dir, merges=None):
    """Per-doc BPE token-ID arrays: the text_bpe_tokenize tokenizer
    (same learned merges, same encode/apply expressions) carried one
    step further — the applied symbol stream is split back into
    symbols and each symbol mapped to its id in the sorted vocab.
    The vocab is VOCABULARY STATE (distinct symbols = corpus charset
    + the 50 merges, bounded at any corpus size — the BPE-merge /
    NB-model collect contract), folded into the projection as a
    sorted literal array; array_position makes the id lookup
    row-local, so tokenization-to-ids is a zero-shuffle scan.  (At a
    real 32-64k vocab the linear array_position scan would swap for
    a dense perfect-hash literal — the NB dense-array lesson; at this
    bounded vocab the scan is cheaper than building one.)"""
    from .text import (
        _BPE_SEP,
        _bpe_apply,
        _bpe_encode,
        _learn_bpe_merges,
    )

    docs = spread(table(spark, sf_dir, "documents"))
    if merges is None:
        merges = _learn_bpe_merges(docs)
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    applied = docs.select(
        "doc_id",
        _bpe_apply(_bpe_encode(words), merges).alias("e2"),
    )
    syms = applied.select(
        "doc_id",
        F.filter(
            F.split("e2", _BPE_SEP),
            lambda x: (x != "") & (x != " "),
        ).alias("syms"),
    )
    vocab = sorted(
        r["sym"]
        for r in syms.select(F.explode("syms").alias("sym"))
        .distinct()
        .collect()
    )
    vocab_lit = F.array(*[F.lit(s) for s in vocab])
    return syms.select(
        "doc_id",
        F.transform(
            "syms", lambda s: F.array_position(vocab_lit, s)
        ).alias("ids"),
    )


def _bpe_packed_sequences(spark, sf_dir):
    """pipeline_pack_sequences' concat-and-chunk geometry over the
    BPE token-ID stream, each packed sequence CARRYING its token
    payload (the flattened ids of its member docs in doc_id order) —
    what a WebDataset/TFRecord shard actually ships."""
    from pyspark.sql import Window as W

    ids_df = _bpe_token_ids(spark, sf_dir)
    t = ids_df.select(
        "doc_id",
        (F.col("doc_id") % PACK_SHARDS).alias("shard"),
        "ids",
        F.size("ids").cast("long").alias("n_tok"),
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = t.withColumn("cum", F.sum("n_tok").over(w))
    # collect_list buffer is bounded per sequence: a sequence closes
    # at PACK_SEQ_LEN tokens, so it holds at most ~PACK_SEQ_LEN
    # member docs (each contributes >= 1 token; token-less docs are
    # the only exception and the fixture has none).
    return (
        c.select(
            F.col("shard").cast("long").alias("shard"),
            F.expr(
                f"CAST((cum - n_tok) DIV {PACK_SEQ_LEN} AS BIGINT)"
            ).alias("seq_id"),
            "doc_id",
            "n_tok",
            "ids",
        )
        .groupBy("shard", "seq_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
            F.sum("n_tok").cast("long").alias("n_tokens_in"),
            F.flatten(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("doc_id", "ids"))
                    ),
                    lambda x: x["ids"],
                )
            ).alias("payload"),
        )
    )


def _write_shards_payload(spark, sf_dir, root: str | None = None):
    """The payload shard writer: _write_shards' seeded-shuffle /
    two-phase-rank machinery over the BPE-packed sequences, with the
    token-id arrays written INTO the parquet shards."""
    from .bpe_shared import _BPE_N_MERGES

    return _write_shards(
        spark,
        sf_dir,
        root=root,
        seqs_fn=lambda: _bpe_packed_sequences(spark, sf_dir),
        root_base="/tmp/durablestreams_shards_payload_v1",
        params=(
            f"bpepack{PACK_SEQ_LEN}x{PACK_SHARDS}:ws{WRITE_SHARDS}"
            f":seed{SHARD_SEED}:m{_BPE_N_MERGES}:v1"
        ),
        extra_cols=("payload",),
    )


from .bpe_shared import _BPE_APPLY_CTES as _BPE_CTES  # noqa: E402

#: The symbol-stream → sorted-vocab → token-ID CTE chain over ``ap``
#: (text_bpe_tokenize's applied string) — shared by the payload shard
#: writer's oracle and the BPE-unit budgeted delivery oracles.
_BPE_IDS_CTES = """psyms AS (
        SELECT doc_id,
               list_filter(string_split(e2, chr(31)),
                           x -> x <> '' AND x <> ' ') AS syms
        FROM ap
    ),
    vocabl AS (
        SELECT list(sym ORDER BY sym) AS vs
        FROM (SELECT DISTINCT unnest(syms) AS sym FROM psyms)
    ),
    pids AS (
        -- vocabl cross-joined in (1 row): DuckDB forbids subqueries
        -- inside lambda bodies, a column reference is fine
        SELECT doc_id,
               list_transform(syms,
                   s -> CAST(list_position(vl.vs, s) AS BIGINT)) AS ids
        FROM psyms CROSS JOIN vocabl vl
    )"""


@query(
    "pipeline_write_shards_payload",
    f"""
    WITH {_BPE_CTES},
    {_BPE_IDS_CTES},
    pt AS (
        SELECT doc_id, doc_id % {PACK_SHARDS} AS shard, ids,
               CAST(len(ids) AS BIGINT) AS n_tok
        FROM pids
    ),
    pc AS (
        SELECT doc_id, shard, ids, n_tok,
               sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
        FROM pt
    ),
    packed AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST((cum - n_tok) // {PACK_SEQ_LEN} AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens_in,
               array_to_string(
                   list_transform(flatten(list(ids ORDER BY doc_id)),
                                  x -> CAST(x AS VARCHAR)), ',')
                   AS payload_str
        FROM pc
        GROUP BY shard, seq_id
    ),
    {_SHARD_RANK_SQL}
    SELECT CAST(shard_out AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tokens_in) AS BIGINT) AS n_tokens,
           CAST(sum(CAST('0x' || substr(
               md5(CAST(rank AS VARCHAR) || ':' || payload_str), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_fp
    FROM assigned
    GROUP BY shard_out
    ORDER BY shard_id
    """,
    doc="The PAYLOAD training-shard writer — pipeline_write_shards "
    "shipping actual token arrays, not manifest identity (VERDICT "
    "r10 task 3): each packed sequence carries the BPE token-IDS of "
    "its member docs (composing text_bpe_tokenize's exact tokenizer "
    "— same learned merges, same apply expressions — extended to id "
    "arrays via the bounded sorted-vocab literal), written INTO the "
    "parquet shards by the same seeded-md5 deterministic shuffle and "
    "two-phase 256-bucket exact rank.  The graded manifest is read "
    "back FROM THE WRITTEN FILES and its per-shard content_fp now "
    "covers PAYLOAD BYTES: sum of 32-bit md5 prefixes of "
    "(rank ‖ ','-joined token ids) — commutative (partial-aggregates "
    "at any scale) yet flipped by ANY single-token change, any "
    "membership change, and any order change (the deliberate-"
    "mutation test pins both sensitivities; byte-identical re-run "
    "still pinned).  Scale: tokenization-to-ids is a zero-shuffle "
    "scan (vocab is a bounded literal), packing is one hash shuffle "
    "+ per-shard window, ranking never global-sorts.  Reference "
    "capability: none — north star (completes the WebDataset/"
    "TFRecord step).",
)
def pipeline_write_shards_payload(spark, sf_dir):
    return _payload_manifest(_write_shards_payload(spark, sf_dir))


def _payload_manifest(shards):
    """Per-shard manifest over written PAYLOAD shard rows: the
    content fingerprint covers the token bytes (md5 of rank ‖ joined
    ids), so any single-token, membership or order change flips it —
    shared by the corpus payload writer and the BPE-budgeted one."""
    payload_str = F.concat_ws(
        ",", F.transform("payload", lambda x: x.cast("string"))
    )
    member_h = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("rank").cast("string"),
                    F.lit(":"),
                    payload_str,
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    return (
        shards.groupBy("shard_out")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_seqs"),
            F.sum("n_tokens_in").cast("long").alias("n_tokens"),
            F.sum(member_h).cast("long").alias("content_fp"),
        )
        .select(
            F.col("shard_out").cast("long").alias("shard_id"),
            "n_seqs",
            "n_tokens",
            "content_fp",
        )
        .orderBy("shard_id")
    )


# ---------------------------------------------------------------------------
# Budgeted epoch-plan EXECUTION (the planner's actuator).
#
# Token unit contract (the plan/writer/monitor honesty decision): the
# epoch planner allocates in WHITESPACE tokens (pipeline_epoch_plan's
# n_tok), so the budgeted writer delivers and truncates in the SAME
# whitespace-token unit, and streaming_token_budget_monitor burns the
# same unit down.  The BPE payload writer is a different product
# (token-ID arrays) and carries its own BPE counts; a run shipping BPE
# payloads against this plan must re-plan in BPE units — the unit is
# part of the plan's identity, never silently converted.
# ---------------------------------------------------------------------------

def _epoch_reps_sql(doc_cte: str, p: str = "") -> str:
    """The s6/snap/cap plan-reps arithmetic as SQL over ANY per-doc
    token CTE ``doc_cte`` (doc_id, source, n_tok) — ONE definition
    for the whitespace and BPE token units (``p`` namespaces the CTE
    names), the SQL twin of _epoch_plan_over.  ``{p}reps`` splits
    the allocation into whole epochs and a fractional remainder by
    pure BIGINT division, so both engines agree exactly."""
    return f"""{p}per_src AS (
        SELECT source, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
               CAST(floor(sqrt(CAST(sum(n_tok) AS DOUBLE)) * 1000000 + 0.5)
                    AS BIGINT) AS s6
        FROM {doc_cte} GROUP BY source
    ),
    {p}tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total,
                   CAST(sum(s6) AS BIGINT) AS s6_total FROM {p}per_src),
    {p}plan AS (
        SELECT source, n_tokens,
               least(CAST(floor(CAST({EPOCH_BUDGET_MULT} * n_total AS BIGINT)
                                * (floor(CAST(s6 AS DOUBLE) / s6_total
                                         * 1000000 + 0.5) / 1000000)
                                + 0.5) AS BIGINT),
                     {EPOCH_MAX_REPEATS} * n_tokens) AS alloc_tokens
        FROM {p}per_src, {p}tot
    ),
    {p}reps AS (
        SELECT source, n_tokens, alloc_tokens,
               alloc_tokens // n_tokens AS full_epochs,
               alloc_tokens % n_tokens AS rem_tokens
        FROM {p}plan
    )"""


def _budgeted_rows_sql(doc_cte: str, p: str = "") -> str:
    """Delivered-row CTEs over ANY per-doc token CTE — the SQL twin
    of _budgeted_rows_from, shared by every budgeted oracle in both
    token units: every doc of a source repeated once per whole epoch
    (epoch-id 0..full_epochs-1, full n_tok each), plus ONE fractional
    epoch (epoch-id = full_epochs) filled in md5-shuffled doc order
    until exactly rem_tokens are delivered — the boundary doc is
    TRUNCATED (delivers rem - cum_before tokens), so per-source
    delivered ≡ alloc_tokens as an integer identity, not an
    approximation."""
    return f"""{_epoch_reps_sql(doc_cte, p)},
    {p}epochs AS (SELECT UNNEST(range({EPOCH_MAX_REPEATS})) AS epoch),
    {p}full_rows AS (
        SELECT d.doc_id, d.source, e.epoch, d.n_tok
        FROM {doc_cte} d JOIN {p}reps r USING (source)
        JOIN {p}epochs e ON e.epoch < r.full_epochs
    ),
    {p}frac_cum AS (
        SELECT d.doc_id, d.source, r.full_epochs AS epoch, d.n_tok,
               r.rem_tokens,
               sum(d.n_tok) OVER (
                   PARTITION BY d.source
                   ORDER BY substr(md5(d.source || ':'
                                       || CAST(d.doc_id AS VARCHAR)
                                       || ':epoch:{SHARD_SEED}'), 1, 16),
                            d.doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum
        FROM {doc_cte} d JOIN {p}reps r USING (source)
        WHERE r.rem_tokens > 0
    ),
    {p}frac_rows AS (
        SELECT doc_id, source, epoch,
               CASE WHEN cum <= rem_tokens THEN n_tok
                    ELSE rem_tokens - (cum - n_tok) END AS n_tok
        FROM {p}frac_cum
        WHERE cum - n_tok < rem_tokens
          AND (CASE WHEN cum <= rem_tokens THEN n_tok
                    ELSE rem_tokens - (cum - n_tok) END) > 0
    ),
    {p}delivered AS (
        SELECT doc_id, source, epoch, n_tok FROM {p}full_rows
        UNION ALL
        SELECT doc_id, source, epoch, n_tok FROM {p}frac_rows
    )"""


#: Whitespace-unit per-doc token CTE (pipeline_epoch_plan's n_tok).
_PER_DOC_TOK_CTE = """per_doc_tok AS (
        SELECT doc_id, source,
               CAST(len(list_filter(string_split_regex(text, '\\s+'),
                                    t -> t <> '')) AS BIGINT) AS n_tok
        FROM documents
    )"""

#: Plan CTEs shared by the budgeted writer's and delivery report's
#: oracles — the template's whitespace instantiation.
_EPOCH_REPS_CTES = f"""{_PER_DOC_TOK_CTE},
    {_epoch_reps_sql("per_doc_tok")}"""

#: Delivered-row CTEs shared by both whitespace budgeted oracles.
_BUDGETED_ROWS_CTES = f"""{_PER_DOC_TOK_CTE},
    {_budgeted_rows_sql("per_doc_tok")}"""

def _budgeted_doc_rows(spark, sf_dir):
    """(doc_id, source, epoch, n_tok) delivered rows materializing the
    epoch plan — the Spark twin of ``_BUDGETED_ROWS_CTES``.

    Scale shape: the plan side is O(#sources) and broadcast; whole-
    epoch replication is a broadcast join against a 4-row epoch table
    (never a corpus self-union); the fractional epoch's per-source
    ordered cumsum runs the two-phase 256-bucket plan (per-(source,
    bucket) windows + broadcast bucket-prefix offsets from an
    O(#sources x 256) rollup) — no per-source global sort window, the
    same shape sample_token_budget pins."""
    docs = table(spark, sf_dir, "documents")
    n_tok = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    per_doc = docs.select(
        "doc_id", "source", n_tok.cast("long").alias("n_tok")
    )
    reps = pipeline_epoch_plan(spark, sf_dir).select(
        "source",
        "alloc_tokens",
        F.expr("alloc_tokens DIV n_tokens").alias("full_epochs"),
        (F.col("alloc_tokens") % F.col("n_tokens")).alias("rem_tokens"),
    )
    return _budgeted_rows_from(per_doc, reps)


def _budgeted_rows_from(per_doc, reps):
    """The budgeted delivered-rows construction over ANY per-doc
    token table (doc_id, source, n_tok) and reps table (source,
    alloc_tokens, full_epochs, rem_tokens) — factored from
    _budgeted_doc_rows so the BPE-unit payload path runs the same
    whole-epoch broadcast expansion + two-phase fractional fill over
    a different token unit."""
    from pyspark.sql import Window as W

    spark = per_doc.sparkSession
    joined = per_doc.join(F.broadcast(reps), "source")
    epochs = spark.range(EPOCH_MAX_REPEATS).select(
        F.col("id").alias("epoch")
    )
    full_rows = (
        joined.join(F.broadcast(epochs), F.col("epoch") < F.col("full_epochs"))
        .select("doc_id", "source", "epoch", "n_tok")
    )
    u = F.substring(
        F.md5(
            F.concat(
                F.col("source"),
                F.lit(":"),
                F.col("doc_id").cast("string"),
                F.lit(f":epoch:{SHARD_SEED}"),
            )
        ),
        1,
        16,
    )
    d = (
        joined.where(F.col("rem_tokens") > 0)
        .withColumn("u", u)
        .withColumn("bucket", F.substring("u", 1, 2))
    )
    btot = d.groupBy("source", "bucket").agg(F.sum("n_tok").alias("btok"))
    # O(#sources x 256) rows: bounded per-source ordered window.
    wb = W.partitionBy("source").orderBy("bucket").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    bases = btot.select(
        "source",
        "bucket",
        (F.sum("btok").over(wb) - F.col("btok")).alias("base"),
    )
    wd = W.partitionBy("source", "bucket").orderBy("u", "doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    cum = F.col("base") + F.sum("n_tok").over(wd)
    deliv = (
        F.when(F.col("cum") <= F.col("rem_tokens"), F.col("n_tok"))
        .otherwise(F.col("rem_tokens") - (F.col("cum") - F.col("n_tok")))
        .cast("long")
    )
    frac_rows = (
        d.join(F.broadcast(bases), ["source", "bucket"])
        .withColumn("cum", cum)
        .where(F.col("cum") - F.col("n_tok") < F.col("rem_tokens"))
        .select(
            "doc_id",
            "source",
            F.col("full_epochs").alias("epoch"),
            deliv.alias("n_tok"),
        )
        .where(F.col("n_tok") > 0)
    )
    return full_rows.unionByName(frac_rows)


def _write_shards_budgeted(spark, sf_dir, root: str | None = None):
    """The budgeted shard writer: the epoch plan's delivered rows
    packed epoch-major through the shared concat-and-chunk rule, then
    through _write_shards' seeded-shuffle / two-phase-rank / cache-
    marker machinery verbatim (own artifact root, own params)."""

    def seqs():
        rows = _budgeted_doc_rows(spark, sf_dir).select(
            "doc_id",
            "epoch",
            (F.col("doc_id") % PACK_SHARDS).alias("shard"),
            "n_tok",
        )
        return _pack_from_counts(rows, order_cols=("epoch", "doc_id"))

    return _write_shards(
        spark,
        sf_dir,
        root=root,
        seqs_fn=seqs,
        root_base="/tmp/durablestreams_shards_budgeted_v1",
        params=(
            f"budgeted:pack{PACK_SEQ_LEN}x{PACK_SHARDS}:ws{WRITE_SHARDS}"
            f":seed{SHARD_SEED}:b{EPOCH_BUDGET_MULT}:r{EPOCH_MAX_REPEATS}:v1"
        ),
    )


@query(
    "pipeline_write_shards_budgeted",
    f"""
    WITH {_BUDGETED_ROWS_CTES},
    t AS (
        SELECT doc_id, epoch, doc_id % {PACK_SHARDS} AS shard, n_tok
        FROM delivered
    ),
    c AS (
        SELECT doc_id, epoch, shard, n_tok,
               sum(n_tok) OVER (PARTITION BY shard ORDER BY epoch, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
        FROM t
    ),
    packed AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST((cum - n_tok) // {PACK_SEQ_LEN} AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens_in
        FROM c GROUP BY shard, seq_id
    ),
    {_SHARD_RANK_SQL}
    SELECT CAST(shard_out AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tokens_in) AS BIGINT) AS n_tokens,
           CAST(sum(CAST('0x' || substr(
               md5(key || ':' || CAST(rank AS VARCHAR)), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_fp
    FROM assigned
    GROUP BY shard_out
    ORDER BY shard_id
    """,
    doc="The epoch plan's ACTUATOR (VERDICT r12 task 1) — the shard "
    "set that MATERIALIZES pipeline_epoch_plan: every source's docs "
    "repeated once per whole allocated epoch (pure BIGINT "
    "alloc_tokens DIV n_tokens — never the 4-dp display "
    "repeat_factor), plus one fractional epoch filled in seeded-md5 "
    "doc order and TRUNCATED at the boundary doc so per-source "
    "delivered tokens ≡ alloc_tokens exactly (integer identity, "
    "graded by pipeline_budgeted_delivery).  Delivered (doc, epoch) "
    "rows pack epoch-major through the shared concat-and-chunk rule "
    "and ship through _write_shards' seeded deterministic shuffle + "
    "two-phase 256-bucket exact rank + cache-marker persistence "
    "verbatim; the graded manifest is read back FROM THE WRITTEN "
    "FILES (position-sensitive (key, rank) content fingerprint, so "
    "a writer that drops, duplicates, misorders or misassigns one "
    "sequence is a hash mismatch).  Unit contract: plan, writer and "
    "live monitor all count WHITESPACE tokens — the unit is part of "
    "the plan's identity (see module note).  Scale: whole-epoch "
    "replication is a broadcast join against a 4-row epoch table; "
    "the fractional fill is the two-phase bucket-rank plan "
    "per source (no global sort); packing is one hash shuffle.  "
    "Constrained (rem=0) and unconstrained (truncating) sources both "
    "present in the fixture by construction.  Reference capability: "
    "none — north star (Muennighoff et al. 2023 epoch scheduling, "
    "executed).",
)
def pipeline_write_shards_budgeted(spark, sf_dir):
    return _shards_manifest(_write_shards_budgeted(spark, sf_dir))


@query(
    "pipeline_budgeted_delivery",
    f"""
    WITH {_BUDGETED_ROWS_CTES}
    SELECT r.source,
           CAST(r.alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(sum(d.n_tok) AS BIGINT) AS delivered_tokens,
           CAST(r.full_epochs AS BIGINT) AS full_epochs,
           CAST(count(*) FILTER (WHERE d.epoch = r.full_epochs)
                AS BIGINT) AS n_frac_docs,
           (sum(d.n_tok) = r.alloc_tokens) AS budget_met
    FROM delivered d JOIN reps r USING (source)
    GROUP BY r.source, r.alloc_tokens, r.full_epochs
    ORDER BY r.source
    """,
    doc="Delivery audit of the budgeted shard writer — the graded "
    "proof that the actuator honors the plan: per source, the plan's "
    "alloc_tokens next to the writer's actually-delivered token sum "
    "(over the SAME delivered rows the shards pack), the whole-epoch "
    "count, the fractional-epoch doc count, and budget_met — "
    "delivered ≡ alloc as an INTEGER equality column the hash gate "
    "pins TRUE for every source (truncating the boundary doc makes "
    "it an identity, not a tolerance).  One partial-aggregated pass "
    "over the delivered rows to O(#sources) output.",
)
def pipeline_budgeted_delivery(spark, sf_dir):
    rows = _budgeted_doc_rows(spark, sf_dir)
    reps = pipeline_epoch_plan(spark, sf_dir).select(
        "source",
        "alloc_tokens",
        F.expr("alloc_tokens DIV n_tokens").alias("full_epochs"),
    )
    # Conditional count keeps rem=0 (constrained) sources in the
    # output with n_frac_docs=0 — they have no fractional-epoch rows.
    return (
        rows.join(F.broadcast(reps), "source")
        .groupBy("source", "alloc_tokens", "full_epochs")
        .agg(
            F.sum("n_tok").cast("long").alias("delivered_tokens"),
            F.sum(
                F.when(F.col("epoch") == F.col("full_epochs"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_frac_docs"),
        )
        .select(
            "source",
            F.col("alloc_tokens").cast("long").alias("alloc_tokens"),
            "delivered_tokens",
            F.col("full_epochs").cast("long").alias("full_epochs"),
            "n_frac_docs",
            (F.col("delivered_tokens") == F.col("alloc_tokens")).alias(
                "budget_met"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# BPE-UNIT epoch planning + budgeted PAYLOAD delivery (VERDICT r13
# task 4) — the executable instance of the declared token-unit
# contract above: a pipeline shipping BPE payloads re-plans in BPE
# units.  Same s6/snap/cap arithmetic, same two-phase fractional
# fill, same truncate-the-boundary identity — but the unit is BPE
# token ids, and the boundary doc's PAYLOAD is sliced to exactly the
# delivered count, so delivered BPE tokens ≡ BPE alloc_tokens holds
# down to the token arrays the shards actually ship.
# ---------------------------------------------------------------------------

from .bpe_shared import _BPE_SEP as _BPE_SEP_CH  # noqa: E402


def _bpe_doc_counts(spark, sf_dir, merges=None):
    """(doc_id, source, n_tok) in BPE token units — text_bpe_tokenize's
    exact tokenizer reduced to the separator-count projection.  The
    count equals len(_bpe_token_ids(...).ids): every symbol is wrapped
    in exactly one U+001F pair and nothing else produces a separator,
    so sep_count // 2 == the symbol count (parity pinned by test).
    Pass ``merges`` to reuse an already-learned merge table (one
    trainer collect per query, not one per consumer)."""
    from .text import _bpe_apply, _bpe_encode, _learn_bpe_merges

    docs = spread(table(spark, sf_dir, "documents"))
    if merges is None:
        merges = _learn_bpe_merges(docs)
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    applied = _bpe_apply(_bpe_encode(words), merges)
    sep = F.length(applied) - F.length(
        F.replace(applied, F.lit(_BPE_SEP_CH), F.lit(""))
    )
    return docs.select(
        "doc_id", "source", F.floor(sep / 2).cast("long").alias("n_tok")
    )


#: Per-doc BPE token counts with source — the BPE-unit analog of
#: ``per_doc_tok`` (one definition for the three BPE-budgeted
#: oracles).
_BPE_DOC_TOK_CTES = f"""{_BPE_CTES},
    bpe_doc_tok AS (
        SELECT a.doc_id, d0.source,
               CAST((length(a.e2)
                     - length(replace(a.e2, '{_BPE_SEP_CH}', ''))) // 2
                    AS BIGINT) AS n_tok
        FROM ap a JOIN documents d0 USING (doc_id)
    )"""


@query(
    "pipeline_epoch_plan_bpe",
    _epoch_plan_oracle_sql(_BPE_DOC_TOK_CTES, "bpe_doc_tok"),
    doc="The epoch planner IN BPE UNITS (VERDICT r13 task 4) — the "
    "executable instance of the module's declared token-unit "
    "contract: a run shipping BPE payloads must re-plan in BPE "
    "units, never silently convert.  Same arithmetic as "
    "pipeline_epoch_plan (the s6 integer grid, 1e-6-snapped shares, "
    f"BIGINT budget = {EPOCH_BUDGET_MULT}x, repeat cap "
    f"{EPOCH_MAX_REPEATS}) applied to per-doc counts under the "
    "LEARNED BPE vocab — text_bpe_tokenize's exact tokenizer "
    "(separator-count formula == len(token ids), parity pinned by "
    "test).  The two plans genuinely differ: BPE merges compress "
    "sources non-uniformly, so shares, allocations and even the "
    "data_constrained flags can flip between units — which is "
    "precisely why the unit is part of the plan's identity.  Scale: "
    "tokenization is a zero-shuffle codegen'd scan (bounded merge "
    "table as chained replace literals); the plan is one partial-"
    "aggregated pass to O(#sources) rows.  Reference capability: "
    "none — north star.",
)
def pipeline_epoch_plan_bpe(spark, sf_dir):
    return _epoch_plan_over(
        _bpe_doc_counts(spark, sf_dir).select("source", "n_tok")
    )


#: BPE-unit plan reps + delivered rows — the shared plan/delivery
#: SQL templates instantiated over bpe_doc_tok (prefix "b": same
#: seeded-md5 fractional order, same boundary-doc truncation, one
#: arithmetic definition across both token units).
_BPE_BUDGETED_ROWS_CTES = f"""{_BPE_DOC_TOK_CTES},
    {_budgeted_rows_sql("bpe_doc_tok", "b")}"""


def _bpe_plan_and_rows(spark, sf_dir, merges=None):
    """(reps, delivered rows) materializing the BPE-unit epoch plan —
    the Spark twin of _BPE_BUDGETED_ROWS_CTES.  ONE per-doc count
    lineage feeds both the plan and the delivered-rows construction
    (the r14 review finding: calling pipeline_epoch_plan_bpe here
    would re-run the merge-learning collect a second time)."""
    per_doc = _bpe_doc_counts(spark, sf_dir, merges=merges)
    plan = _epoch_plan_over(per_doc.select("source", "n_tok"))
    reps = plan.select(
        "source",
        "alloc_tokens",
        F.expr("alloc_tokens DIV n_tokens").alias("full_epochs"),
        (F.col("alloc_tokens") % F.col("n_tokens")).alias("rem_tokens"),
    )
    return reps, _budgeted_rows_from(per_doc, reps)


def _write_shards_budgeted_payload(spark, sf_dir, root: str | None = None):
    """The BPE-BUDGETED payload shard writer: the BPE plan's delivered
    rows joined to each doc's token-ID array, the BOUNDARY doc's
    payload SLICED to exactly its delivered count, packed epoch-major
    carrying payload, shipped through _write_shards verbatim."""
    from pyspark.sql import Window as W

    def seqs():
        from .text import _learn_bpe_merges

        merges = _learn_bpe_merges(
            spread(table(spark, sf_dir, "documents"))
        )
        _reps, rows = _bpe_plan_and_rows(spark, sf_dir, merges=merges)
        ids_df = _bpe_token_ids(spark, sf_dir, merges=merges)
        t = rows.join(ids_df, "doc_id").select(
            "doc_id",
            "epoch",
            (F.col("doc_id") % PACK_SHARDS).alias("shard"),
            "n_tok",
            F.slice(
                "ids", F.lit(1), F.col("n_tok").cast("int")
            ).alias("ids"),
        )
        w = W.partitionBy("shard").orderBy("epoch", "doc_id").rowsBetween(
            W.unboundedPreceding, W.currentRow
        )
        c = t.withColumn("cum", F.sum("n_tok").over(w))
        return (
            c.select(
                F.col("shard").cast("long").alias("shard"),
                F.expr(
                    f"CAST((cum - n_tok) DIV {PACK_SEQ_LEN} AS BIGINT)"
                ).alias("seq_id"),
                "doc_id",
                "epoch",
                "n_tok",
                "ids",
            )
            .groupBy("shard", "seq_id")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.min("doc_id").cast("long").alias("first_doc"),
                F.sum("n_tok").cast("long").alias("n_tokens_in"),
                F.flatten(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("epoch", "doc_id", "ids")
                            )
                        ),
                        lambda x: x["ids"],
                    )
                ).alias("payload"),
            )
        )

    return _write_shards(
        spark,
        sf_dir,
        root=root,
        seqs_fn=seqs,
        root_base="/tmp/durablestreams_shards_budgeted_payload_v1",
        params=(
            f"bpebudgeted:pack{PACK_SEQ_LEN}x{PACK_SHARDS}"
            f":ws{WRITE_SHARDS}:seed{SHARD_SEED}:m{_BPE_N_MERGES_C}"
            f":b{EPOCH_BUDGET_MULT}:r{EPOCH_MAX_REPEATS}:v1"
        ),
        extra_cols=("payload",),
    )


from .bpe_shared import _BPE_N_MERGES as _BPE_N_MERGES_C  # noqa: E402


@query(
    "pipeline_write_shards_budgeted_payload",
    f"""
    WITH {_BPE_BUDGETED_ROWS_CTES},
    {_BPE_IDS_CTES},
    bpt AS (
        SELECT d.doc_id, d.epoch, d.doc_id % {PACK_SHARDS} AS shard,
               d.n_tok,
               list_slice(p.ids, 1, CAST(d.n_tok AS BIGINT)) AS ids
        FROM bdelivered d JOIN pids p USING (doc_id)
    ),
    bpc AS (
        SELECT doc_id, epoch, shard, n_tok, ids,
               sum(n_tok) OVER (PARTITION BY shard ORDER BY epoch, doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
        FROM bpt
    ),
    packed AS (
        SELECT CAST(shard AS BIGINT) AS shard,
               CAST((cum - n_tok) // {PACK_SEQ_LEN} AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS first_doc,
               CAST(sum(n_tok) AS BIGINT) AS n_tokens_in,
               array_to_string(
                   list_transform(
                       flatten(list(ids ORDER BY epoch, doc_id)),
                       x -> CAST(x AS VARCHAR)), ',') AS payload_str
        FROM bpc GROUP BY shard, seq_id
    ),
    {_SHARD_RANK_SQL}
    SELECT CAST(shard_out AS BIGINT) AS shard_id,
           CAST(count(*) AS BIGINT) AS n_seqs,
           CAST(sum(n_tokens_in) AS BIGINT) AS n_tokens,
           CAST(sum(CAST('0x' || substr(
               md5(CAST(rank AS VARCHAR) || ':' || payload_str), 1, 8)
               AS BIGINT)) AS BIGINT) AS content_fp
    FROM assigned
    GROUP BY shard_out
    ORDER BY shard_id
    """,
    doc="The BPE-BUDGETED payload shard writer (VERDICT r13 task 4, "
    "actuated) — pipeline_write_shards_budgeted and pipeline_write_"
    "shards_payload composed under ONE token unit: the BPE-unit "
    "epoch plan's delivered (doc, epoch) rows, each carrying the "
    "doc's BPE token-ID array with the BOUNDARY doc's payload "
    "SLICED to exactly its delivered count (the truncation is real "
    "— the shard ships rem_tokens ids, not a whole doc rounded "
    "down), packed epoch-major and shipped through the seeded "
    "deterministic shuffle + two-phase exact rank.  The graded "
    "manifest is read back FROM THE WRITTEN FILES with the payload-"
    "covering fingerprint (md5 of rank ‖ joined ids — any single-"
    "token change flips it), so 'delivered ≡ alloc in BPE units' is "
    "enforced down to the bytes a trainer would read.  Scale: one "
    "tokenization scan, whole-epoch broadcast expansion, two-phase "
    "fractional rank, one hash-shuffle pack.  Reference capability: "
    "none — north star.",
)
def pipeline_write_shards_budgeted_payload(spark, sf_dir):
    return _payload_manifest(_write_shards_budgeted_payload(spark, sf_dir))


@query(
    "pipeline_budgeted_delivery_bpe",
    f"""
    WITH {_BPE_BUDGETED_ROWS_CTES}
    SELECT r.source,
           CAST(r.alloc_tokens AS BIGINT) AS alloc_tokens,
           CAST(sum(d.n_tok) AS BIGINT) AS delivered_tokens,
           CAST(r.full_epochs AS BIGINT) AS full_epochs,
           CAST(count(*) FILTER (WHERE d.epoch = r.full_epochs)
                AS BIGINT) AS n_frac_docs,
           (sum(d.n_tok) = r.alloc_tokens) AS budget_met
    FROM bdelivered d JOIN breps r USING (source)
    GROUP BY r.source, r.alloc_tokens, r.full_epochs
    ORDER BY r.source
    """,
    doc="Delivery audit of the BPE-budgeted payload writer — the "
    "graded integer identity IN BPE UNITS (VERDICT r13 task 4's "
    "done-criterion): per source, the BPE plan's alloc_tokens next "
    "to the delivered BPE token sum over the same rows the payload "
    "shards pack, with budget_met = (delivered ≡ alloc) pinned TRUE "
    "by the hash gate for every source — the boundary-doc payload "
    "slice makes it an identity, not a tolerance.  One partial-"
    "aggregated pass over the delivered rows to O(#sources) rows.",
)
def pipeline_budgeted_delivery_bpe(spark, sf_dir):
    reps_full, rows = _bpe_plan_and_rows(spark, sf_dir)
    reps = reps_full.select("source", "alloc_tokens", "full_epochs")
    return (
        rows.join(F.broadcast(reps), "source")
        .groupBy("source", "alloc_tokens", "full_epochs")
        .agg(
            F.sum("n_tok").cast("long").alias("delivered_tokens"),
            F.sum(
                F.when(F.col("epoch") == F.col("full_epochs"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_frac_docs"),
        )
        .select(
            "source",
            F.col("alloc_tokens").cast("long").alias("alloc_tokens"),
            "delivered_tokens",
            F.col("full_epochs").cast("long").alias("full_epochs"),
            "n_frac_docs",
            (F.col("delivered_tokens") == F.col("alloc_tokens")).alias(
                "budget_met"
            ),
        )
        .orderBy("source")
    )
