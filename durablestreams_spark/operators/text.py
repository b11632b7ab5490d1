"""Text analysis over ``documents`` (SURVEY.md §2.2 "LLM-pipeline:
text analysis"): token statistics, quality scoring, language-ID
heuristic, document fingerprinting.

All pure column expressions (split / higher-order array functions /
regexp counts) — whole-stage codegen end to end, no Python in the hot
path, so a 100 TB corpus scan is I/O-bound.  Tokenization = regex
whitespace split (the BPE-ish variant adds a punctuation-splitting
regex — see ``token_count_bpeish``).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import functions as F

from ..analytics.core import query, spread, table
from .pipeline_llm import VOCAB_SIZE

STOPWORDS = ("the", "a", "of", "to", "and", "in", "is", "it", "on", "for")

#: Tiny per-language marker lexicons for the heuristic language-ID.
#: Deterministic rule shared verbatim by engine and oracle; tie-break =
#: alphabetical language code, fallback 'und'.
LANG_MARKERS = {
    "de": ("der", "die", "das", "und", "nicht", "ist"),
    "en": ("the", "and", "is", "of", "to", "it"),
    "es": ("el", "la", "los", "que", "es", "de"),
    "fr": ("le", "la", "les", "est", "une", "de"),
}


@query(
    "text_token_stats",
    """
    SELECT doc_id,
           CAST(len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
                AS BIGINT) AS n_tokens,
           CAST(length(text) AS BIGINT) AS n_chars_actual,
           round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
                 / len(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')), 4)
               AS avg_token_len
    FROM documents
    """,
    doc="Whitespace token count + char stats per document (the "
    "token-counting primitive every quota/quality pipeline needs).",
)
def text_token_stats(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    n_tokens = F.size(toks)
    return docs.select(
        "doc_id",
        n_tokens.cast("long").alias("n_tokens"),
        F.length("text").cast("long").alias("n_chars_actual"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / n_tokens,
            4,
        ).alias("avg_token_len"),
    )


@query(
    "text_token_count_bpeish",
    """
    SELECT doc_id,
           CAST(len(list_filter(
               string_split_regex(
                   regexp_replace(text, '([.,!?;:])', ' \\1 ', 'g'), '\\s+'),
               t -> t <> ''))
             AS BIGINT) AS n_subtokens,
           CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_tokens_est
    FROM documents
    """,
    doc="BPE-ish token estimate: punctuation isolated via capture-group "
    "replace, then whitespace split (lookahead-free so RE2-based "
    "engines agree), plus the chars/4 heuristic — the cheap "
    "pre-tokenizer estimate used for budget planning.",
)
def text_token_count_bpeish(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    spaced = F.regexp_replace("text", r"([.,!?;:])", r" $1 ")
    sub = F.filter(F.split(spaced, r"\s+"), lambda t: t != "")
    return docs.select(
        "doc_id",
        F.size(sub).cast("long").alias("n_subtokens"),
        F.ceil(F.length("text") / 4.0).cast("long").alias("n_tokens_est"),
    )


@query(
    "text_quality",
    f"""
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks,
               length(text) AS n_chars
        FROM documents
    )
    SELECT doc_id,
           round(CAST(len(list_filter(toks, x -> x IN {STOPWORDS!r})) AS DOUBLE)
                 / len(toks), 4) AS stopword_ratio,
           round(CAST(len(list_filter(toks, x -> length(x) <= 2)) AS DOUBLE)
                 / len(toks), 4) AS short_tok_ratio,
           CASE WHEN len(toks) BETWEEN 20 AND 1000
                 AND CAST(len(list_filter(toks, x -> x IN {STOPWORDS!r})) AS DOUBLE)
                     / len(toks) BETWEEN 0.01 AND 0.6
                THEN 'keep' ELSE 'drop' END AS quality_bucket
    FROM t
    """,
    doc="Quality scoring: stopword ratio + short-token ratio + "
    "length-window gate → keep/drop bucket (Gopher-rules-style filter, "
    "expressed as pure column predicates).",
)
def text_quality(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in STOPWORDS)
    # Materialize the token array ONCE: lambda-containing trees are
    # excluded from Spark's subexpression elimination, so inlining the
    # filter(split(...)) into every ratio would re-tokenize each row
    # ~8x (the text_langid pattern).
    docs = docs.withColumn(
        "toks", F.expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
    )
    stop_ratio = F.expr(
        f"CAST(size(filter(toks, x -> x IN ({sw}))) AS DOUBLE) / size(toks)"
    )
    short_ratio = F.expr(
        "CAST(size(filter(toks, x -> length(x) <= 2)) AS DOUBLE) / size(toks)"
    )
    n_toks = F.expr("size(toks)")
    return docs.select(
        "doc_id",
        F.round(stop_ratio, 4).alias("stopword_ratio"),
        F.round(short_ratio, 4).alias("short_tok_ratio"),
        F.when(
            n_toks.between(20, 1000) & stop_ratio.between(0.01, 0.6),
            F.lit("keep"),
        )
        .otherwise(F.lit("drop"))
        .alias("quality_bucket"),
    )


def _langid_case(hit_expr) -> str:
    """Argmax-with-alphabetical-tie-break CASE over marker hit counts.

    ONE generator serves both engines (``hit_expr`` renders a language's
    hit-count expression in that engine's dialect), so the tie-break and
    the '>0' floor — the parts that must stay in lockstep for the oracle
    to agree — cannot drift between the two spellings.
    """
    hits = {
        lang: hit_expr(markers) for lang, markers in sorted(LANG_MARKERS.items())
    }
    langs = sorted(hits)
    case = "CASE\n"
    for lang in langs:
        conds = [
            f"{hits[lang]} >= {hits[o]}" if o > lang else f"{hits[lang]} > {hits[o]}"
            for o in langs
            if o != lang
        ]
        conds.append(f"{hits[lang]} > 0")
        case += f"  WHEN {' AND '.join(conds)} THEN '{lang}'\n"
    case += "  ELSE 'und' END"
    return case


def _langid_sql() -> str:
    return _langid_case(lambda m: f"len(list_filter(toks, x -> x IN {m!r}))")


def _langid_spark() -> str:
    return _langid_case(
        lambda m: "size(filter(toks, x -> x IN ({})))".format(
            ", ".join(f"'{x}'" for x in m)
        )
    )


@query(
    "text_langid",
    f"""
    WITH t AS (
        SELECT doc_id, lang AS labeled_lang,
               list_filter(string_split_regex(lower(text), '\\s+'), x -> x <> '') AS toks
        FROM documents
    )
    SELECT doc_id, labeled_lang, {_langid_sql()} AS pred_lang
    FROM t
    """,
    doc="Heuristic language-ID: marker-lexicon hit counts with "
    "deterministic alphabetical tie-break ('und' when no marker hits). "
    "An n-gram/lexicon LM would slot into the same argmax shape.",
)
def text_langid(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    return (
        docs.withColumn(
            "toks", F.expr("filter(split(lower(text), '\\\\s+'), x -> x != '')")
        )
        .withColumn("pred_lang", F.expr(_langid_spark()))
        .select("doc_id", F.col("lang").alias("labeled_lang"), "pred_lang")
    )


@query(
    "text_fingerprint",
    """
    WITH grams AS (
        SELECT doc_id,
               list_sort(list_transform(
                   generate_series(1, length(text) - 3),
                   i -> substr(md5(substr(text, CAST(i AS INTEGER), 4)), 1, 8))) AS hs
        FROM documents
        WHERE length(text) >= 4
    )
    -- concat_ws skips NULLs in BOTH engines, so a doc with <3 grams
    -- (text length 4-5) fingerprints its available grams instead of
    -- diverging (|| would NULL-propagate in DuckDB only)
    SELECT doc_id, concat_ws('|', hs[1], hs[2], hs[3]) AS fingerprint
    FROM grams
    """,
    doc="Winnowing-style fingerprint: md5 over every char 4-gram, keep "
    "the 3 smallest hashes — a rolling-hash document sketch robust to "
    "local edits; equal fingerprints ⇒ near-identical documents.  The "
    "3 smallest are kept by a BOUNDED min-3 fold (aggregate with a "
    "3-slot sorted state), not by materializing-and-array_sort-ing "
    "the full O(L)-element hash array — O(L) vs O(L log L), and no "
    "O(L)-string array ever leaves the lambda ('~' > 'f' sentinels "
    "mark empty slots; filtering them reproduces concat_ws's "
    "NULL-skip for 4-5-char docs with <3 grams).  The oracle keeps "
    "the list_sort form — hash-equal, and DuckDB's list_sort is not "
    "the sf1 bottleneck.  spread(): the per-char md5 work is the "
    "CPU-heavy per-row stage the helper exists for — the single-file "
    "sf1 fixture otherwise runs the whole scan on 3 cores (measured "
    "33.6 s -> 1.7 s at sf1 on 32 cores, same hash; a no-op at scale "
    "where the scan has >= cores file splits).",
)
def text_fingerprint(spark, sf_dir):
    docs = spread(table(spark, sf_dir, "documents"))
    s = "~"  # sentinel: '~' (0x7E) sorts after every hex digit
    return docs.where(F.length("text") >= 4).select(
        "doc_id",
        F.expr(
            f"""
            aggregate(
              transform(sequence(1, length(text) - 3),
                        i -> substring(md5(substring(text, i, 4)), 1, 8)),
              array('{s}', '{s}', '{s}'),
              (a, x) -> CASE WHEN x < a[0] THEN array(x, a[0], a[1])
                             WHEN x < a[1] THEN array(a[0], x, a[1])
                             WHEN x < a[2] THEN array(a[0], a[1], x)
                             ELSE a END,
              a -> concat_ws('|', filter(a, v -> v != '{s}')))
            """
        ).alias("fingerprint"),
    )


@query(
    "text_tfidf_top_term",
    """
    WITH toks AS (
        SELECT doc_id,
               UNNEST(list_filter(string_split_regex(lower(text), '\\s+'),
                                  t -> t <> '')) AS tok
        FROM documents
    ),
    tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfreq AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.tok,
               round(tf.tf * ln((n.n_docs + 1.0) / (dfreq.df + 1.0)), 6) AS tfidf
        FROM tf JOIN dfreq USING (tok), n
    ),
    ranked AS (
        SELECT doc_id, tok, tfidf,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, tok) AS rn
        FROM scored
    )
    SELECT doc_id, tok AS top_term, tfidf FROM ranked WHERE rn = 1
    """,
    doc="TF-IDF (smoothed idf = ln((N+1)/(df+1))) with the most "
    "distinctive term per document — the classic relevance/keyword "
    "primitive, composed purely from aggregations: token explode -> "
    "per-(doc,term) tf -> per-term df -> scalar N broadcast back. "
    "Shuffles are one per aggregation level, each carrying counts, "
    "never text; the df table is vocabulary-sized (broadcastable for "
    "real corpora, Catalyst/AQE decides). Ranking rounds to 6 dp on "
    "both engines before comparison so libm ulp drift can't flip "
    "near-ties (exact ties break on the term).",
)
def text_tfidf_top_term(spark, sf_dir):
    from pyspark.sql import Window

    docs = table(spark, sf_dir, "documents")
    toks = spread(docs).select(
        "doc_id",
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("tok"),
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    # df derives FROM tf (one (doc,term) row per containing doc), so the
    # corpus is exploded exactly once; a count window over tok replaces
    # the groupBy+join a naive formulation would add.
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("tok"))
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            F.round(
                F.col("tf")
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0)),
                6,
            ).alias("tfidf"),
        )
    )
    # Top term per doc via min_by over (-tfidf, tok): a hash aggregate
    # with map-side combine, replacing the row_number window that
    # needed a full sort of every (doc, term) row per partition —
    # measured 1.6x faster at sf0.1, and at 100 TB the partial
    # aggregation shrinks the shuffle to one row per (doc, mapper).
    return (
        scored.groupBy("doc_id")
        .agg(
            F.min_by(
                F.struct(F.col("tok").alias("top_term"), F.col("tfidf")),
                F.struct(-F.col("tfidf"), F.col("tok")),
            ).alias("b")
        )
        .select("doc_id", "b.top_term", "b.tfidf")
    )


@query(
    "pipeline_clean_corpus",
    """
    WITH scored AS (
        SELECT doc_id, text, source,
               len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
                   AS n_tokens,
               md5(text) AS content_hash
        FROM documents
    ),
    filtered AS (
        SELECT * FROM scored
        WHERE n_tokens >= 10 AND length(text) / n_tokens <= 15
    ),
    deduped AS (
        SELECT min(doc_id) AS doc_id, content_hash,
               CAST(count(*) AS BIGINT) AS n_dupes
        FROM filtered GROUP BY content_hash
    )
    SELECT d.doc_id, f.source, d.n_dupes,
           CAST(f.n_tokens AS BIGINT) AS n_tokens
    FROM deduped d JOIN filtered f ON d.doc_id = f.doc_id
    WHERE substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 1) < 'c'
    """,
    doc="END-TO-END cleaning pipeline — the composition a training-data "
    "run actually executes: quality filter (token count + avg token "
    "length) → exact dedup on content hash (canonical = lowest doc_id, "
    "dupe count kept for telemetry) → deterministic hash sample "
    "(12/16 of the keyspace). One scan feeds everything; the only "
    "shuffles are the dedup groupBy on 16-byte digests and the "
    "self-join to recover canonical metadata. At 100 TB each stage "
    "drops data BEFORE the next shuffle — filter prunes at the scan, "
    "dedup shuffles digests not documents, the sample is a row-local "
    "predicate.",
)
def pipeline_clean_corpus(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    scored = docs.select(
        "doc_id",
        "source",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars_len"),
        F.md5("text").alias("content_hash"),
    )
    filtered = scored.where(
        (F.col("n_tokens") >= 10)
        & (F.col("n_chars_len") / F.col("n_tokens") <= 15)
    )
    deduped = filtered.groupBy("content_hash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count(F.lit(1)).alias("n_dupes"),
    )
    canon = deduped.join(
        filtered.select("doc_id", "source", "n_tokens"), "doc_id"
    )
    return canon.where(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) < "c"
    ).select(
        "doc_id", "source", "n_dupes", F.col("n_tokens").cast("long").alias("n_tokens")
    )


@query(
    "text_repetition",
    """
    WITH t AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           x -> x <> '') AS w
        FROM documents
    ), g AS (
        SELECT doc_id, w,
               list_transform(generate_series(1, len(w) - 1),
                              i -> w[i] || ' ' || w[i + 1]) AS bg
        FROM t
        WHERE len(w) >= 2
    )
    SELECT doc_id,
           round(1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w), 4)
               AS token_rep,
           round(1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg), 4)
               AS bigram_rep,
           CASE WHEN 1 - CAST(len(list_distinct(bg)) AS DOUBLE) / len(bg) > 0.2
                  OR 1 - CAST(len(list_distinct(w)) AS DOUBLE) / len(w) > 0.7
                THEN 'repetitive' ELSE 'ok' END AS rep_bucket
    FROM g
    """,
    doc="Repetition signals (Gopher-style quality rule): duplicate-token "
    "ratio (1 − type/token) and duplicate-bigram ratio per document, "
    "bucketed into repetitive/ok. Boilerplate and looped generations "
    "score high on bigram repetition long before exact/near dedup can "
    "see them across documents. Pure higher-order array expressions — "
    "split once, shingle from the array (same zero-Python pattern as "
    "the MinHash pipeline), whole-stage codegen end to end.",
)
def text_repetition(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "").alias("w"),
    ).where(F.size("w") >= 2)
    with_bg = toks.withColumn(
        "bg",
        F.expr("transform(sequence(0, size(w) - 2), i -> concat_ws(' ', w[i], w[i + 1]))"),
    )
    tok_rep = 1 - F.size(F.array_distinct("w")).cast("double") / F.size("w")
    bg_rep = 1 - F.size(F.array_distinct("bg")).cast("double") / F.size("bg")
    return with_bg.select(
        "doc_id",
        F.round(tok_rep, 4).alias("token_rep"),
        F.round(bg_rep, 4).alias("bigram_rep"),
        F.when((bg_rep > 0.2) | (tok_rep > 0.7), "repetitive")
        .otherwise("ok")
        .alias("rep_bucket"),
    )


@query(
    "text_bpe_pair_counts",
    r"""
    WITH toks AS (
        SELECT unnest(list_filter(string_split_regex(lower(text), '\s+'),
                                  x -> x <> '')) AS tok
        FROM documents
    ),
    p AS (
        SELECT unnest(list_transform(range(1, length(tok)),
                                     i -> substr(tok, CAST(i AS INTEGER), 2)))
               AS pair
        FROM toks
        WHERE length(tok) >= 2
    )
    SELECT pair, CAST(count(*) AS BIGINT) AS n
    FROM p GROUP BY pair ORDER BY n DESC, pair LIMIT 50
    """,
    doc="BPE merge-pair induction, step one: corpus-wide adjacent "
    "symbol-pair frequencies at character granularity within "
    "whitespace tokens — the counting pass a BPE tokenizer trainer "
    "runs each merge round (the argmax pair becomes the next merge). "
    "Pairs explode straight from a sequence/substr array expression "
    "into a partial-aggregated count (map-side combine: pair "
    "cardinality is tiny vs corpus size), then a TakeOrdered top-50 — "
    "no Python anywhere, so a 100 TB scan is I/O-bound and the "
    "shuffle carries only (pair, partial-count) rows.",
)
def text_bpe_pair_counts(spark, sf_dir):
    docs = spread(table(spark, sf_dir, "documents"))
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("tok")
    ).where(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr("transform(sequence(1, length(tok) - 1), i -> substr(tok, i, 2))")
        ).alias("pair")
    )
    return (
        pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(50)
    )


from .bpe_shared import (  # noqa: F401  (re-exported: public here)
    _BPE_APPLY_CTES,
    _BPE_N_MERGES,
    _BPE_SEP,
)

def _bpe_encode(words_col):
    """Encode a word array into the separator-wrapped symbol string:
    each char becomes ``\\x1f c \\x1f``, words joined with a space.
    ``(?s)`` so the dot wraps EVERY char: Java's default dot skips all
    line terminators (\\n, \\r, U+0085, U+2028, U+2029) while RE2's
    skips only \\n — and U+2028/2029/0085 are NOT \\s in either engine,
    so they survive inside words; without dotall Spark would leave
    them unwrapped while DuckDB wraps them, diverging the counts."""
    S = _BPE_SEP
    return F.array_join(
        F.transform(
            words_col, lambda w: F.regexp_replace(w, "(?s)(.)", S + "$1" + S)
        ),
        " ",
    )


def _bpe_apply(col, merges):
    """Apply char-pair merges in rank order, each exhaustively
    left-to-right (both engines' ``replace`` is non-overlapping
    left-to-right, so 'aaa' + merge (a,a) -> [aa, a]).  functools.reduce
    builds ONE chained-replace column, keeping the whole apply stage a
    single codegen'd projection — the expression-level equivalent of a
    broadcast merge table."""
    S = _BPE_SEP
    return reduce(
        lambda c, m: F.replace(
            c, F.lit(S + m[0] + S + S + m[1] + S), F.lit(S + m + S)
        ),
        merges,
        col,
    )


def _learn_bpe_merges(docs) -> list[str]:
    """Learn the top-``_BPE_N_MERGES`` adjacent char pairs over a
    corpus (count DESC, pair ASC — the trainer's frozen rank order)
    and collect them: bounded O(50) vocabulary state, shared by
    text_bpe_tokenize and the payload shard writer."""
    toks = docs.select(
        F.explode(
            F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
        ).alias("tok")
    ).where(F.length("tok") >= 2)
    pairs = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(1, length(tok) - 1), "
                "i -> substr(tok, i, 2))"
            )
        ).alias("pair")
    )
    return [
        r["pair"]
        for r in pairs.groupBy("pair")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "pair")
        .limit(_BPE_N_MERGES)
        .collect()
    ]


_BPE_TOKENIZE_ORACLE = f"""
    WITH {_BPE_APPLY_CTES}
    SELECT doc_id, n_words, n_chars,
           CAST((length(e2) - length(replace(e2, '{_BPE_SEP}', ''))) // 2
                AS BIGINT) AS n_bpe_tokens,
           CASE WHEN n_chars > 0 THEN
               floor((CAST(n_chars AS DOUBLE)
                      - (length(e2) - length(replace(e2, '{_BPE_SEP}', ''))) // 2)
                     / n_chars * 10000 + 0.5) / 10000
           END AS merge_compression
    FROM ap
"""


@query(
    "text_bpe_tokenize",
    _BPE_TOKENIZE_ORACLE,
    doc="BPE merge APPLICATION — completes the tokenizer story that "
    "``text_bpe_pair_counts`` starts: the top-50 induced merges "
    "(ordered count DESC, pair ASC — the rank order a BPE trainer "
    "freezes into its vocab) are applied to every document in rank "
    "order, each exhaustively left-to-right, yielding per-doc token "
    "counts under the learned vocab plus the merge-compression ratio. "
    "Scale shape: learning is one partial-aggregated pair count + "
    "TakeOrdered(50) — the merge table is VOCABULARY STATE, constant "
    "size at any corpus scale, collected to the driver (bounded O(50), "
    "see SCALE.md §9) and folded into the apply expression as chained "
    "``replace`` literals, the expression-level equivalent of a "
    "broadcast merge table. The apply pass is then pure row-local "
    "string work inside whole-stage codegen — zero joins, zero "
    "windows, zero shuffles — so a 100 TB tokenization run is an "
    "embarrassingly parallel scan. Encoding: each symbol wrapped in "
    "U+001F with words space-joined, so a merge pattern can only match "
    "a whole adjacent in-word symbol pair (both engines' ``replace`` "
    "is left-to-right non-overlapping, making 'aaa'+(a,a) -> [aa,a] "
    "identical cross-engine). Reference capability: none — "
    "training-data-pipeline mandate (BASELINE.md north star).",
)
def text_bpe_tokenize(spark, sf_dir):
    docs = spread(table(spark, sf_dir, "documents"))
    # Learn the merge list: same pair statistics as text_bpe_pair_counts,
    # same (n DESC, pair) rank order as the oracle's `merges` CTE.
    merges = _learn_bpe_merges(docs)

    S = _BPE_SEP
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    base = docs.select(
        "doc_id",
        F.size(words).cast("long").alias("n_words"),
        F.length(F.array_join(words, "")).cast("long").alias("n_chars"),
        _bpe_encode(words).alias("e"),
    )
    applied = _bpe_apply(F.col("e"), merges)
    sep_count = F.length(applied) - F.length(
        F.replace(applied, F.lit(S), F.lit(""))
    )
    out = base.withColumn("n_bpe_tokens", F.floor(sep_count / 2).cast("long"))
    nc = F.col("n_chars")
    return out.withColumn(
        "merge_compression",
        F.when(
            nc > 0,
            F.floor(
                (nc.cast("double") - F.col("n_bpe_tokens")) / nc * 10000 + 0.5
            )
            / 10000,
        ),
    ).drop("e")


#: True-BPE trainer capacity: the training corpus is the BPE_TRAIN_CAP
#: lowest-md5(doc_id) documents — FIXED size at any corpus scale, the
#: same bounded-sample contract as the IVF/PQ codebook training (real
#: BPE vocabs are trained on corpus samples, not the full corpus).
BPE_TRAIN_CAP = 256
BPE_TRAIN_ROUNDS = 10


def _bpe_pairs_expr():
    """Adjacent-symbol pairs of the encoded string ``e`` — works on
    MULTI-CHAR symbols (split on the double separator within a word),
    which is what lets trained merges chain, unlike the one-pass
    char-pair induction.  slice+zip_with so a single-symbol word
    yields an empty pair list (Spark's sequence(1, 0) would DESCEND)."""
    S = _BPE_SEP
    return F.expr(
        f"""flatten(transform(filter(split(e, ' '), w -> w != ''),
            w -> zip_with(
                slice(split(trim(BOTH '{S}' FROM w), '{S}{S}'), 1,
                      size(split(trim(BOTH '{S}' FROM w), '{S}{S}')) - 1),
                slice(split(trim(BOTH '{S}' FROM w), '{S}{S}'), 2,
                      size(split(trim(BOTH '{S}' FROM w), '{S}{S}')) - 1),
                (x, y) -> struct(x AS a, y AS b))))"""
    )


def _bpe_train_oracle() -> str:
    """Unrolled BPE_TRAIN_ROUNDS-level training loop: each level counts
    adjacent-symbol pairs of the previous encoding, takes the argmax
    (n DESC, a, b — the trainer's frozen rank order), and applies it.
    Generated from constants, so the SQL is static."""
    S = _BPE_SEP
    ctes = [
        f"""d AS MATERIALIZED (SELECT doc_id, text FROM documents
             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
             LIMIT {BPE_TRAIN_CAP}),
    enc0 AS MATERIALIZED (
        SELECT doc_id,
               array_to_string(list_transform(
                   list_filter(string_split_regex(lower(text), '\\s+'),
                               x -> x <> ''),
                   w -> regexp_replace(w, '(?s)(.)', '{S}\\1{S}', 'g')),
                   ' ') AS e
        FROM d)"""
    ]
    selects = []
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        prev = f"enc{r - 1}"
        ctes.append(
            f"""p{r} AS MATERIALIZED (
        SELECT syms[i] AS a, syms[i+1] AS b, count(*) AS n
        FROM (SELECT string_split(trim(w, '{S}'), '{S}{S}') AS syms
              FROM (SELECT unnest(string_split(e, ' ')) AS w FROM {prev})
              WHERE w <> ''),
             unnest(range(1, len(syms))) AS u(i)
        GROUP BY a, b ORDER BY n DESC, a, b LIMIT 1)"""
        )
        if r < BPE_TRAIN_ROUNDS:
            ctes.append(
                f"""enc{r} AS MATERIALIZED (
        SELECT doc_id, replace(e,
            '{S}' || (SELECT a FROM p{r}) || '{S}{S}'
                  || (SELECT b FROM p{r}) || '{S}',
            '{S}' || (SELECT a FROM p{r}) || (SELECT b FROM p{r})
                  || '{S}') AS e
        FROM {prev})"""
            )
        selects.append(
            f"""SELECT CAST({r} AS BIGINT) AS rank, a AS sym_a, b AS sym_b,
           a || b AS merged, CAST(n AS BIGINT) AS n FROM p{r}"""
        )
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    "
        + "\n    UNION ALL ".join(selects)
    )


@query(
    "text_bpe_train",
    _bpe_train_oracle(),
    doc="TRUE iterative BPE training (Sennrich et al. 2016) — the real "
    "trainer loop that text_bpe_pair_counts' one-pass induction "
    "approximates: each of the 10 rounds counts adjacent-SYMBOL pairs "
    "over the current segmentation, freezes the argmax (n DESC, then "
    "pair — the rank order the vocab ships with), and applies it "
    "before recounting, so merges CHAIN into multi-char symbols "
    "(('a','a') then ('aa','b')) — the thing single-pass char-pair "
    "counting cannot produce.  Trained on the BPE_TRAIN_CAP "
    "lowest-md5(doc_id) documents: a FIXED-size sample at any corpus "
    "scale (the IVF/PQ bounded-training contract; production BPE "
    "trains on samples too), checkpointed once; each round is one "
    "tiny distributed count + a 1-row bounded collect, so the whole "
    "training loop costs O(rounds) trivial jobs regardless of corpus "
    "size and never re-reads the corpus.  Output is the learned merge "
    "table itself — the vocabulary artifact a tokenizer persists.  "
    "The DuckDB oracle replays the identical loop as "
    f"{BPE_TRAIN_ROUNDS} unrolled CTE levels.",
)
def text_bpe_train(spark, sf_dir):
    S = _BPE_SEP
    docs = table(spark, sf_dir, "documents")
    words = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    sample = (
        docs.select("doc_id", _bpe_encode(words).alias("e"))
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .limit(BPE_TRAIN_CAP)
        .select("doc_id", "e")
        .localCheckpoint(eager=True)
    )
    cur = sample
    merges: list[tuple] = []
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        top = (
            cur.select(F.explode(_bpe_pairs_expr()).alias("p"))
            .groupBy(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), "a", "b")
            .limit(1)
            .collect()
        )
        if not top:
            break
        a, b, n = top[0]["a"], top[0]["b"], top[0]["n"]
        merges.append((r, a, b, a + b, int(n)))
        cur = cur.select(
            "doc_id",
            F.replace(
                F.col("e"), F.lit(S + a + S + S + b + S), F.lit(S + a + b + S)
            ).alias("e"),
        )
    return spark.createDataFrame(
        merges, "rank long, sym_a string, sym_b string, merged string, n long"
    )


@query(
    "text_zipf_slope",
    """
    WITH counts AS (
        SELECT tok, count(*) AS n FROM (
            SELECT unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                                      x -> x <> '')) AS tok
            FROM documents)
        GROUP BY tok
    ),
    ranked AS (
        SELECT n, row_number() OVER (ORDER BY n DESC, tok) AS rank
        FROM counts
    )
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           round(regr_slope(ln(CAST(n AS DOUBLE)),
                            ln(CAST(rank AS DOUBLE))), 4) AS zipf_slope,
           round(corr(ln(CAST(n AS DOUBLE)),
                      ln(CAST(rank AS DOUBLE))), 4) AS loglog_corr
    FROM ranked WHERE rank <= 1000
    """,
    doc="Zipf's-law fit: OLS slope of log-frequency against log-rank "
    "over the top-1000 vocabulary (natural text sits near -1; a "
    "corpus drifting from its usual slope signals template spam or "
    "encoding rot — the cheap distribution-shift monitor for corpus "
    "intake). Token counting partial-aggregates; the top-1000 rank "
    "window runs on the tiny type table, and the regression is one "
    "combinable aggregate over 1000 rows.",
)
def text_zipf_slope(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = spread(table(spark, sf_dir, "documents"))
    counts = (
        docs.select(
            F.explode(
                F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
            ).alias("tok")
        )
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    ranked = counts.withColumn(
        "rank", F.row_number().over(W.orderBy(F.col("n").desc(), "tok"))
    ).where(F.col("rank") <= 1000)
    ln_n = F.log(F.col("n").cast("double"))
    ln_r = F.log(F.col("rank").cast("double"))
    return ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.round(F.expr("regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE)))"), 4).alias(
            "zipf_slope"
        ),
        F.round(F.corr(ln_n, ln_r), 4).alias("loglog_corr"),
    )


#: PII patterns shared verbatim by engine and oracle — lookaround-free
#: so Java-regex (Spark) and RE2 (DuckDB) agree byte for byte.
PII_EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE_RE = r"\b\d{3}-\d{3}-\d{4}\b"
PII_IP_RE = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"

_PII_ORACLE = f"""
    WITH aug AS (
        SELECT doc_id,
               text
               || CASE WHEN doc_id % 3 = 0
                       THEN ' contact user' || doc_id || '@example.com'
                       ELSE '' END
               || CASE WHEN doc_id % 5 = 0
                       THEN ' from 10.' || (doc_id % 256) || '.0.'
                            || ((doc_id * 7) % 256)
                       ELSE '' END
               || CASE WHEN doc_id % 7 = 0
                       THEN ' call 555-'
                            || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                            || '-'
                            || lpad(CAST((doc_id * 3) % 10000 AS VARCHAR), 4, '0')
                       ELSE '' END AS t
        FROM documents),
    red AS (
        SELECT doc_id, t,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '{PII_EMAIL_RE}', '[EMAIL]', 'g'),
                   '{PII_PHONE_RE}', '[PHONE]', 'g'),
                   '{PII_IP_RE}', '[IP]', 'g') AS r
        FROM aug)
    SELECT doc_id,
           CAST(len(regexp_extract_all(t, '{PII_EMAIL_RE}')) AS BIGINT)
               AS n_emails,
           CAST(len(regexp_extract_all(t, '{PII_PHONE_RE}')) AS BIGINT)
               AS n_phones,
           CAST(len(regexp_extract_all(t, '{PII_IP_RE}')) AS BIGINT)
               AS n_ips,
           CAST(length(r) AS BIGINT) AS redacted_len,
           md5(r) AS redacted_md5
    FROM red
"""


@query(
    "text_pii_redact",
    _PII_ORACLE,
    doc="PII detection + redaction (the scrub pass every training-data "
    "pipeline runs before anything else): emails, North-American "
    "phone numbers, and IPv4 addresses are counted with "
    "regexp_extract_all and masked with a regexp_replace chain — "
    "pure JVM column expressions, whole-stage codegen, so the 100 TB "
    "scan is I/O-bound.  The synthetic corpus carries no PII, so the "
    "query first derives deterministic contact lines from doc_id "
    "(identical CASE arithmetic in engine and oracle) — the counts "
    "are then non-trivial and row-varying, and the md5 of the "
    "redacted text proves the masking is byte-identical across "
    "engines, not just the counts.  Patterns are lookaround-free by "
    "construction so Java regex and RE2 agree.",
)
def text_pii_redact(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"),
                did.cast("string"),
                F.lit("@example.com"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 256).cast("string"),
                F.lit(".0."),
                ((did * 7) % 256).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad(((did * 3) % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(aug, PII_EMAIL_RE, "[EMAIL]"),
            PII_PHONE_RE,
            "[PHONE]",
        ),
        PII_IP_RE,
        "[IP]",
    )
    return docs.select(
        "doc_id",
        F.size(F.regexp_extract_all(aug, F.lit(PII_EMAIL_RE), F.lit(0)))
        .cast("long")
        .alias("n_emails"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_PHONE_RE), F.lit(0)))
        .cast("long")
        .alias("n_phones"),
        F.size(F.regexp_extract_all(aug, F.lit(PII_IP_RE), F.lit(0)))
        .cast("long")
        .alias("n_ips"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


@query(
    "text_bigram_logprob",
    f"""
    WITH tl AS (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS t
        FROM documents),
    raw AS (
        SELECT doc_id, t[i] AS tok, i AS pos
        FROM tl, unnest(range(1, len(t) + 1)) AS u(i)),
    vocab AS (
        SELECT tok FROM (
            SELECT tok, count(*) AS n FROM raw GROUP BY tok
            ORDER BY n DESC, tok LIMIT {VOCAB_SIZE})),
    toks AS (
        SELECT doc_id, pos,
               CASE WHEN v.tok IS NULL THEN '<oov>' ELSE r.tok END AS tok
        FROM raw r LEFT JOIN vocab v ON r.tok = v.tok),
    bi AS (
        SELECT doc_id, tok,
               lead(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS nxt
        FROM toks),
    b2 AS (SELECT * FROM bi WHERE nxt IS NOT NULL),
    uc AS (SELECT tok, count(*) AS c1 FROM toks GROUP BY tok),
    bc AS (SELECT tok, nxt, count(*) AS c2 FROM b2 GROUP BY tok, nxt),
    v AS (SELECT count(*) AS vs FROM uc)
    SELECT d.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           round(avg(ln((c2 + 0.5) / (c1 + 0.5 * vs))), 4) AS avg_logprob
    FROM b2 d JOIN bc USING (tok, nxt) JOIN uc USING (tok) CROSS JOIN v
    GROUP BY d.doc_id
    """,
    doc="Bigram language-model quality scoring (the CCNet recipe one "
    "order up from text_unigram_logprob): an add-0.5-smoothed bigram "
    f"LM over a TRUNCATED top-{VOCAB_SIZE} vocabulary (frequency "
    "order, token tie-break; everything else maps to a single '<oov>' "
    "sentinel before bigram formation) is trained on the corpus "
    "itself, and every document is scored by its average bigram "
    "log-probability — the standard fluency/outlier signal for "
    "filtering. The truncation is the scale guarantee: open-web "
    "bigram types grow near-quadratically with the corpus, so the "
    "count tables are only broadcast-safe because the vocab is "
    f"capped — unigram table ≤ {VOCAB_SIZE}+1 rows, bigram table ≤ "
    f"({VOCAB_SIZE}+1)^2 rows, both corpus-size-independent. Two "
    "corpus scans (count, score); bigrams form ARRAY-SIDE (zip_with "
    "over two slices of the token array) so there is NO per-doc "
    "window — the original plan sorted the full token stream by "
    "(doc_id, pos) for a lead(), a complete corpus exchange that "
    "dominated at sf1 and would be the bottleneck at 100 TB; the "
    "unigram LM counts come straight off the raw frequency table "
    "(vocab tokens keep their counts, the non-vocab residual pools "
    "into '<oov>' by one bounded re-agg), never a second token-stream "
    "pass.  Broadcast joins only; ln() may differ by 1 ulp across "
    "libms, absorbed by round(.,4) over sums 10+ orders of magnitude "
    "larger.",
)
def text_bigram_logprob(spark, sf_dir):
    # spread(): the explode-heavy stages below must not run at the
    # input's file-partition count on small-file fixtures; a no-op on
    # any at-scale scan (files >= cores).
    docs = spread(table(spark, sf_dir, "documents"))
    ws = F.filter(F.split(F.lower("text"), r"\s+"), lambda t: t != "")
    w = docs.select("doc_id", ws.alias("ws"))
    freq = (
        w.select(F.explode("ws").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    vocab = (
        freq.orderBy(F.col("n").desc(), "tok")
        .limit(VOCAB_SIZE)
        .select("tok", F.lit(1).alias("iv"))
    )
    # Unigram counts of the oov-mapped stream, derived from the raw
    # frequency table instead of re-scanning tokens: vocab tokens keep
    # their counts, everything else pools into one '<oov>' row.
    uc = (
        freq.join(F.broadcast(vocab), "tok", "left")
        .select(
            F.when(F.col("iv").isNull(), F.lit("<oov>"))
            .otherwise(F.col("tok"))
            .alias("tok"),
            "n",
        )
        .groupBy("tok")
        .agg(F.sum("n").alias("c1"))
    )
    # Bigram pairs formed inside the scan stage: zip the token array
    # against itself shifted by one — zero windows, zero sorts.
    npairs = F.greatest(F.size("ws") - 1, F.lit(0))
    pairs = F.zip_with(
        F.slice("ws", F.lit(1), npairs),
        F.slice("ws", F.lit(2), npairs),
        lambda a, b: F.struct(a.alias("tok"), b.alias("nxt")),
    )
    vt = F.broadcast(vocab)
    vn = F.broadcast(
        vocab.select(F.col("tok").alias("nxt"), F.col("iv").alias("ivn"))
    )
    bi = (
        w.select("doc_id", F.explode(pairs).alias("p"))
        .select("doc_id", F.col("p.tok").alias("tok"), F.col("p.nxt").alias("nxt"))
        .join(vt, "tok", "left")
        .join(vn, "nxt", "left")
        .select(
            "doc_id",
            F.when(F.col("iv").isNull(), F.lit("<oov>"))
            .otherwise(F.col("tok"))
            .alias("tok"),
            F.when(F.col("ivn").isNull(), F.lit("<oov>"))
            .otherwise(F.col("nxt"))
            .alias("nxt"),
        )
    )
    bc = bi.groupBy("tok", "nxt").agg(F.count(F.lit(1)).alias("c2"))
    v = uc.agg(F.count(F.lit(1)).alias("vs"))
    logp = F.log(
        (F.col("c2") + 0.5) / (F.col("c1") + 0.5 * F.col("vs"))
    )
    return (
        bi.join(F.broadcast(bc), ["tok", "nxt"])
        .join(F.broadcast(uc), "tok")
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            F.round(F.avg(logp), 4).alias("avg_logprob"),
        )
    )


#: Gopher quality-rule constants (Rae et al. 2021, "Scaling Language
#: Models: ...Gopher", Table A1) — shared verbatim by engine and oracle.
GOPHER_MIN_WORDS = 50
GOPHER_MAX_WORDS = 100_000
GOPHER_MIN_MWL = 3.0
GOPHER_MAX_MWL = 10.0
GOPHER_MIN_ALPHA_FRAC = 0.8
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
GOPHER_MIN_STOPWORDS = 2


#: Gopher metric/keep SQL shared by text_gopher_rules and the composed
#: pipeline_curate_v2 oracle — one definition, two graded queries.
_GOPHER_METRICS_SQL = """w AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\\s+'),
                           t -> t <> '') AS wrds,
               length(text) - length(replace(text, '#', '')) AS n_hash,
               (length(text) - length(replace(text, '...', ''))) // 3
                   AS n_ellipsis
        FROM documents
    ),
    m AS (
        SELECT doc_id,
               len(wrds) AS n_words,
               list_sum(list_transform(wrds, t -> length(t))) * 1.0
                   / len(wrds) AS mwl,
               len(list_filter(wrds, t -> regexp_matches(t, '[A-Za-z]')))
                   * 1.0 / len(wrds) AS alpha_frac,
               (n_hash + n_ellipsis) * 1.0 / len(wrds) AS symbol_ratio,
               len(list_intersect(wrds,
                   ['the','be','to','of','and','that','have','with']))
                   AS n_stop
        FROM w
    )"""

_GOPHER_KEEP_SQL = f"""((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
            AND (mwl BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL})
            AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
            AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND n_stop >= {GOPHER_MIN_STOPWORDS})"""

#: The composed pipeline's stopword-lexicon threshold.  Gopher's
#: published value is 2 DISTINCT stopwords (GOPHER_MIN_STOPWORDS); the
#: driver-generated fixture's vocabulary contains exactly ONE of the
#: eight lexicon words ("the"), so the published threshold would zero
#: the corpus and make every downstream stage vacuous.  At 1 the rule
#: participates with full production structure (all FIVE Gopher rules
#: gate the pipeline) and is genuinely discriminative on the fixture
#: (~24% of documents carry no lexicon word at all); a real-corpus run
#: sets it back to GOPHER_MIN_STOPWORDS — a constant, not a code
#: change.  text_gopher_rules reports the published-threshold flag
#: per doc either way.
CURATE_MIN_STOPWORDS = 1

#: The full five-rule gate at the fixture-viable lexicon threshold —
#: shared by pipeline_curate_v2's engine and oracle definitions.
_GOPHER_KEEP_CURATE_SQL = f"""((n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
            AND (mwl BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL})
            AND alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}
            AND symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}
            AND n_stop >= {CURATE_MIN_STOPWORDS})"""


def _gopher_metrics(docs, keep_words=False, extra_cols=()):
    """Row-local Gopher rule metrics per document: (doc_id, n_words,
    mwl, alpha_frac, symbol_ratio, n_stop), optionally carrying the
    words array through (``keep_words``) so a downstream token explode
    shares the SAME row — zero joins.  The Spark half of
    ``_GOPHER_METRICS_SQL``; one definition feeds text_gopher_rules,
    pipeline_curate_v2 (via the former) and the NB quality classifier
    so the metric expressions cannot drift."""
    wrds = F.filter(F.split("text", r"\s+"), lambda t: t != "")
    n_hash = F.length("text") - F.length(F.replace(F.col("text"), F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length("text")
        - F.length(F.replace(F.col("text"), F.lit("..."), F.lit("")))
    ) / F.lit(3)
    n_ellipsis = n_ellipsis.cast("long")
    base = docs.select(
        "doc_id",
        *extra_cols,
        wrds.alias("wrds"),
        n_hash.alias("n_hash"),
        n_ellipsis.alias("n_ellipsis"),
    )
    n_words = F.size("wrds")
    mwl = (
        F.aggregate(
            F.transform(F.col("wrds"), F.length), F.lit(0), lambda a, x: a + x
        )
        * F.lit(1.0)
        / n_words
    )
    alpha_frac = (
        F.size(F.filter(F.col("wrds"), lambda t: t.rlike("[A-Za-z]")))
        * F.lit(1.0)
        / n_words
    )
    symbol_ratio = (F.col("n_hash") + F.col("n_ellipsis")) * F.lit(1.0) / n_words
    n_stop = F.size(
        F.array_intersect(
            F.col("wrds"), F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
        )
    )
    return base.select(
        "doc_id",
        *extra_cols,
        *(["wrds"] if keep_words else []),
        n_words.cast("long").alias("n_words"),
        mwl.alias("mwl"),
        alpha_frac.alias("alpha_frac"),
        symbol_ratio.alias("symbol_ratio"),
        n_stop.cast("long").alias("n_stop"),
    )



def _gopher_keep_curate_col():
    """The five-rule curate-threshold keep over _gopher_metrics
    columns — the Spark half of _GOPHER_KEEP_CURATE_SQL (one
    definition; coalesce makes a zero-word doc's NULL metrics read as
    drop, matching the SQL).  Consumers: the NB seed labels and the
    corpus datasheet; pipeline_curate_v2 gates on text_gopher_rules'
    graded flag columns instead (same thresholds via the shared
    constants)."""
    return F.coalesce(
        F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
        & F.col("mwl").between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
        & (F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC)
        & (F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO)
        & (F.col("n_stop") >= CURATE_MIN_STOPWORDS),
        F.lit(False),
    )


@query(
    "text_gopher_rules",
    f"""
    WITH {_GOPHER_METRICS_SQL}
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           round(mwl, 4) AS mean_word_len,
           round(alpha_frac, 4) AS alpha_frac,
           round(symbol_ratio, 4) AS symbol_ratio,
           CAST(n_stop AS BIGINT) AS n_stopwords,
           (n_words BETWEEN {GOPHER_MIN_WORDS} AND {GOPHER_MAX_WORDS})
               AS ok_word_count,
           (mwl BETWEEN {GOPHER_MIN_MWL} AND {GOPHER_MAX_MWL})
               AS ok_mean_word_len,
           (alpha_frac >= {GOPHER_MIN_ALPHA_FRAC}) AS ok_alpha,
           (symbol_ratio <= {GOPHER_MAX_SYMBOL_RATIO}) AS ok_symbols,
           (n_stop >= {GOPHER_MIN_STOPWORDS}) AS ok_stopwords,
           {_GOPHER_KEEP_SQL} AS keep
    FROM m
    """,
    doc="Gopher quality-filter rules (Rae et al. 2021, Table A1): word "
    "count bounds, mean word length bounds, fraction of words with an "
    "alphabetic character, symbol-to-word ratio (# and ellipsis), and "
    "a minimum distinct-stopword requirement, combined into one keep "
    "flag with every rule's flag and raw metric exposed for "
    "threshold-tuning audits.  Row-local column expressions only — "
    "whole-stage codegen end to end, zero shuffles, so at 100 TB the "
    "filter runs at parquet scan speed exactly like text_quality.  "
    "All thresholds are the published Gopher values; integer counts "
    "and one-pass replace()-based substring counting keep the engine "
    "and oracle bit-identical (no float parsing anywhere upstream of "
    "the round(.,4)s).",
)
def text_gopher_rules(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    m = _gopher_metrics(docs)
    ok_wc = F.col("n_words").between(GOPHER_MIN_WORDS, GOPHER_MAX_WORDS)
    ok_mwl = F.col("mwl").between(GOPHER_MIN_MWL, GOPHER_MAX_MWL)
    ok_alpha = F.col("alpha_frac") >= GOPHER_MIN_ALPHA_FRAC
    ok_sym = F.col("symbol_ratio") <= GOPHER_MAX_SYMBOL_RATIO
    ok_stop = F.col("n_stop") >= GOPHER_MIN_STOPWORDS
    return m.select(
        "doc_id",
        "n_words",
        F.round("mwl", 4).alias("mean_word_len"),
        F.round("alpha_frac", 4).alias("alpha_frac"),
        F.round("symbol_ratio", 4).alias("symbol_ratio"),
        F.col("n_stop").alias("n_stopwords"),
        ok_wc.alias("ok_word_count"),
        ok_mwl.alias("ok_mean_word_len"),
        ok_alpha.alias("ok_alpha"),
        ok_sym.alias("ok_symbols"),
        ok_stop.alias("ok_stopwords"),
        (ok_wc & ok_mwl & ok_alpha & ok_sym & ok_stop).alias("keep"),
    )


# Imported adjacent to their single consumer (pipeline_curate_v2):
# the composed oracle is an f-string, so these must be module-level.
# No cycle: pipeline_llm never imports text.
from .pipeline_llm import (  # noqa: E402
    _SPLIT_CASE,
    _TERCILE_BUCKET_SQL,
    _UNIGRAM_NLL_CTES,
    _UNIGRAM_NLL_SELECT,
    _split_col,
    text_unigram_logprob,
    with_lang_tercile_bucket,
)


@query(
    "pipeline_curate_v2",
    f"""
    WITH {_GOPHER_METRICS_SQL},
    g AS (SELECT doc_id, n_words FROM m
         WHERE {_GOPHER_KEEP_CURATE_SQL}),
    {_UNIGRAM_NLL_CTES},
    nll AS ({_UNIGRAM_NLL_SELECT}),
    scored AS (
        SELECT g.doc_id, g.n_words, d.lang, d.source,
               md5(d.text) AS content_hash, n.avg_nll
        FROM g JOIN nll n USING (doc_id) JOIN documents d USING (doc_id)
    ),
    {_TERCILE_BUCKET_SQL},
    canon AS (
        SELECT doc_id, n_words, source
        FROM (SELECT *, row_number() OVER (PARTITION BY content_hash
                                           ORDER BY doc_id) AS rn
              FROM bucketed WHERE bucket <> 'tail')
        WHERE rn = 1
    )
    SELECT {_SPLIT_CASE} AS split, source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_tokens
    FROM canon
    GROUP BY 1, 2
    """,
    doc="END-TO-END modern curation pipeline (the composition a "
    "2024-era corpus run executes, cf. CCNet / Gopher / RefinedWeb): "
    "FULL five-rule Gopher filter (word count / mean word length / "
    "alpha fraction / symbol ratio / stopword lexicon — the lexicon "
    "threshold runs at CURATE_MIN_STOPWORDS=1 because the fixture "
    "vocabulary carries exactly one of the eight Gopher stopwords; "
    "see the constant's note) → CCNet perplexity gate (drop each language's "
    "worst tercile under the truncated unigram LM — the LM is trained "
    "on the RAW corpus and applied to the filtered one, exactly "
    "CCNet's external-LM pattern) → exact content-hash dedup "
    "(min-id canonical) → reproducible md5 split assignment, reported "
    "as docs/tokens per (split, source) — the corpus datasheet.  "
    "Every stage REUSES the exact shared definition its standalone "
    "graded query runs (_GOPHER_*_SQL, _UNIGRAM_NLL_*, "
    "_TERCILE_BUCKET_SQL, _SPLIT_CASE — one definition each, so the "
    "composition cannot drift from the parts).  Scale: each stage "
    "drops data before the next shuffle — the rule filter is "
    "row-local at the scan; the CCNet gate classifies against "
    "per-language percentile boundaries (with_lang_tercile_bucket — "
    "window-free, the survivor subtree materialized once and consumed "
    "by both the cuts aggregate and the classification join); dedup "
    "is ONE row_number window on the 16-byte digest (key-partitioned, "
    "never corpus-proportional); split is a row-local projection; the "
    "only corpus-proportional broadcast candidate (the LM) is the "
    "bounded top-K+OOV table.",
)
def pipeline_curate_v2(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    # Full five-rule gate; the lexicon threshold is the fixture-viable
    # CURATE_MIN_STOPWORDS (see the constant's note — production sets
    # it back to GOPHER_MIN_STOPWORDS).
    g = (
        text_gopher_rules(spark, sf_dir)
        .where(
            F.col("ok_word_count")
            & F.col("ok_mean_word_len")
            & F.col("ok_alpha")
            & F.col("ok_symbols")
            & (F.col("n_stopwords") >= CURATE_MIN_STOPWORDS)
        )
        .select("doc_id", "n_words")
    )
    nll = text_unigram_logprob(spark, sf_dir).select("doc_id", "avg_nll")
    meta = docs.select(
        "doc_id", "lang", "source", F.md5("text").alias("content_hash")
    )
    scored = g.join(nll, "doc_id").join(meta, "doc_id")
    # CCNet gate: drop each language's worst tercile — window-free
    # boundary classification (shared definition, see
    # with_lang_tercile_bucket; the checkpoint inside also means the
    # gopher+LM subtree is computed once however many consumers
    # follow).
    survivors = with_lang_tercile_bucket(scored).where(
        F.col("bucket") != "tail"
    )
    canon = (
        survivors.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("content_hash").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") == 1)
    )
    return (
        canon.select(_split_col().alias("split"), "source", "n_words")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("sum_tokens"),
        )
    )


#: Hashed-feature space for the NB quality classifier — the DSIR
#: hashing trick again: a CONSTANT bucket count means the learned
#: weight table is 1024 rows at 1 GB and at 100 TB, so it broadcasts
#: where a raw-vocabulary weight vector would not.  1024 buckets over
#: unigrams+bigrams was selected by a measured sweep on the fixture
#: (256/uni 0.59, 256/uni+bi 0.75, 1024/uni+bi 0.83 accuracy against
#: the seed labels); bigrams carry most of the word-choice signal the
#: rule labels encode.
NB_BUCKETS = 1024


#: Shared NB oracle CTE chain: Gopher seed labels -> hashed features
#: -> class counts -> smoothed llr table + prior -> per-doc scores
#: (``nbs``).  One definition feeds BOTH graded NB oracles
#: (text_quality_classifier_nb and sample_classifier_topk) so the
#: model cannot drift between them.
_NB_SCORED_CTES = f"""{_GOPHER_METRICS_SQL},
    lbl AS (
        SELECT w.doc_id, w.wrds,
               coalesce({_GOPHER_KEEP_CURATE_SQL}, FALSE) AS pos
        FROM w JOIN m USING (doc_id)
    ),
    f AS (
        SELECT doc_id, pos,
               CAST('0x' || substr(md5(lower(tok)), 1, 8) AS BIGINT)
                   % {NB_BUCKETS} AS bkt
        FROM lbl, UNNEST(list_concat(
                 wrds,
                 list_transform(range(1, len(wrds)),
                                i -> wrds[i] || ' ' || wrds[i + 1])))
             AS u(tok)
    ),
    c AS (
        SELECT bkt,
               sum(CASE WHEN pos THEN 1 ELSE 0 END) AS pc,
               sum(CASE WHEN pos THEN 0 ELSE 1 END) AS nc
        FROM f GROUP BY bkt
    ),
    t AS (SELECT sum(pc) AS pn, sum(nc) AS nn FROM c),
    llr AS (
        SELECT bkt,
               ln((pc + 1.0) / (pn + {NB_BUCKETS}))
                   - ln((nc + 1.0) / (nn + {NB_BUCKETS})) AS lam
        FROM c CROSS JOIN t
    ),
    prior AS (
        SELECT ln((sum(CASE WHEN pos THEN 1 ELSE 0 END) + 1.0)
                  / (sum(CASE WHEN pos THEN 0 ELSE 1 END) + 1.0)) AS pri
        FROM lbl
    ),
    nbs AS (
        -- DECIMAL(38,18) per-term cast + exact decimal sum (the
        -- SCALE.md money-aggregate policy): a double sum of ~1000
        -- lam terms carries order-dependent ulp noise that can flip
        -- round(.,4) between engines and BETWEEN RUNS (observed once
        -- at sf1: hash-flip that a rerun couldn't reproduce).  The
        -- per-term double->decimal cast is identical in every engine
        -- and the decimal sum is order-independent.
        SELECT f.doc_id, f.pos AS gopher_keep,
               CAST(count(*) AS BIGINT) AS n_feats,
               CAST(round(CAST(max(p.pri) AS DECIMAL(38, 18))
                          + sum(CAST(l.lam AS DECIMAL(38, 18))), 4)
                    AS DOUBLE) AS nb_logit
        FROM f JOIN llr l USING (bkt) CROSS JOIN prior p
        GROUP BY f.doc_id, f.pos
    )"""


def _nb_bucket(tok_col):
    """Hashed-feature bucket id for one token/bigram — md5-prefix mod
    NB_BUCKETS (the DSIR idiom), shared by batch training/scoring and
    the streaming scorer so the model applies identically."""
    return (
        F.conv(F.substring(F.md5(F.lower(tok_col)), 1, 8), 16, 10).cast(
            "long"
        )
        % NB_BUCKETS
    )


def _nb_feats_array(wrds_col):
    """Unigrams + array-side bigrams (zip_with over two slices — the
    DSIR idiom: zero windows, the whole feature expansion stays in the
    scan stage's project)."""
    nw = F.size(wrds_col)
    bigrams = F.zip_with(
        F.slice(wrds_col, F.lit(1), F.greatest(nw - 1, F.lit(0))),
        F.slice(wrds_col, F.lit(2), F.greatest(nw - 1, F.lit(0))),
        lambda a, b: F.concat(a, F.lit(" "), b),
    )
    return F.concat(wrds_col, bigrams)


def _nb_feature_stream(docs):
    """(doc_id, pos, bkt) labeled hashed-feature stream over ``docs``
    — the ONE tokenize+label+hash definition feeding training counts,
    batch scoring, and the count-refresh lifecycle."""
    m = _gopher_metrics(docs, keep_words=True)
    lbl = m.select("doc_id", "wrds", _gopher_keep_curate_col().alias("pos"))
    f = lbl.select(
        "doc_id",
        "pos",
        F.explode(_nb_feats_array(F.col("wrds"))).alias("tok"),
    ).select("doc_id", "pos", _nb_bucket(F.col("tok")).alias("bkt"))
    return lbl, f


def _nb_counts(docs):
    """The ADDITIVE sufficient statistics of the NB model over
    ``docs``: per-bucket (pc, nc) feature-class counts plus one
    sentinel row bkt = -1 holding the (pos, neg) DOC counts the prior
    derives from.  Counts over doc-disjoint corpus splits sum to the
    counts over the union — exact integers — which is what makes the
    model REFRESHABLE: merge a delta's count table into the persisted
    one and the derived (lam, prior) are bit-identical to a full
    retrain (refresh_nb_model)."""
    lbl, f = _nb_feature_stream(docs)
    c = f.groupBy("bkt").agg(
        F.sum(F.col("pos").cast("long")).alias("pc"),
        F.sum((~F.col("pos")).cast("long")).alias("nc"),
    )
    docrow = lbl.agg(
        F.sum(F.col("pos").cast("long")).alias("pc"),
        F.sum((~F.col("pos")).cast("long")).alias("nc"),
    ).select(F.lit(-1).cast("long").alias("bkt"), "pc", "nc")
    return c.select(F.col("bkt").cast("long").alias("bkt"), "pc", "nc")\
        .unionByName(docrow)


def _nb_model_from_counts(counts):
    """(llr DF, prior DF) derived from a sufficient-statistics table —
    the same smoothed formulas as _nb_training, so a merged count
    table yields a bit-identical model (log over identical integers)."""
    c = counts.where(F.col("bkt") >= 0)
    t = c.agg(F.sum("pc").alias("pn"), F.sum("nc").alias("nn"))
    llr = c.crossJoin(F.broadcast(t)).select(
        "bkt",
        (
            F.log((F.col("pc") + 1.0) / (F.col("pn") + NB_BUCKETS))
            - F.log((F.col("nc") + 1.0) / (F.col("nn") + NB_BUCKETS))
        ).alias("lam"),
    )
    prior = counts.where(F.col("bkt") == -1).select(
        F.log((F.col("pc") + 1.0) / (F.col("nc") + 1.0)).alias("pri")
    )
    return llr, prior


def _nb_training(spark, sf_dir):
    """Closed-form NB training over the Gopher seed labels: returns
    (f, llr, prior) — the labeled per-feature bucket stream, the
    NB_BUCKETS-row log-likelihood-ratio table, and the 1-row doc-count
    prior.  Shared by the batch classifier (joins f back to llr) and
    the streaming scorer (collects llr+prior into the serving
    expression) — one trained model, two consumers."""
    # spread(): the labeled token stream is built twice (count pass +
    # scoring pass) and the explode is the whole cost — same guard as
    # _dsir_scored; no-op at scale (files >= cores).
    docs = spread(table(spark, sf_dir, "documents"))
    lbl, f = _nb_feature_stream(docs)
    c = f.groupBy("bkt").agg(
        F.sum(F.col("pos").cast("long")).alias("pc"),
        F.sum((~F.col("pos")).cast("long")).alias("nc"),
    )
    t = c.agg(F.sum("pc").alias("pn"), F.sum("nc").alias("nn"))
    llr = c.crossJoin(F.broadcast(t)).select(
        "bkt",
        (
            F.log((F.col("pc") + 1.0) / (F.col("pn") + NB_BUCKETS))
            - F.log((F.col("nc") + 1.0) / (F.col("nn") + NB_BUCKETS))
        ).alias("lam"),
    )
    prior = lbl.agg(
        F.log(
            (F.sum(F.col("pos").cast("long")) + 1.0)
            / (F.sum((~F.col("pos")).cast("long")) + 1.0)
        ).alias("pri")
    )
    return f, llr, prior



@query(
    "text_quality_classifier_nb",
    f"""
    WITH {_NB_SCORED_CTES}
    SELECT doc_id, gopher_keep, n_feats, nb_logit,
           (nb_logit > 0) AS pred_keep
    FROM nbs
    """,
    doc="Model-based document-quality scoring — the DCLM / "
    "fastText-classifier pattern (Li et al. 2024; Joulin et al. 2017) "
    "that modern curation runs use as their main quality lever: train "
    "a classifier on a SEED labeling (here the shared five-rule "
    "Gopher gate at the fixture-viable lexicon threshold plays the "
    "'curated seed vs raw pool' labels, exactly how quality "
    "classifiers are bootstrapped from rule-based or "
    "Wikipedia-vs-CommonCrawl seeds) and apply it to every document "
    "as a SOFT score that generalizes past the hard rules.  The model "
    f"is multinomial Naive Bayes over {NB_BUCKETS} hashed "
    "unigram+bigram buckets (md5-prefix mod — the DSIR hashing "
    "trick; bucket count and feature set chosen by a measured "
    "accuracy sweep, see NB_BUCKETS): per-bucket "
    "add-one-smoothed log-likelihood ratios plus a doc-count prior, "
    "scored as prior + sum(llr[bucket(token)]).  Closed-form training "
    "= ONE aggregation, so the whole learn+apply is deterministic and "
    "SQL-expressible — no SGD, no seed sensitivity, hash-gated "
    "against DuckDB.  Scale: labels are row-local projections "
    "computed on the SAME row as the token array (zero label join); "
    f"training counts partial-agg to {NB_BUCKETS} rows; the weight "
    "table and the scalar prior broadcast at any corpus size; scoring "
    "is one broadcast join over the token stream + per-doc partial "
    "agg.  Outputs the seed label, the logit, and the thresholded "
    "prediction so downstream gates can trade precision/recall "
    "(pred_keep compares the ROUNDED logit, keeping the boundary on "
    "the 1e-4 grid both engines agree on).  Reference capability: "
    "none — BASELINE.json north-star operator.",
)
def text_quality_classifier_nb(spark, sf_dir):
    return _nb_scored_hist(spark, sf_dir)


def _nb_scored_hist(spark, sf_dir):
    """One-pass NB train + score (r15 optimization, guide §2.3/§2.4):
    the tokenize + Gopher-label + md5-hash feature scan — the dominant
    cost — previously ran TWICE per scored query (once under the
    training counts, once under the scoring join; no exchange reuse
    across an aggregation boundary).  Instead, ONE scan builds the
    per-(doc, pos, bkt) occurrence HISTOGRAM (map-side combined: a
    doc's token repeats collapse before the exchange, so shuffle bytes
    are O(docs x distinct buckets) instead of O(tokens)) plus a
    bkt = -1 sentinel row per labeled doc (the _nb_counts idiom) that
    carries the prior's doc counts.  The histogram is
    localCheckpointed (it is read by the training rollup AND the
    scoring rollup) and is strictly smaller than the raw token stream.

    Scoring equivalence is an exact-decimal identity: the oracle sums
    cnt copies of CAST(lam AS DECIMAL(38,18)); here the same decimal
    value (|lam| < 100 — each smoothed log term is bounded by
    ln(corpus tokens) — so the (22,18) cast preserves it bit-for-bit)
    is multiplied by cnt as DECIMAL(22,18) x DECIMAL(10,0) ->
    DECIMAL(33,18), no precision overflow, exact, and decimal addition
    is associative — identical sums, identical round(., 4) grid."""
    docs = spread(table(spark, sf_dir, "documents"))
    lbl, f = _nb_feature_stream(docs)
    sent = lbl.select(
        "doc_id", "pos", F.lit(-1).cast("long").alias("bkt")
    )
    hist = (
        f.select("doc_id", "pos", F.col("bkt").cast("long").alias("bkt"))
        .unionByName(sent)
        .groupBy("doc_id", "pos", "bkt")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    feat = hist.where(F.col("bkt") >= 0)
    c = feat.groupBy("bkt").agg(
        F.sum(F.when(F.col("pos"), F.col("cnt")).otherwise(F.lit(0)))
        .alias("pc"),
        F.sum(F.when(~F.col("pos"), F.col("cnt")).otherwise(F.lit(0)))
        .alias("nc"),
    )
    t = c.agg(F.sum("pc").alias("pn"), F.sum("nc").alias("nn"))
    llr = c.crossJoin(F.broadcast(t)).select(
        "bkt",
        (
            F.log((F.col("pc") + 1.0) / (F.col("pn") + NB_BUCKETS))
            - F.log((F.col("nc") + 1.0) / (F.col("nn") + NB_BUCKETS))
        ).alias("lam"),
    )
    prior = (
        hist.where(F.col("bkt") == -1)
        .agg(
            F.log(
                (F.sum(F.col("pos").cast("long")) + 1.0)
                / (F.sum((~F.col("pos")).cast("long")) + 1.0)
            ).alias("pri")
        )
    )
    logit = F.round(
        F.max(F.col("pri").cast("decimal(38,18)"))
        + F.sum(
            F.col("lam").cast("decimal(22,18)")
            * F.col("cnt").cast("decimal(10,0)")
        ),
        4,
    ).cast("double")
    return (
        feat.join(F.broadcast(llr), "bkt")
        .crossJoin(F.broadcast(prior))
        .groupBy("doc_id", "pos")
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            logit.alias("nb_logit"),
            (logit > 0).alias("pred_keep"),
        )
        .select(
            "doc_id",
            F.col("pos").alias("gopher_keep"),
            "n_feats",
            "nb_logit",
            "pred_keep",
        )
    )


def _nb_score(f, llr, prior):
    """Score a labeled feature stream under a (llr, prior) model —
    shared by the trained-once classifier and the refreshed-model
    re-grade.  Exact decimal sum of the per-bucket llr terms — see
    the _NB_SCORED_CTES note: double summation order flips round(.,4)
    at scale; the decimal sum is order-independent and bit-equal
    across engines and runs (SCALE.md money-aggregate policy)."""
    dec = "decimal(38,18)"
    logit = F.round(
        F.max(F.col("pri").cast(dec)) + F.sum(F.col("lam").cast(dec)), 4
    ).cast("double")
    return (
        f.join(F.broadcast(llr), "bkt")
        .crossJoin(F.broadcast(prior))
        .groupBy("doc_id", "pos")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_feats"),
            logit.alias("nb_logit"),
            (logit > 0).alias("pred_keep"),
        )
        .select(
            "doc_id",
            F.col("pos").alias("gopher_keep"),
            "n_feats",
            "nb_logit",
            "pred_keep",
        )
    )


#: Fixed calibration threshold ladder (logit space).  Every value is
#: exactly representable in binary AND off the 4-dp logit grid's
#: rounding boundary, so `nb_logit > thr` is engine-stable.
CALIB_THRESHOLDS = (-4.0, -2.0, -1.0, -0.5, 0.0, 0.5, 1.0, 2.0, 4.0)


#: The full calibration oracle — shared VERBATIM by the trained-once
#: calibration query and the refreshed-model re-grade
#: (text_nb_model_refresh): merged counts equal full-retrain counts
#: exactly, so BOTH grade against the same batch truth.
_CALIB_SQL = f"""
    WITH {_NB_SCORED_CTES},
    thr AS (SELECT CAST(UNNEST([{", ".join(str(t) for t in CALIB_THRESHOLDS)}])
                        AS DOUBLE) AS thr),
    e AS (
        SELECT t.thr, n.gopher_keep, (n.nb_logit > t.thr) AS pred
        FROM nbs n CROSS JOIN thr t
    ),
    cm AS (
        SELECT thr,
               CAST(sum(CASE WHEN gopher_keep AND pred THEN 1 ELSE 0 END)
                    AS BIGINT) AS tp,
               CAST(sum(CASE WHEN NOT gopher_keep AND pred THEN 1 ELSE 0 END)
                    AS BIGINT) AS fp,
               CAST(sum(CASE WHEN gopher_keep AND NOT pred THEN 1 ELSE 0 END)
                    AS BIGINT) AS fn,
               CAST(sum(CASE WHEN NOT gopher_keep AND NOT pred THEN 1 ELSE 0
                        END) AS BIGINT) AS tn
        FROM e GROUP BY thr
    )
    SELECT thr, tp, fp, fn, tn,
           CASE WHEN tp + fp = 0 THEN NULL
                ELSE floor(CAST(tp AS DOUBLE) / (tp + fp) * 1000000 + 0.5)
                     / 1000000 END AS prec,
           CASE WHEN tp + fn = 0 THEN NULL
                ELSE floor(CAST(tp AS DOUBLE) / (tp + fn) * 1000000 + 0.5)
                     / 1000000 END AS rec,
           CASE WHEN 2 * tp + fp + fn = 0 THEN NULL
                ELSE floor(2.0 * tp / (2 * tp + fp + fn) * 1000000 + 0.5)
                     / 1000000 END AS f1,
           floor(CAST(tp + tn AS DOUBLE) / (tp + fp + fn + tn)
                 * 1000000 + 0.5) / 1000000 AS acc
    FROM cm
    ORDER BY thr
    """


def _calibration_from_scored(scored):
    """The threshold-ladder confusion rollup over a scored
    (gopher_keep, nb_logit) DF — shared by text_classifier_calibration
    and the refreshed-model re-grade."""
    t = scored.select(
        "gopher_keep",
        "nb_logit",
        F.explode(
            F.array(*[F.lit(x) for x in CALIB_THRESHOLDS])
        ).alias("thr"),
    ).withColumn("pred", F.col("nb_logit") > F.col("thr"))
    keep = F.col("gopher_keep")
    pred = F.col("pred")
    cm = t.groupBy("thr").agg(
        F.sum((keep & pred).cast("long")).cast("long").alias("tp"),
        F.sum((~keep & pred).cast("long")).cast("long").alias("fp"),
        F.sum((keep & ~pred).cast("long")).cast("long").alias("fn"),
        F.sum((~keep & ~pred).cast("long")).cast("long").alias("tn"),
    )

    def _snap(x):
        return F.floor(x * 1000000 + F.lit(0.5)) / 1000000

    tp, fp, fn, tn = (F.col(c) for c in ("tp", "fp", "fn", "tn"))
    return cm.select(
        "thr",
        "tp",
        "fp",
        "fn",
        "tn",
        F.when(
            tp + fp == 0, F.lit(None).cast("double")
        ).otherwise(_snap(tp.cast("double") / (tp + fp))).alias("prec"),
        F.when(
            tp + fn == 0, F.lit(None).cast("double")
        ).otherwise(_snap(tp.cast("double") / (tp + fn))).alias("rec"),
        F.when(
            2 * tp + fp + fn == 0, F.lit(None).cast("double")
        ).otherwise(_snap(2.0 * tp / (2 * tp + fp + fn))).alias("f1"),
        _snap((tp + tn).cast("double") / (tp + fp + fn + tn)).alias("acc"),
    ).orderBy("thr")


@query(
    "text_classifier_calibration",
    _CALIB_SQL,
    doc="Classifier CALIBRATION report — the quality-of-the-quality-"
    "classifier artifact (previously only a docstring accuracy "
    "note): precision / recall / F1 / accuracy of the NB logit "
    "against the Gopher seed labels at a FIXED threshold ladder of "
    f"{len(CALIB_THRESHOLDS)} operating points, the sweep a data "
    "team reads before picking the selection cut (DCLM reports "
    "exactly this table for its fastText filter).  The scores are "
    "text_quality_classifier_nb's shared definition (_NB_SCORED_CTES "
    "— one model, N graded consumers); the sweep is ONE pass over "
    "the doc-level scored rows: a bounded 1->|ladder| explode "
    "(doc-granularity, after the token stream has already been "
    "reduced) then a per-threshold conditional-count rollup to "
    "O(|ladder|) rows.  Confusion counts are exact BIGINTs; the "
    "derived ratios are ratios of identical longs (bit-equal IEEE "
    "division in both engines) snapped floor-form to the 1e-6 grid, "
    "with NULL where undefined (division-by-zero semantics differ "
    "between engines, so the guard is explicit).  F1 uses the "
    "2tp/(2tp+fp+fn) form — one division, no compounded rounding.",
)
def text_classifier_calibration(spark, sf_dir):
    scored = text_quality_classifier_nb(spark, sf_dir).select(
        "doc_id", "gopher_keep", "nb_logit"
    )
    return _calibration_from_scored(scored)


@query(
    "audit_corpus_datasheet",
    f"""
    WITH {_GOPHER_METRICS_SQL},
    {_UNIGRAM_NLL_CTES},
    nll AS ({_UNIGRAM_NLL_SELECT}),
    hashes AS (
        SELECT doc_id, source, lang, md5(text) AS h FROM documents
    ),
    hc AS (SELECT h, count(*) AS c FROM hashes GROUP BY h),
    per_doc AS (
        SELECT d.source, d.lang, m.n_words,
               CASE WHEN coalesce({_GOPHER_KEEP_CURATE_SQL}, FALSE)
                    THEN 1 ELSE 0 END AS keep,
               CASE WHEN hc.c > 1 THEN 1 ELSE 0 END AS is_dup,
               n.avg_nll
        FROM hashes d
        JOIN m USING (doc_id)
        JOIN hc USING (h)
        LEFT JOIN nll n USING (doc_id)
    )
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_tokens,
           CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
           floor(sum(keep) * 1.0 / count(*) * 10000 + 0.5) / 10000
               AS curate_keep_rate,
           floor(sum(is_dup) * 1.0 / count(*) * 10000 + 0.5) / 10000
               AS exact_dup_rate,
           floor(CAST(sum(CAST(avg_nll AS DECIMAL(38, 6))) AS DOUBLE)
                 / count(avg_nll) * 10000 + 0.5) / 10000 AS mean_nll
    FROM per_doc
    GROUP BY source
    ORDER BY source
    """,
    doc="The corpus DATASHEET (Gebru et al. 2021 'Datasheets for "
    "Datasets' applied to a pretraining corpus): one row per source "
    "with document/token volume, language spread, the five-rule "
    "Gopher pass rate at the curate threshold (the gate "
    "pipeline_curate_v2 actually applies — the published lexicon "
    "threshold is vacuously zero on the fixture, see "
    "CURATE_MIN_STOPWORDS), exact-duplicate rate (md5 content hash "
    "seen >1x corpus-wide), and mean unigram-LM NLL — the table a "
    "data team reads before deciding mixture weights "
    "(sample_mixture_weights) and filters.  COMPOSITION, not new "
    "logic: every column reuses the exact shared definition its "
    "standalone graded query runs (_GOPHER_METRICS_SQL + "
    "_GOPHER_KEEP_CURATE_SQL, the md5 content hash of dedup_exact_hash, "
    "_UNIGRAM_NLL_* — one definition each, so the datasheet cannot "
    "drift from the operators it summarizes).  Scale: three corpus "
    "passes (metrics, LM vocab+scoring, hash counts) that each "
    "partial-agg or row-project before shuffling; the dup check is a "
    "fixed-width-digest equi-join (never a broadcast of a "
    "corpus-proportional hash set); the final rollup is a partial agg "
    "to O(#sources) rows.  Ratios use floor-form rounding (count "
    "ratios, per the core.py policy), the NLL mean uses round() "
    "(a sum).",
)
def audit_corpus_datasheet(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    m = _gopher_metrics(docs)
    g = m.select(
        "doc_id", "n_words", _gopher_keep_curate_col().cast("long").alias("keep")
    )
    nll = text_unigram_logprob(spark, sf_dir).select("doc_id", "avg_nll")
    hashes = docs.select(
        "doc_id", "source", "lang", F.md5("text").alias("h")
    )
    hc = hashes.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    per_doc = (
        hashes.join(g, "doc_id")
        .join(hc, "h")
        .join(nll, "doc_id", "left")
        .select(
            "source",
            "lang",
            "n_words",
            "keep",
            (F.col("c") > 1).cast("long").alias("is_dup"),
            "avg_nll",
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("sum_tokens"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            (
                F.floor(F.sum("keep") / F.count(F.lit(1)) * 10000 + 0.5)
                / 10000
            ).alias("curate_keep_rate"),
            (
                F.floor(F.sum("is_dup") / F.count(F.lit(1)) * 10000 + 0.5)
                / 10000
            ).alias("exact_dup_rate"),
            # exact decimal sum (per-doc avg_nll is 4-dp rounded, so
            # the DECIMAL(38,6) cast is lossless) then ONE double
            # division + floor-form rounding: a plain double avg over
            # a corpus-sized per-source set is order-dependent — the
            # same flip class the NB logit hit at sf1.
            (
                F.floor(
                    F.sum(F.col("avg_nll").cast("decimal(38,6)")).cast(
                        "double"
                    )
                    / F.count("avg_nll")
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("mean_nll"),
        )
        .orderBy("source")
    )


@query(
    "text_bpe_fertility",
    f"""
    WITH bpe AS ({_BPE_TOKENIZE_ORACLE})
    SELECT d.lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(bpe.n_words) AS BIGINT) AS sum_words,
           CAST(sum(bpe.n_bpe_tokens) AS BIGINT) AS sum_bpe_tokens,
           floor(sum(bpe.n_bpe_tokens) * 1.0 / sum(bpe.n_words)
                 * 10000 + 0.5) / 10000 AS fertility,
           floor(sum(bpe.n_bpe_tokens) * 1.0 / sum(bpe.n_chars)
                 * 10000 + 0.5) / 10000 AS tokens_per_char
    FROM bpe JOIN documents d USING (doc_id)
    WHERE bpe.n_words > 0
    GROUP BY d.lang
    ORDER BY d.lang
    """,
    doc="Tokenizer FERTILITY report — the standard tokenizer-quality "
    "metric (tokens emitted per word, cf. the multilingual tokenizer "
    "evaluations in the XLM-R / BLOOM papers): per language, how many "
    "BPE tokens the learned merge list produces per whitespace word "
    "and per character.  High fertility on a language = the vocab "
    "under-serves it (its merges never trained), the signal that "
    "drives vocab-size and training-mix decisions.  COMPOSITION: the "
    "per-doc token counts are EXACTLY text_bpe_tokenize's shared "
    "definition (same induced merge list, same chained-replace "
    "apply), rolled up per language through one metadata join.  "
    "Scale: the apply pass is the same zero-shuffle row-local codegen "
    "scan; the rollup is a partial agg to O(#languages) rows; the "
    "lang join is doc_id-keyed (co-partitioned with the scan output "
    "at scale).  Count ratios use floor-form rounding per the "
    "core.py policy.",
)
def text_bpe_fertility(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    bpe = text_bpe_tokenize(spark, sf_dir).where(F.col("n_words") > 0)
    lang = docs.select("doc_id", "lang")
    fert = F.floor(
        F.sum("n_bpe_tokens") / F.sum("n_words") * 10000 + 0.5
    ) / 10000
    tpc = F.floor(
        F.sum("n_bpe_tokens") / F.sum("n_chars") * 10000 + 0.5
    ) / 10000
    return (
        bpe.join(lang, "doc_id")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("sum_words"),
            F.sum("n_bpe_tokens").cast("long").alias("sum_bpe_tokens"),
            fert.alias("fertility"),
            tpc.alias("tokens_per_char"),
        )
        .orderBy("lang")
    )


@query(
    "sample_classifier_topk",
    f"""
    WITH {_NB_SCORED_CTES},
    s AS (
        SELECT n.doc_id, d.source, n.nb_logit
        FROM nbs n JOIN documents d USING (doc_id)
    ),
    cuts AS (
        SELECT source,
               floor(quantile_cont(nb_logit, 2.0/3) * 10000 + 0.5) / 10000
                   AS cut
        FROM s GROUP BY source
    )
    SELECT s.doc_id, s.source, s.nb_logit, c.cut
    FROM s JOIN cuts c USING (source)
    WHERE s.nb_logit > c.cut
    """,
    doc="Classifier-based data SELECTION — the step DCLM actually "
    "ships (Li et al. 2024): keep each source's top tercile by the "
    "NB quality logit, selecting per-source rather than globally so "
    "no source is wiped out by a cross-domain score shift (the same "
    "reason CCNet cuts per language).  The scores are EXACTLY "
    "text_quality_classifier_nb's shared definition (_NB_SCORED_CTES "
    "— one model, two graded queries).  Selection is the repo's "
    "signature window-free boundary pattern (with_lang_tercile_bucket "
    "/ agg_value_quartile_buckets): one exact-percentile aggregate "
    "per source (state bounded by the 4-dp score grid, O(#sources) "
    "cut rows broadcast), then a row-local keep predicate — never an "
    "ntile/rank window over a corpus-proportional partition.  The "
    "cut is snapped to the 1e-4 grid with floor-form rounding; the "
    "2/3 fraction's interpolation lands on thirds of a grid step, "
    "never the 0.5 rounding boundary (the _TERCILE_BUCKET_SQL "
    "argument), so engine and oracle agree on every boundary doc.  "
    "Strict '>' keeps ties-at-the-cut together (both engines, same "
    "grid).",
)
def sample_classifier_topk(spark, sf_dir):
    docs = table(spark, sf_dir, "documents")
    scored = text_quality_classifier_nb(spark, sf_dir).select(
        "doc_id", "nb_logit"
    )
    # localCheckpoint: the expensive NB scoring subtree feeds two
    # consumers (cuts aggregate + selection join) — materialize once,
    # same pattern as with_lang_tercile_bucket.
    s = (
        scored.join(docs.select("doc_id", "source"), "doc_id")
        .localCheckpoint()
    )
    cuts = s.groupBy(F.col("source").alias("_cut_src")).agg(
        (
            F.floor(F.expr("percentile(nb_logit, 2.0D/3)") * 10000 + 0.5)
            / 10000
        ).alias("cut")
    )
    return (
        s.join(F.broadcast(cuts), F.col("source") == F.col("_cut_src"))
        .where(F.col("nb_logit") > F.col("cut"))
        .select("doc_id", "source", "nb_logit", "cut")
    )


@query(
    "pipeline_curate_v3",
    f"""
    WITH {_NB_SCORED_CTES},
    s AS (
        SELECT n.doc_id, d.source, mm.n_words,
               md5(d.text) AS content_hash, n.nb_logit
        FROM nbs n
        JOIN documents d USING (doc_id)
        JOIN m mm USING (doc_id)
    ),
    cuts AS (
        SELECT source,
               floor(quantile_cont(nb_logit, 1.0/3) * 10000 + 0.5) / 10000
                   AS cut
        FROM s GROUP BY source
    ),
    kept AS (
        SELECT s.* FROM s JOIN cuts c USING (source)
        WHERE s.nb_logit > c.cut
    ),
    canon AS (
        SELECT doc_id, source, n_words
        FROM (SELECT *, row_number() OVER (PARTITION BY content_hash
                                           ORDER BY doc_id) AS rn
              FROM kept)
        WHERE rn = 1
    )
    SELECT {_SPLIT_CASE} AS split, source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_tokens
    FROM canon
    GROUP BY 1, 2
    """,
    doc="END-TO-END classifier-gated curation (the DCLM-era "
    "composition, one generation past pipeline_curate_v2's rule+LM "
    "recipe): NB quality scoring over the whole corpus (the shared "
    "_NB_SCORED_CTES model — trained once on the Gopher seed labels) "
    "→ drop each SOURCE's worst tercile by logit (per-source cuts so "
    "no domain is wiped out by a cross-domain score shift — the "
    "classifier twin of curate_v2's per-language CCNet gate) → exact "
    "content-hash dedup (min-id canonical, one digest window) → "
    "reproducible md5 split assignment, reported as docs/tokens per "
    "(split, source) — the datasheet a training run consumes.  Every "
    "stage reuses the exact shared definition its standalone graded "
    "query runs (_NB_SCORED_CTES, the sample_classifier_topk boundary "
    "pattern at the 1/3 cut, pipeline_curate_v2's digest-window dedup "
    "and _SPLIT_CASE).  Scale: scoring is the bounded-broadcast NB "
    "pass; the gate is one exact-percentile aggregate per source "
    "(state bounded by the 4-dp grid, O(#sources) cuts broadcast) + "
    "a row-local keep; dedup is ONE row_number window on the 16-byte "
    "digest (key-partitioned, never corpus-proportional); split and "
    "datasheet are row-local projection + partial agg.  Each stage "
    "drops data before the next shuffle.",
)
def pipeline_curate_v3(spark, sf_dir):
    from pyspark.sql import Window as W

    docs = table(spark, sf_dir, "documents")
    scored = text_quality_classifier_nb(spark, sf_dir).select(
        "doc_id", "nb_logit"
    )
    meta = docs.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
        .cast("long")
        .alias("n_words"),
        F.md5("text").alias("content_hash"),
    )
    # localCheckpoint: the NB-scored subtree feeds the cuts aggregate
    # AND the selection join — materialize once (the
    # with_lang_tercile_bucket pattern).
    s = scored.join(meta, "doc_id").localCheckpoint()
    cuts = s.groupBy(F.col("source").alias("_cut_src")).agg(
        (
            F.floor(F.expr("percentile(nb_logit, 1.0D/3)") * 10000 + 0.5)
            / 10000
        ).alias("cut")
    )
    kept = (
        s.join(F.broadcast(cuts), F.col("source") == F.col("_cut_src"))
        .where(F.col("nb_logit") > F.col("cut"))
        .drop("_cut_src", "cut")
    )
    canon = (
        kept.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("content_hash").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") == 1)
    )
    return (
        canon.select(_split_col().alias("split"), "source", "n_words")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("sum_tokens"),
        )
    )


# Shared Gumbel SQL — one definition with sample_dsir_resample.
from .pipeline_llm import gumbel_sql  # noqa: E402
from .pipeline_llm import _contam_flag_ctes as _v4_contam_ctes  # noqa: E402


@query(
    "pipeline_curate_v4",
    f"""
    WITH {_NB_SCORED_CTES},
    {_v4_contam_ctes("v4")},
    s AS (
        SELECT n.doc_id, d.source, mm.n_words,
               md5(d.text) AS content_hash, n.nb_logit
        FROM nbs n
        JOIN documents d USING (doc_id)
        JOIN m mm USING (doc_id)
        LEFT JOIN v4cflag cf ON cf.doc_id = n.doc_id
        WHERE cf.doc_id IS NULL
    ),
    cuts AS (
        SELECT source,
               floor(quantile_cont(nb_logit, 1.0/3) * 10000 + 0.5) / 10000
                   AS cut
        FROM s GROUP BY source
    ),
    kept AS (
        SELECT s.* FROM s JOIN cuts c USING (source)
        WHERE s.nb_logit > c.cut
    ),
    canon AS (
        SELECT doc_id, source, n_words
        FROM (SELECT *, row_number() OVER (PARTITION BY content_hash
                                           ORDER BY doc_id) AS rn
              FROM kept)
        WHERE rn = 1
    )
    SELECT {_SPLIT_CASE} AS split, source,
           count(*) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS sum_tokens
    FROM canon
    GROUP BY 1, 2
    """,
    doc="END-TO-END curation with DECONTAMINATION — the batch twin of "
    "the round-12 fused live gate, so batch curation and live "
    "admission agree on all five signals: NB quality scoring (the "
    "shared _NB_SCORED_CTES model) → drop every document sharing a "
    "5-gram shingle with the benchmark suite (the SHARED "
    "_contam_flag_ctes definition — eval members self-hit and drop, "
    "never train on the eval set) → per-source worst-tercile drop by "
    "logit with cuts computed OVER THE DECONTAMINATED SURVIVORS "
    "(contaminated docs must not shape the quality distribution — "
    "the stage-ordering decision a real pipeline makes) → min-id "
    "content-hash dedup → md5 split datasheet.  Every stage reuses "
    "its standalone graded definition (curate_v3's machinery plus "
    "the decontamination gate's flag CTEs).  Scale: the bench "
    "shingle set is eval-suite-sized so its broadcast is always "
    "legal; the decon drop is one broadcast join + left-anti before "
    "any expensive shuffle; everything downstream inherits v3's "
    "bounded shapes (O(#sources) cuts, digest-key window, partial-agg "
    "datasheet).  Each stage drops data before the next shuffle.",
)
def pipeline_curate_v4(spark, sf_dir):
    from pyspark.sql import Window as W

    from .streaming_queries import _contamination_flag_index

    docs = table(spark, sf_dir, "documents")
    # r16 (guide §1.2, the one-drain-many-readers doctrine): the
    # contamination flag set is EXACTLY the persisted
    # _contamination_flag_index artifact — the same _shingle5_arrays
    # over the same % _BENCH_MOD bench split, joined and distinct'd
    # identically (pinned row-for-row by
    # test_curate_v4_flag_index_parity) — which the fused live gate
    # and the economics report already serve.  Recomputing it live
    # re-tokenized the whole corpus into exploded 5-gram strings on
    # every run (~2/3 of this query's sf1 cost); batch curation now
    # reads the same decision record the streaming side does, which
    # is also what makes the two surfaces agree BY CONSTRUCTION.
    cflag = _contamination_flag_index(spark, sf_dir)
    scored = text_quality_classifier_nb(spark, sf_dir).select(
        "doc_id", "nb_logit"
    )
    meta = docs.select(
        "doc_id",
        "source",
        F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
        .cast("long")
        .alias("n_words"),
        F.md5("text").alias("content_hash"),
    )
    # decontaminate BEFORE the cuts aggregate, then materialize once
    # for its two consumers (the curate_v3 localCheckpoint pattern).
    s = (
        scored.join(meta, "doc_id")
        .join(cflag, "doc_id", "left_anti")
        .localCheckpoint()
    )
    cuts = s.groupBy(F.col("source").alias("_cut_src")).agg(
        (
            F.floor(F.expr("percentile(nb_logit, 1.0D/3)") * 10000 + 0.5)
            / 10000
        ).alias("cut")
    )
    kept = (
        s.join(F.broadcast(cuts), F.col("source") == F.col("_cut_src"))
        .where(F.col("nb_logit") > F.col("cut"))
        .drop("_cut_src", "cut")
    )
    canon = (
        kept.withColumn(
            "rn",
            F.row_number().over(
                W.partitionBy("content_hash").orderBy("doc_id")
            ),
        )
        .where(F.col("rn") == 1)
    )
    return (
        canon.select(_split_col().alias("split"), "source", "n_words")
        .groupBy("split", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_words").cast("long").alias("sum_tokens"),
        )
    )


@query(
    "sample_quality_resample",
    f"""
    WITH {_NB_SCORED_CTES},
    g AS (
        SELECT doc_id, nb_logit,
               {gumbel_sql("doc_id", ":nbsel")} AS gum
        FROM nbs
    )
    SELECT doc_id, nb_logit,
           round(nb_logit + gum, 4) AS gumbel_key
    FROM g
    ORDER BY gumbel_key DESC, doc_id
    LIMIT 50
    """,
    doc="SOFT quality selection — the sampling twin of "
    "sample_classifier_topk's hard cut: Gumbel-top-k over the shared "
    "NB logits (key = logit + Gumbel(0,1)) draws an exact weighted "
    "sample without replacement with p ∝ exp(logit) — the "
    "temperature-1 softmax selection FineWeb-Edu-style pipelines use "
    "to keep quality-correlated DIVERSITY that a hard top-k "
    "collapses (borderline docs keep a proportional chance instead "
    "of a cliff).  Mechanics are exactly sample_dsir_resample's "
    "graded idiom: the Gumbel uniform is md5-derived (never rand() — "
    "must survive re-runs, engine swaps, repartitioning; u=(h+0.5)/"
    "2^32 keeps the key finite), selection is TakeOrdered on the "
    "ROUNDED key with doc_id tie-break so cross-engine ulp noise "
    "cannot reorder graded rows.  Scale: one row-local key "
    "expression over the bounded-broadcast NB scoring pass + "
    "TakeOrdered(50) — no window, no global sort.",
)
def sample_quality_resample(spark, sf_dir):
    from .pipeline_llm import gumbel_col

    scored = text_quality_classifier_nb(spark, sf_dir).select(
        "doc_id", "nb_logit"
    )
    key = F.round(F.col("nb_logit") + gumbel_col(F.col("doc_id"), ":nbsel"), 4)
    return (
        scored.select("doc_id", "nb_logit", key.alias("gumbel_key"))
        .orderBy(F.col("gumbel_key").desc(), "doc_id")
        .limit(50)
    )
