"""Text-analysis operators over ``documents``: token/char statistics,
quality scoring, language-ID heuristic, document fingerprinting.

North-star extension surface (BASELINE.json): the text half of a large-scale
training-data pipeline.  Everything here is built-in-function only — split /
transform / aggregate / regexp — i.e. whole-stage-codegen JVM expressions
with zero Python in the hot path, so the same code runs unchanged over
100 TB of documents (narrow per-row transforms, no shuffle at all except
where a query aggregates).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load, load_spread
from ..registry import register

# deliberately tiny, fixed stopword list — the heuristic is the operator,
# not the lexicon
EN_STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "on", "for", "with")


def tokens(col: F.Column) -> F.Column:
    """Whitespace tokenization of lowercased text (shared Spark/oracle def)."""
    return F.split(F.lower(col), " ")


@register(
    "text_token_stats",
    oracle="""
    SELECT doc_id,
           len(string_split(lower(text), ' '))  AS n_tokens,
           length(text)                         AS n_chars,
           round(CAST(list_sum(list_transform(string_split(lower(text), ' '),
                                              w -> length(w))) AS DOUBLE)
                 / len(string_split(lower(text), ' ')), 4) AS avg_word_len,
           len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
    FROM documents
    """,
    doc="Token counting: whitespace tokens, char count, mean word length, "
    "distinct-token cardinality per document.",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.length("text").alias("n_chars"),
        F.round(
            F.aggregate(
                F.transform(toks, lambda w: F.length(w)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / F.size(toks),
            4,
        ).alias("avg_word_len"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
    )


@register(
    "text_quality_score",
    oracle="""
    WITH s AS (
      SELECT doc_id, text,
             string_split(lower(text), ' ') AS toks,
             length(text)                   AS n_chars,
             length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct
      FROM documents
    )
    SELECT doc_id,
           round(CAST(n_punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
           round(CAST(len(list_filter(toks, w -> w IN ('a','the','of','and','to','in','is','on','for','with')))
                      AS DOUBLE) / len(toks), 6)       AS stopword_ratio,
           CAST(n_chars BETWEEN 100 AND 2000 AS INT)   AS len_ok,
           round(  0.4 * CAST(n_chars BETWEEN 100 AND 2000 AS INT)
                 + 0.3 * (1 - least(CAST(n_punct AS DOUBLE) / n_chars * 10, 1.0))
                 + 0.3 * least(CAST(len(list_filter(toks, w -> w IN ('a','the','of','and','to','in','is','on','for','with')))
                                    AS DOUBLE) / len(toks) * 5, 1.0), 6) AS quality
    FROM s
    """,
    doc="Quality scoring: punctuation ratio, stopword ratio, length band, "
    "composite quality in [0,1] — the classic pretraining-filter features.",
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_spread

    # load_spread (r16): two regex/split passes over every text byte are
    # expensive per-row map work, and the single-row-group bench layout
    # would run them on ONE task (guide §2.5) — measured min-of-9
    # interleaved A/B at sf0.1 (bench conf): 0.207 s plain vs 0.074 s
    # spread (2.8x); footer-driven no-op on any multi-row-group corpus,
    # where this stays a zero-exchange scan.
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens(F.col("text"))
    n_chars = F.length("text")
    n_punct = F.length(F.regexp_replace("text", r"[^.,;:!?]", ""))
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(*EN_STOPWORDS)))
    punct_ratio = n_punct.cast("double") / n_chars
    stop_ratio = stop_hits.cast("double") / F.size(toks)
    len_ok = n_chars.between(100, 2000).cast("int")
    quality = (
        0.4 * len_ok
        + 0.3 * (1 - F.least(punct_ratio * 10, F.lit(1.0)))
        + 0.3 * F.least(stop_ratio * 5, F.lit(1.0))
    )
    return d.select(
        "doc_id",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        len_ok.alias("len_ok"),
        F.round(quality, 6).alias("quality"),
    )


@register(
    "text_langid",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents
    )
    SELECT doc_id, lang,
           round(CAST(len(list_filter(toks, w -> w IN ('a','the','of','and','to','in','is','on','for','with')))
                      AS DOUBLE) / len(toks), 6) AS en_score,
           CASE WHEN CAST(len(list_filter(toks, w -> w IN ('a','the','of','and','to','in','is','on','for','with')))
                     AS DOUBLE) / len(toks) > 0.02
                THEN 'en' ELSE 'unknown' END     AS pred_lang
    FROM s
    """,
    doc="Language-ID heuristic: stopword-hit ratio thresholded — the n-gram "
    "heuristic pattern (fixed lexicon stands in for per-language n-gram tables).",
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    score = F.size(F.filter(toks, lambda w: w.isin(*EN_STOPWORDS))).cast("double") / F.size(toks)
    return d.select(
        "doc_id",
        "lang",
        F.round(score, 6).alias("en_score"),
        F.when(score > 0.02, "en").otherwise("unknown").alias("pred_lang"),
    )


@register(
    "text_bpe_tokens",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS n_bpe_tokens,
           len(string_split(text, ' '))                                      AS n_ws_tokens,
           round(CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS DOUBLE)
                 / len(string_split(text, ' ')), 4)                          AS fertility
    FROM documents
    """,
    doc="Token counting, BPE-ish: pre-tokenizer regex (letter runs / digit "
    "runs / single punctuation — the GPT-2-style split) vs whitespace "
    "count, plus fertility ratio. Pure JVM regexp_count, no UDF.",
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bpe = F.regexp_count("text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"))
    ws = F.size(F.split(F.col("text"), " "))
    return d.select(
        "doc_id",
        bpe.alias("n_bpe_tokens"),
        ws.alias("n_ws_tokens"),
        F.round(bpe.cast("double") / ws, 4).alias("fertility"),
    )


@register(
    "text_rolling_hash_shingles",
    oracle="""
    SELECT doc_id,
           -- NULL text => NULL count, stated explicitly: Spark's
           -- array_distinct KEEPS a null element (size 1) while DuckDB's
           -- list_distinct DROPS it (len 0) — neither accident is the
           -- contract (null-tier hostile find)
           CASE WHEN text IS NULL THEN NULL ELSE
             len(list_distinct(list_transform(range(1, greatest(length(text) - 6, 1) + 1),
                                              i -> md5(substr(text, i, 7)))))
           END AS n_distinct_shingles,
           min(length(text)) AS n_chars
    FROM documents
    GROUP BY doc_id, text
    """,
    doc="Rolling-window content fingerprinting: 7-char shingle hashes per "
    "document (the content-defined-chunking primitive); distinct-shingle "
    "cardinality is the dedup signal.",
)
def text_rolling_hash_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17: load_spread — the char-7-gram md5 projection otherwise runs on
    # the single-row-group scan's ONE task (guide §2.5)
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    shingle_hashes = F.expr(
        "array_distinct(transform(sequence(1, greatest(length(text) - 6, 1)), "
        "i -> md5(substring(text, i, 7))))"
    )
    # NULL text => NULL (see oracle note: array_distinct/list_distinct
    # disagree about null elements, so neither engine default is the contract)
    return d.select(
        "doc_id",
        F.when(F.col("text").isNotNull(), F.size(shingle_hashes)).alias(
            "n_distinct_shingles"
        ),
        F.length("text").alias("n_chars"),
    )


@register(
    "text_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           substr(md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))), 1, 8) AS fp_short
    FROM documents
    """,
    doc="Document fingerprint: whitespace-normalized lowercase md5 — the "
    "exact-dedup key (rolling/content-defined hashing reduces to this for "
    "whole-document granularity).",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    fp = F.md5(norm.cast("binary"))
    return d.select("doc_id", fp.alias("fp"), F.substring(fp, 1, 8).alias("fp_short"))


@register(
    "text_chunk_overlap",
    oracle="""
    SELECT doc_id, CAST(i // 80 AS BIGINT) AS chunk_idx,
           substr(text, CAST(i AS INT) + 1, 100) AS chunk,
           CAST(length(substr(text, CAST(i AS INT) + 1, 100)) AS BIGINT) AS chunk_len
    FROM documents, LATERAL unnest(range(0, length(text), 80)) AS t(i)
    WHERE doc_id < 200
    """,
    doc="Sliding-window chunking: 100-char windows with 20-char overlap "
    "(stride 80) — the context-window fan-out for pretraining/RAG, where "
    "overlap preserves cross-boundary context that fixed-width chunking "
    "(fn_python_udtf) loses.  Pure built-ins: explode(sequence(...)) + "
    "substring, whole-stage-codegen JVM — a narrow 1→N row transform with "
    "zero shuffle, so it streams at scan speed over 100 TB.",
)
def text_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # length > 0: empty docs would crash Spark's sequence(0, -1, 80) where
    # the oracle's range() silently yields nothing (same guard as
    # text_segment_dedup)
    d = load(spark, sf_dir, "documents").filter(
        (F.col("doc_id") < 200) & (F.length("text") > 0)
    )
    starts = F.sequence(F.lit(0), F.length("text") - 1, F.lit(80))
    return (
        d.select("doc_id", "text", F.explode(starts).alias("i"))
        .select(
            "doc_id",
            F.floor(F.col("i") / 80).alias("chunk_idx"),
            F.substring(F.col("text"), F.col("i") + 1, F.lit(100)).alias("chunk"),
        )
        .withColumn("chunk_len", F.length("chunk").cast("long"))
    )


# shared Spark/oracle regexes (RE2 and Java dialects agree on this subset:
# character classes, quantifiers, alternation — no lookaround)
_EMAIL_RE = "[a-z0-9._]+@[a-z0-9.-]+"
_PHONE_RE = "[+]?1-555-[0-9]{4}"


@register(
    "text_pii_redaction",
    oracle="""
    SELECT doc_id,
           substr(
             regexp_replace(
               regexp_replace(full_text, '[a-z0-9._]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
               '[+]?1-555-[0-9]{4}', '<PHONE>', 'g'),
             1, 80) AS snippet,
           CAST(len(regexp_extract_all(full_text, '[a-z0-9._]+@[a-z0-9.-]+')) AS BIGINT)
             AS email_count,
           CAST(len(regexp_extract_all(full_text, '[+]?1-555-[0-9]{4}')) AS BIGINT)
             AS phone_count
    FROM (
      SELECT doc_id,
             'contact user' || CAST(doc_id AS VARCHAR) || '@example.com or +1-555-'
               || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ' || text
               AS full_text
      FROM documents
    )
    """,
    doc="PII redaction: regexp scrub of emails/phones with per-doc match "
    "counts — the compliance pass every training corpus needs.  The fixture "
    "text contains no PII, so a deterministic synthetic email+phone is "
    "prefixed per doc (identically on both engines) before redaction.  "
    "Patterns stay in the RE2∩Java regex subset (no lookaround); DuckDB "
    "regexp_replace needs the 'g' flag where Spark replaces all by default.  "
    "Narrow per-row transform, zero shuffle, codegen JVM regex at scale.",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    full = F.concat(
        F.lit("contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" "),
        F.col("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(full, _EMAIL_RE, "<EMAIL>"), _PHONE_RE, "<PHONE>"
    )
    return d.select(
        "doc_id",
        F.substring(redacted, 1, 80).alias("snippet"),
        F.size(F.regexp_extract_all(full, F.lit(_EMAIL_RE), 0)).cast("long").alias("email_count"),
        F.size(F.regexp_extract_all(full, F.lit(_PHONE_RE), 0)).cast("long").alias("phone_count"),
    )


@register(
    "text_tfidf_top_terms",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term
      FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term),
    dlen AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
    dfreq AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents)
    SELECT doc_id, term, round(score, 6) AS tfidf
    FROM (
      SELECT t.doc_id, t.term,
             (CAST(t.cnt AS DOUBLE) / d.n_tok)
               * ln(CAST(n.n_docs AS DOUBLE) / f.df) AS score,
             row_number() OVER (
               PARTITION BY t.doc_id
               ORDER BY (CAST(t.cnt AS DOUBLE) / d.n_tok)
                          * ln(CAST(n.n_docs AS DOUBLE) / f.df) DESC, t.term
             ) AS rk
      FROM tf t
      JOIN dlen d USING (doc_id)
      JOIN dfreq f USING (term)
      CROSS JOIN n
    )
    WHERE rk <= 3 AND doc_id < 100
    """,
    doc="TF-IDF top-3 terms per document — the classic salient-term scoring "
    "pass of a text pipeline.  One tokenize fan-out feeds three aggregates "
    "(term freq per doc, doc length, doc freq per term); doc-freq and the "
    "corpus count are vocabulary-sized => broadcast back onto the per-doc "
    "term list, so the only fact-sized shuffles are the two doc-keyed "
    "aggregates.  Scores are exact ratios of integers (cnt/len, ln(N/df)) — "
    "bit-identical in both engines, so ranking and 6dp rounding cannot "
    "diverge; ties broken by term for determinism.",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("cnt"))
    dlen = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    dfreq = tok.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    n_docs = d.agg(F.count(F.lit(1)).alias("n_docs"))
    score = (F.col("cnt").cast("double") / F.col("n_tok")) * F.log(
        F.col("n_docs").cast("double") / F.col("df")
    )
    ranked = (
        tf.join(dlen, "doc_id")
        .join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(n_docs))
        .withColumn("score", score)
        .withColumn(
            "rk",
            F.row_number().over(
                W.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("term"))
            ),
        )
    )
    return ranked.filter((F.col("rk") <= 3) & (F.col("doc_id") < 100)).select(
        "doc_id", "term", F.round("score", 6).alias("tfidf")
    )


@register(
    "text_contamination_ngram",
    oracle="""
    WITH s AS (
      SELECT doc_id,
             list_distinct(list_transform(
               range(1, len(string_split(lower(text), ' ')) - 3),
               i -> list_aggregate(string_split(lower(text), ' ')[i:i+4],
                                   'string_agg', ' '))) AS sh
      FROM documents
    )
    SELECT b.doc_id AS train_doc, a.doc_id AS eval_doc,
           len(list_intersect(a.sh, b.sh)) AS n_shared
    FROM s a JOIN s b ON a.doc_id < 50 AND b.doc_id >= 50
    WHERE len(list_intersect(a.sh, b.sh)) >= 5
    """,
    doc="Benchmark-contamination scan: flag training documents (doc_id>=50) "
    "sharing >=5 distinct word-5-grams with any eval document (doc_id<50) — "
    "the train/test leakage audit every pretraining pipeline needs.  "
    "Inverted-index shape: explode distinct 5-grams, equi-join eval x train "
    "on the n-gram key (shuffles (ngram, id) pairs, never documents), count "
    "per pair.  The 5-gram key is high-cardinality, so the join distributes; "
    "at 100 TB the eval side is small => broadcast it and the scan is one "
    "narrow pass over training shingles.",
)
def text_contamination_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    EVAL_MAX = 50
    THRESHOLD = 5
    # r17: load_spread — the 5-gram build otherwise runs on the single-
    # row-group scan's ONE task (guide §2.5); explode_OUTER below keeps
    # the Catalyst-inferred size>0 filter from re-running the gram build
    # under the spread exchange (guide §4.4).  Output-equivalent: a NULL
    # g row (null text or < 5 tokens) is dropped by the equi-join on g,
    # exactly as plain explode dropped the empty/null gram arrays.
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens(F.col("text"))
    # Docs with < 5 tokens have NO 5-grams.  sequence(0, n-5) flips to a
    # DESCENDING [0, -1, ...] when n < 5 (slice(start=0) then crashes) while
    # the oracle's range() is simply empty — build an always-ascending index
    # list and drop the out-of-range indices (empty when n < 5).
    n = F.size(toks)
    idx = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 5, F.lit(0))), lambda i: i <= n - 5
    )
    grams = F.array_distinct(
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, 5), " "))
    )
    exploded = d.select("doc_id", F.explode_outer(grams).alias("g"))
    ev = exploded.filter(F.col("doc_id") < EVAL_MAX).select(
        F.col("doc_id").alias("eval_doc"), "g"
    )
    tr = exploded.filter(F.col("doc_id") >= EVAL_MAX).select(
        F.col("doc_id").alias("train_doc"), "g"
    )
    # eval set is small by construction -> broadcast the eval n-gram index
    return (
        tr.join(F.broadcast(ev), "g")
        .groupBy("train_doc", "eval_doc")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= THRESHOLD)
    )


@register(
    "text_repetition_filter",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             list_transform(range(1, len(string_split(lower(text), ' ')) - 1),
                            i -> list_aggregate(string_split(lower(text), ' ')[i:i+2],
                                                'string_agg', ' ')) AS grams
      FROM documents
    )
    SELECT doc_id,
           len(grams) AS n_grams,
           round(1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams), 6)
             AS dup_fraction,
           (1.0 - CAST(len(list_distinct(grams)) AS DOUBLE) / len(grams)) > 0.2
             AS flagged
    FROM g
    """,
    doc="Within-document repetition filter (the Gopher-style repetition "
    "rule adapted to unstructured text): fraction of duplicate word "
    "3-grams per document; docs above 20% duplication get flagged.  Pure "
    "narrow codegen expressions — per-row arrays, no shuffle.",
)
def text_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17: load_spread — the per-doc 3-gram build + distinct (a pure
    # projection, no shuffle at all) otherwise runs on the single-row-group
    # scan's ONE task (guide §2.5): measured 5.6 s -> 0.5 s warm at sf0.1
    d = load_spread(spark, sf_dir, "documents", "doc_id")
    toks = tokens(F.col("text"))
    # < 3 tokens => zero 3-grams (ascending-index guard: sequence(0, n-3)
    # would flip descending and crash slice; the oracle's range() is empty).
    # n_grams = 0 then makes dup_fraction 0/0 -> NULL and flagged NULL on
    # BOTH engines (Spark non-ANSI and DuckDB double division by zero).
    n = F.size(toks)
    idx = F.filter(
        F.sequence(F.lit(0), F.greatest(n - 3, F.lit(0))), lambda i: i <= n - 3
    )
    # NULL text => NULL grams (not the empty array the filter() fallback
    # yields): n_grams/dup_fraction/flagged must be NULL, matching the
    # oracle's NULL propagation through string_split
    grams = F.when(
        n.isNotNull(),
        F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, 3), " ")),
    )
    dup = 1.0 - F.size(F.array_distinct(grams)).cast("double") / F.size(grams)
    return d.select(
        "doc_id",
        F.size(grams).alias("n_grams"),
        F.round(dup, 6).alias("dup_fraction"),
        (dup > 0.2).alias("flagged"),
    )


@register(
    "text_unigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w FROM documents
    ),
    freq AS (
      SELECT w, count(*) AS c FROM tok GROUP BY w
    ),
    total AS (SELECT sum(c) AS n FROM freq)
    SELECT doc_id,
           round(list_sum(list_sort(list(ln(CAST(c AS DOUBLE) / n))))
                 / count(*), 4) AS mean_logprob
    FROM tok, freq, total
    WHERE tok.w = freq.w
    GROUP BY doc_id
    """,
    doc="Unigram language-model scoring: corpus unigram frequencies "
    "(vocabulary-sized -> broadcast), each document scored by its mean "
    "token log-probability — the cheap perplexity proxy used for quality "
    "filtering at corpus scale.  Per-token logprobs are SORTED before "
    "summing on BOTH sides so the float accumulation order is identical "
    "across engines (see oracle-parity notes on fold order).",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("w"))
    freq = tok.groupBy("w").agg(F.count(F.lit(1)).alias("c"))
    total = freq.agg(F.sum("c").alias("n"))
    scored = (
        tok.join(F.broadcast(freq), "w")
        .crossJoin(F.broadcast(total))
        .select("doc_id", F.log(F.col("c").cast("double") / F.col("n")).alias("lp"))
    )
    return (
        scored.groupBy("doc_id")
        .agg(
            F.round(
                F.aggregate(
                    F.array_sort(F.collect_list("lp")), F.lit(0.0), lambda a, x: a + x
                )
                / F.count(F.lit(1)),
                4,
            ).alias("mean_logprob")
        )
    )


@register(
    "text_segment_dedup",
    oracle="""
    WITH segs AS (
      SELECT doc_id, CAST(i // 80 AS BIGINT) AS seg_idx,
             substr(text, CAST(i AS INT) + 1, 80) AS seg
      FROM documents, LATERAL unnest(range(0, length(text), 80)) AS t(i)
    ),
    ranked AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id,
           CAST(count(*) AS BIGINT)                    AS n_segments,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
           CAST(sum(CASE WHEN rn = 1 THEN length(seg) ELSE 0 END) AS BIGINT) AS kept_chars
    FROM ranked GROUP BY doc_id
    """,
    doc="Cross-document SEGMENT-level dedup (the C4/RefinedWeb recipe: "
    "near-identical boilerplate repeats across pages even when whole "
    "documents differ): chunk every document into 80-char segments, keep "
    "only each segment's FIRST occurrence corpus-wide (ordered by "
    "doc_id, position — deterministic), and report per-document kept/"
    "dropped stats.  One shuffle keyed by segment content for the "
    "first-occurrence window — segment dedup state never touches the "
    "full documents again.  Finer-grained than dedup_exact (whole-doc) "
    "and cheaper than MinHash (no signatures): the right tool when "
    "duplication is structural boilerplate, not fuzzy similarity.",
)
def text_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # empty documents: sequence(0, -1, 80) is a runtime error in Spark while
    # DuckDB's range(0, 0, 80) yields no rows — filter them out to match
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    starts = F.sequence(F.lit(0), F.length("text") - 1, F.lit(80))
    segs = d.select("doc_id", "text", F.explode(starts).alias("i")).select(
        "doc_id",
        F.floor(F.col("i") / 80).alias("seg_idx"),
        F.substring(F.col("text"), F.col("i") + 1, F.lit(80)).alias("seg"),
    )
    w = W.partitionBy("seg").orderBy("doc_id", "seg_idx")
    ranked = segs.withColumn("rn", F.row_number().over(w))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_segments"),
        F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dropped"),
        F.sum(F.when(F.col("rn") == 1, F.length("seg")).otherwise(0)).alias("kept_chars"),
    )


_CLS_BUCKETS = 1024  # hashed feature space (fastText-style hashing trick)


@register(
    "text_hashed_classifier_score",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len(string_split(lower(text), ' ')) AS n_tokens,
             CAST(list_sum(list_transform(
                 string_split(lower(text), ' '),
                 t -> (CAST('0x' || substr(md5(t), 1, 4) AS INTEGER)
                       % {_CLS_BUCKETS}) % 13 - 6)) AS BIGINT) AS score
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id, n_tokens, score,
           score > 0 AS accept,
           CAST((score * 10000) // n_tokens AS BIGINT) AS mean_weight_x1e4
    FROM scored
    """,
    doc="Hashed-feature linear classifier scoring (the fastText/Vowpal-"
    "Wabbit hashing trick, as used for corpus quality classifiers a la "
    "CCNet/GPT-3 filtering): each token hashes into a fixed "
    f"{_CLS_BUCKETS}-bucket feature space (md5-derived — never the "
    "salted builtin hash), the model is a deterministic weight per "
    "bucket ((bucket %% 13) - 6 stands in for trained weights, which "
    "would broadcast identically), and the document score is the sum of "
    "its token weights.  The ENTIRE scorer is a per-row higher-order "
    "expression — transform + aggregate inside whole-stage codegen, "
    "ZERO shuffles, zero Python, no explode: the shape that scores "
    "100 TB of documents at scan speed.  Mean weight is reported as an "
    "exact truncated-toward-zero fixed-point ratio (both engines "
    "truncate integer division identically, negative scores included).",
)
def text_hashed_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    score = F.expr(
        "aggregate(transform(split(lower(text), ' '), "
        f"t -> (CAST(conv(substr(md5(t), 1, 4), 16, 10) AS INT) % {_CLS_BUCKETS}) % 13 - 6), "
        "0L, (acc, x) -> acc + x)"
    )
    return d.select(
        "doc_id",
        F.size(tokens(F.col("text"))).alias("n_tokens"),
        score.alias("score"),
        (score > 0).alias("accept"),
        F.expr("(score * 10000) div n_tokens").alias("mean_weight_x1e4"),
    ).withColumn("mean_weight_x1e4", F.col("mean_weight_x1e4").cast("bigint"))


_SPAN_N = 8  # words per duplicated-span shingle


@register(
    "text_duplicate_span_fraction",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t
      FROM documents WHERE length(text) > 0
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - {_SPAN_N - 1}, 1) + 1),
               i -> md5(array_to_string(list_slice(t, i, i + {_SPAN_N - 1}), ' '))
             ))) AS s
      FROM toks
    ),
    freq AS (SELECT s, count(*) AS n_docs FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_shingles,
           CAST((2 * 1000000 * sum(CASE WHEN freq.n_docs >= 2 THEN 1 ELSE 0 END)
                 + count(*)) // (2 * count(*)) AS BIGINT) AS dup_frac_x1e6
    FROM sh JOIN freq ON freq.s = sh.s
    GROUP BY sh.doc_id
    """,
    doc=f"Corpus-duplicated span fraction (the practical form of exact-"
    f"substring training-data dedup, Lee et al. 2022 'Deduplicating "
    f"Training Data Makes Language Models Better'): every {_SPAN_N}-word "
    f"shingle is fingerprinted (md5 of the joined window), shingles "
    f"occurring in >=2 documents are duplicated SPANS, and each document "
    f"reports what fraction of its distinct spans the corpus duplicates — "
    f"the removal signal for span-level dedup.  Pipeline: narrow per-row "
    f"shingling (no shuffle) -> explode -> ONE fingerprint-keyed "
    f"aggregate for corpus frequencies -> ONE join back on the "
    f"fingerprint.  Both shuffles key on the shingle hash — uniformly "
    f"distributed by construction, so no skew at 100 TB; suffix-array "
    f"construction (the paper's in-memory approach) is replaced by "
    f"shingle fingerprinting precisely because it has this shuffle "
    f"shape.  Short documents (<{_SPAN_N} words) contribute their full "
    f"text as one shingle.  Exact integer micro-fraction output.",
)
def text_duplicate_span_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17: load_spread + explode_OUTER — same rationale as
    # dedup_containment: spread the single-task gram build, and keep the
    # inferred size>0 filter from re-running it under the exchange.
    # outer == inner: length(text) > 0 makes shingles >= 1 element.
    d = load_spread(spark, sf_dir, "documents", "doc_id").filter(
        F.length("text") > 0
    )
    shingles = F.expr(
        "array_distinct(transform("
        f"sequence(1, greatest(size(split(lower(text), ' ')) - {_SPAN_N - 1}, 1)), "
        f"i -> md5(concat_ws(' ', slice(split(lower(text), ' '), i, {_SPAN_N})))))"
    )
    sh = d.select("doc_id", F.explode_outer(shingles).alias("s"))
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("n_docs"))
    dup = F.sum(F.when(F.col("n_docs") >= 2, 1).otherwise(0))
    return (
        sh.join(freq, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            dup.cast("bigint").alias("n_dup_shingles"),
            F.expr(
                "CAST((2 * 1000000 * sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END)"
                " + count(*)) div (2 * count(*)) AS BIGINT)"
            ).alias("dup_frac_x1e6"),
        )
    )


@register(
    "text_unicode_normalize",
    oracle="""
    WITH deco AS (
      SELECT doc_id,
             replace(substr(text, 1, 120), 'e', 'e' || chr(769)) AS d
      FROM documents WHERE length(text) > 0
    )
    SELECT doc_id,
           CAST(length(d) AS BIGINT)                AS n_deco,
           CAST(length(nfc_normalize(d)) AS BIGINT) AS n_nfc,
           substr(md5(nfc_normalize(d)), 1, 8)      AS fp8
    FROM deco
    """,
    doc="Unicode NFC canonicalization — the normalization pass that must "
    "precede any fingerprint-based dedup, because visually identical text "
    "arrives in mixed composed/decomposed forms ('e'+U+0301 vs U+00E9) and "
    "hashes differently raw.  The fixture decomposes deterministically on "
    "BOTH sides (every 'e' gains a combining acute), Spark recomposes via "
    "a vectorized Arrow pandas_udf over stdlib unicodedata (Spark has no "
    "NFC builtin; row-at-a-time Python is never used), DuckDB via its "
    "native nfc_normalize — convergence is proven by character counts AND "
    "an md5 fingerprint of the normalized UTF-8 bytes.  Scale: pure "
    "narrow per-row transform, zero shuffle; the UDF streams Arrow "
    "batches and holds only one batch in memory.",
)
def text_unicode_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    import unicodedata

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        return s.map(lambda x: None if x is None else unicodedata.normalize("NFC", x))

    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    # decomposed form: every 'e' followed by U+0301 COMBINING ACUTE ACCENT
    deco = F.replace(F.substring("text", 1, 120), F.lit("e"), F.lit("é"))
    normalized = nfc(deco)
    return d.select(
        "doc_id",
        F.length(deco).cast("bigint").alias("n_deco"),
        F.length(normalized).cast("bigint").alias("n_nfc"),
        F.substring(F.md5(normalized.cast("binary")), 1, 8).alias("fp8"),
    )


@register(
    "text_bigram_logprob",
    oracle="""
    WITH tok AS (
      SELECT doc_id, i.i AS pos, string_split(lower(text), ' ')[i.i] AS w,
             string_split(lower(text), ' ')[i.i + 1] AS nxt
      FROM documents,
           LATERAL (SELECT unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS i) i
      WHERE string_split(lower(text), ' ')[i.i] <> ''
    ),
    uni AS (SELECT w, count(*) AS cu FROM tok GROUP BY w),
    bi AS (SELECT w, nxt, count(*) AS cb FROM tok WHERE nxt IS NOT NULL AND nxt <> ''
           GROUP BY w, nxt),
    vocab AS (SELECT CAST(count(*) AS BIGINT) AS v FROM uni),
    blp AS (
      SELECT b.w, b.nxt,
             CAST(floor(ln(CAST(b.cb + 1 AS DOUBLE) / (u.cu + v)) * 1e6 + 0.5)
                  AS BIGINT) AS lp_fp
      FROM bi b JOIN uni u ON u.w = b.w CROSS JOIN vocab
    )
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(blp.lp_fp) AS BIGINT) AS sum_lp_fp,
           CAST(floor(CAST(sum(blp.lp_fp) AS DOUBLE) / count(*) + 0.5) AS BIGINT)
             AS mean_lp_fp
    FROM tok t JOIN blp ON blp.w = t.w AND blp.nxt = t.nxt
    WHERE t.nxt IS NOT NULL AND t.nxt <> ''
    GROUP BY t.doc_id
    """,
    doc="Bigram language-model scoring with add-one (Laplace) smoothing — "
    "the next step up from text_unigram_logprob and the cheap fluency/"
    "perplexity proxy used in corpus quality filtering (KenLM-style "
    "pipelines): P(next|w) = (c(w,next)+1) / (c(w)+V), each document "
    "scored by the mean log-probability of its observed bigrams.  Float "
    "discipline as in DSIR: each bigram's logprob is quantized ONCE to "
    "1e-6 fixed point, so per-document sums are exact integer additions "
    "in any order — no sorted-fold needed.  Scale: the bigram table is "
    "vocabulary-bounded (broadcast in the doc-score join); fact-scale "
    "work is two partial-agged token groupBys + one broadcast join — the "
    "same shuffle profile as TF-IDF.",
)
def text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17: load_spread — the tokenize + posexplode map work otherwise runs
    # on the single-row-group scan's ONE task (guide §2.5).  The explicit
    # isNotNull filter reproduces what plain posexplode did implicitly
    # (null text -> null toks -> row dropped) as a cheap PUSHED scan
    # filter, so posexplode_OUTER (outer == inner on the now always
    # non-empty split arrays) cannot leak a null row AND the inferred
    # size>0 filter cannot re-run the tokenize under the exchange (§4.4).
    d = load_spread(spark, sf_dir, "documents", "doc_id").filter(
        F.col("text").isNotNull()
    )
    toks = tokens(F.col("text"))
    tok = (
        d.select(
            "doc_id", F.posexplode_outer(toks).alias("pos0", "w"), toks.alias("all")
        )
        .filter(F.col("w") != "")
        .select(
            "doc_id",
            "w",
            F.element_at("all", F.col("pos0") + 2).alias("nxt"),
        )
    )
    # ONE token pass: group by (w, nxt) keeping null/empty next markers,
    # then derive the unigram counts by re-aggregating the (vocab^2-bounded)
    # bigram table instead of scanning tokens again
    # the vocab^2-bounded bigram table feeds uni, bi and (via uni) the
    # vocabulary count.  The pushed-down nxt filter and the count's column
    # pruning give the three copies different shapes, so each re-runs the
    # token explode over the one spread exchange (~0.1 s at sf0.01).  A
    # fence would save that but run jobs at plan build, and a persist()
    # measured slower still
    bi_all = tok.groupBy("w", "nxt").agg(F.count(F.lit(1)).alias("cb"))
    uni = bi_all.groupBy("w").agg(F.sum("cb").alias("cu"))
    bi = bi_all.filter(F.col("nxt").isNotNull() & (F.col("nxt") != ""))
    vocab = uni.agg(F.count(F.lit(1)).alias("v"))
    blp = (
        bi.join(uni, "w")
        .crossJoin(F.broadcast(vocab))
        .select(
            "w",
            "nxt",
            F.floor(
                F.log((F.col("cb") + 1).cast("double") / (F.col("cu") + F.col("v")))
                * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("lp_fp"),
        )
    )
    scored = tok.filter(F.col("nxt").isNotNull() & (F.col("nxt") != "")).join(
        F.broadcast(blp), ["w", "nxt"]
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.sum("lp_fp").alias("sum_lp_fp"),
        F.floor(F.sum("lp_fp").cast("double") / F.count(F.lit(1)) + 0.5)
        .cast("bigint")
        .alias("mean_lp_fp"),
    )


@register(
    "text_lang_confusion",
    oracle="""
    WITH s AS (
      SELECT doc_id, lang, string_split(lower(text), ' ') AS toks FROM documents
    ),
    pred AS (
      SELECT lang,
             CASE WHEN CAST(len(list_filter(toks, w -> w IN
                    ('a','the','of','and','to','in','is','on','for','with')))
                  AS DOUBLE) / len(toks) > 0.02
                  THEN 'en' ELSE 'unknown' END AS pred_lang
      FROM s
    ),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pred),
    cm AS (
      SELECT lang AS actual, pred_lang, CAST(count(*) AS BIGINT) AS n
      FROM pred GROUP BY lang, pred_lang
    )
    SELECT actual, pred_lang, n,
           (actual = 'en') = (pred_lang = 'en') AS correct,
           CAST((2 * 1000000 * n + n_total) // (2 * n_total) AS BIGINT)
             AS share_ppm
    FROM cm CROSS JOIN tot
    """,
    doc="Classifier evaluation as a query — the confusion matrix of the "
    "language-ID heuristic (text_langid) against the labeled lang "
    "column: per (actual, predicted) cell, count, correctness under the "
    "binary en-vs-not task, and the cell's corpus share in exact ppm.  "
    "The eval-loop pattern every filtering model in a data pipeline "
    "needs (measure the filter before trusting it at 100 TB); composed "
    "from the SAME predictor expression the production query uses, so "
    "the eval can never drift from the deployed heuristic.  One "
    "partial-agged groupBy + a broadcast scalar total.",
)
def text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = text_langid(spark, sf_dir).select("lang", "pred_lang")
    tot = pred.agg(F.count(F.lit(1)).alias("n_total"))
    cm = pred.groupBy(F.col("lang").alias("actual"), "pred_lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    return cm.crossJoin(F.broadcast(tot)).select(
        "actual",
        "pred_lang",
        "n",
        ((F.col("actual") == "en") == (F.col("pred_lang") == "en")).alias("correct"),
        F.expr("(2 * 1000000 * n + n_total) div (2 * n_total)")
        .cast("bigint")
        .alias("share_ppm"),
    )


@register(
    "text_chunk_sentences",
    oracle="""
    WITH sent AS (
      SELECT doc_id, s.i AS sent_idx,
             string_split(text, '. ')[s.i] AS sentence,
             len(string_split(string_split(text, '. ')[s.i], ' ')) AS n_words
      FROM documents,
           LATERAL (SELECT unnest(range(1, len(string_split(text, '. ')) + 1)) AS i) s
      WHERE string_split(text, '. ')[s.i] <> ''
    ),
    placed AS (
      SELECT doc_id, sent_idx, n_words,
             CAST(coalesce(sum(n_words) OVER (
               PARTITION BY doc_id ORDER BY sent_idx
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // 50 AS BIGINT) AS chunk_id
      FROM sent
    )
    SELECT doc_id, chunk_id,
           CAST(count(*) AS BIGINT) AS n_sentences,
           CAST(sum(n_words) AS BIGINT) AS n_words,
           CAST(min(sent_idx) AS BIGINT) AS first_sentence
    FROM placed GROUP BY doc_id, chunk_id
    """,
    doc="Sentence-preserving chunking for RAG/embedding pipelines: "
    "documents split at sentence boundaries ('. '), each sentence "
    "assigned to chunk floor(words_before / 50) — sentences are never "
    "split mid-way (unlike the fixed-width text_chunk_overlap), chunks "
    "target ~50 words and overshoot by at most one sentence, and the "
    "assignment is a pure prefix-sum over one (doc, sentence-order) "
    "window — NO greedy reset recurrence, so it stays declarative and "
    "distributes (the same two-level-prefix-sum insight as "
    "curation_pack_sequences).  Per-chunk stats out; integers only.  "
    "One window shuffle on doc_id.",
)
def text_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    sent = (
        d.select(
            "doc_id", F.posexplode(F.split("text", r"\. ")).alias("idx0", "sentence")
        )
        .filter(F.col("sentence") != "")
        .select(
            "doc_id",
            (F.col("idx0") + 1).alias("sent_idx"),
            F.size(F.split("sentence", " ")).alias("n_words"),
        )
    )
    placed = sent.withColumn(
        "chunk_id",
        F.expr("coalesce(sum(n_words) OVER (PARTITION BY doc_id ORDER BY sent_idx "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) div 50")
        .cast("bigint"),
    )
    return placed.groupBy("doc_id", "chunk_id").agg(
        F.count(F.lit(1)).alias("n_sentences"),
        F.sum("n_words").alias("n_words"),
        F.min("sent_idx").cast("bigint").alias("first_sentence"),
    )


@register(
    "text_novelty_rate",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t
      FROM documents WHERE length(text) > 0
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 4, 1) + 1),
               i -> md5(array_to_string(list_slice(t, i, i + 4), ' '))
             ))) AS s
      FROM toks
    ),
    firstseen AS (SELECT s, min(doc_id) AS first_doc FROM sh GROUP BY s)
    SELECT sh.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_novel,
           CAST((2 * 1000000 * sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END)
                 + count(*)) // (2 * count(*)) AS BIGINT) AS novelty_ppm
    FROM sh JOIN firstseen f ON f.s = sh.s
    GROUP BY sh.doc_id
    """,
    doc="Corpus novelty rate — the redundancy-growth curve behind "
    "dedup ROI decisions: every word-5-gram shingle is attributed to "
    "the FIRST document (by doc_id ingestion order) that contains it, "
    "and each document reports what fraction of its shingles it "
    "introduced to the corpus.  A falling novelty curve over crawl "
    "order is the signal that additional data is re-crawl (diminishing "
    "returns — the scaling-laws data-curation question), and per-doc "
    "novelty is a rank signal for dedup keeper selection "
    "(dedup_cluster_representatives keeps longest; novelty-keeper is "
    "the alternative).  Same two fingerprint-keyed shuffles as "
    "text_duplicate_span_fraction: one min-aggregate for first-seen, "
    "one join back — uniform md5 keys, skew-free.  Exact ppm integers.",
)
def text_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17: load_spread + explode_OUTER — same rationale as
    # dedup_containment (spread the single-task 5-gram md5 build; outer ==
    # inner because length(text) > 0 guarantees >= 1 gram).
    d = load_spread(spark, sf_dir, "documents", "doc_id").filter(
        F.length("text") > 0
    )
    toks = F.split(F.lower("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 4, F.lit(1))),
            lambda i: F.md5(F.array_join(F.slice(toks, i, 5), " ").cast("binary")),
        )
    )
    sh = d.select("doc_id", F.explode_outer(grams).alias("s"))
    firstseen = sh.groupBy("s").agg(F.min("doc_id").alias("first_doc"))
    joined = sh.join(firstseen, "s")
    novel = F.sum(F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0))
    return joined.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        novel.alias("n_novel"),
        F.expr(
            "(2 * 1000000 * sum(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END)"
            " + count(*)) div (2 * count(*))"
        )
        .cast("bigint")
        .alias("novelty_ppm"),
    )


@register(
    "text_skipgram_pairs",
    oracle="""
    WITH tok AS (
      SELECT doc_id, i.i AS pos, string_split(lower(text), ' ')[i.i] AS w
      FROM documents,
           LATERAL (SELECT unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS i) i
      WHERE doc_id % 25 = 0 AND string_split(lower(text), ' ')[i.i] <> ''
    ),
    pairs AS (
      SELECT c.doc_id, c.w AS center, x.w AS context,
             x.pos - c.pos AS offset
      FROM tok c JOIN tok x
        ON x.doc_id = c.doc_id AND x.pos <> c.pos
       AND x.pos BETWEEN c.pos - 2 AND c.pos + 2
    )
    SELECT center, context,
           CAST(count(*) AS BIGINT) AS n_cooc,
           CAST('0x' || substr(md5('neg:' || center || '|' || context), 1, 4)
                AS BIGINT) % 5 = 0 AS in_negative_shard
    FROM pairs GROUP BY center, context
    """,
    doc="Skip-gram training-pair generation — word2vec/fastText data "
    "prep, and with graph_random_walk's node sequences, DeepWalk's "
    "too: every (center, context) token pair within a +-2 window, "
    "aggregated to co-occurrence counts (the input to SGNS or to a "
    "PMI/GloVe factorization), plus a DETERMINISTIC 20% negative-"
    "sampling shard assignment via pair digest (reproducible across "
    "epochs/engines — rand() is neither).  Scale shape: the window "
    "pairing is a positional SELF-JOIN bounded to 4 partners per "
    "token (never all-pairs), the count reduce is partial-agged on "
    "the pair key, and the (vocab x window)-bounded pair table is "
    "what ships to training.  A doc_id%25 slice keeps the gate cheap; "
    "the plan is slice-invariant.",
)
def text_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 25 == 0)
    tok = (
        d.select("doc_id", F.posexplode(tokens(F.col("text"))).alias("pos0", "w"))
        .filter(F.col("w") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    )
    c, x = tok.alias("c"), tok.alias("x")
    pairs = c.join(
        x,
        (F.col("x.doc_id") == F.col("c.doc_id"))
        & (F.col("x.pos") != F.col("c.pos"))
        & (F.col("x.pos") >= F.col("c.pos") - 2)
        & (F.col("x.pos") <= F.col("c.pos") + 2),
    ).select(F.col("c.w").alias("center"), F.col("x.w").alias("context"))
    neg = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("neg:"), F.col("center"), F.lit("|"), F.col("context")
                    ).cast("binary")
                ),
                1,
                4,
            ),
            16,
            10,
        ).cast("bigint")
        % 5
        == 0
    )
    return pairs.groupBy("center", "context").agg(
        F.count(F.lit(1)).alias("n_cooc")
    ).withColumn("in_negative_shard", neg)


_FH_D = 32  # hashed feature dimension


@register(
    "text_feature_hashing",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
      FROM documents
    ),
    hashed AS (
      SELECT doc_id,
             CAST(CAST('0x' || substr(md5('fh:' || t), 1, 8) AS UBIGINT)
                  AS BIGINT) % {_FH_D} AS feature_idx,
             CASE WHEN substr(md5('fs:' || t), 1, 1) <= '7' THEN 1 ELSE -1 END AS sgn
      FROM tok
    )
    SELECT doc_id, feature_idx, CAST(sum(sgn) AS BIGINT) AS val
    FROM hashed
    GROUP BY doc_id, feature_idx
    HAVING sum(sgn) <> 0
    """,
    doc="FEATURE HASHING (the 'hashing trick', Weinberger et al.) — "
    f"bag-of-words folded into a fixed {_FH_D}-dim space with NO "
    "vocabulary pass: every token hashes to a bucket (md5) and a "
    "Rademacher sign (second hash), signed counts sum per bucket, and "
    "collisions cancel in expectation — the one-pass featurizer for "
    "hash-kernel classifiers (Vowpal Wabbit) and the fast path "
    "text_hashed_classifier_score's weights are built for.  Contrast "
    "with text_tfidf_top_terms, which pays a vocabulary/df broadcast: "
    "hashing needs NO global state at all, which is the whole point at "
    "100 TB — featurization becomes embarrassingly parallel "
    "explode+groupBy with a bounded output domain (docs x 32).  Sparse "
    "long-form (doc, idx, val) output, zero rows dropped at val=0 on "
    "both sides.  Scale: one shuffle on (doc_id, feature_idx) with "
    "map-side partial sums; signs and buckets are codegen md5 "
    "expressions, no UDF, no dictionary.",
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("t")
    )
    hashed = tok.select(
        "doc_id",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("fh:"), F.col("t")).cast("binary")), 1, 8), 16, 10)
            .cast("bigint")
            % _FH_D
        ).alias("feature_idx"),
        F.when(
            F.substring(F.md5(F.concat(F.lit("fs:"), F.col("t")).cast("binary")), 1, 1) <= "7",
            1,
        )
        .otherwise(-1)
        .alias("sgn"),
    )
    return (
        hashed.groupBy("doc_id", "feature_idx")
        .agg(F.sum("sgn").alias("val"))
        .filter(F.col("val") != 0)
    )


_CDC_MOD = 8  # expected chunk length ≈ 8 tokens


@register(
    "text_cdc_chunk_dedup",
    oracle=f"""
    WITH tok AS (
      -- chunk identity and rep_doc election are keyed BY doc: a doc
      -- without id cannot own or represent chunks (null-KEYS contract)
      SELECT doc_id, t.t AS tok, t.i AS pos
      FROM documents,
           LATERAL (SELECT unnest(string_split(lower(text), ' ')) AS t,
                           generate_subscripts(string_split(lower(text), ' '), 1) AS i) t
      WHERE doc_id IS NOT NULL
    ),
    flagged AS (
      SELECT doc_id, tok, pos,
             CASE WHEN pos >= 3 AND CAST(CAST('0x' || substr(md5(
                    lag(tok, 2) OVER w || ' ' || lag(tok, 1) OVER w || ' ' || tok
                  ), 1, 8) AS UBIGINT) AS BIGINT) % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS brk
      FROM tok
      WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ),
    chunks AS (
      SELECT doc_id,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS UNBOUNDED PRECEDING) AS chunk_idx,
             tok, pos
      FROM flagged
    ),
    fp AS (
      SELECT doc_id, chunk_idx,
             md5(string_agg(tok, ' ' ORDER BY pos)) AS chunk_fp,
             CAST(count(*) AS BIGINT) AS n_toks
      FROM chunks GROUP BY doc_id, chunk_idx
    ),
    freq AS (
      SELECT chunk_fp, count(*) AS n_copies, min(doc_id) AS rep_doc
      FROM fp GROUP BY chunk_fp
    )
    SELECT f.doc_id, CAST(f.chunk_idx AS BIGINT) AS chunk_idx, f.chunk_fp,
           f.n_toks, CAST(q.n_copies AS BIGINT) AS n_copies,
           (q.n_copies > 1 AND f.doc_id <> q.rep_doc) AS is_dup
    FROM fp f JOIN freq q ON q.chunk_fp = f.chunk_fp
    """,
    doc="CONTENT-DEFINED CHUNK DEDUP — the shift-robust segmentation "
    "fixed-width slicing (text_segment_dedup) cannot give: a chunk "
    "boundary falls after any token whose trailing 3-gram hashes to "
    f"0 mod {_CDC_MOD} (local-window CDC, the same principle as "
    "gear/Rabin chunking in storage dedup and FastCDC), so INSERTING a "
    "sentence shifts only the chunks it touches — every boundary "
    "downstream re-aligns because boundaries depend on local content, "
    "not offsets.  Chunk fingerprints then dedupe ACROSS documents "
    "(n_copies, representative, is_dup), the segment-level complement "
    "to whole-doc dedup_exact and sub-span text_duplicate_span_fraction."
    "  Boundary decisions use only a 3-token window, which is what "
    "makes the oracle exactly replicable (lag window, no sequential "
    "state) AND what makes the operator embarrassingly parallel at "
    "100 TB — a doc is chunked entirely within its own partition; the "
    "only shuffle is the fingerprint-keyed frequency join, digest-only."
    "  The 1/8 boundary rate gives ~8-token expected chunks (geometric),"
    " the RAG-ingestion sweet spot.",
)
def text_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # NULL doc_id excluded: chunks are keyed by doc (oracle WHERE)
    # r17 note: a load_spread variant was measured and REVERTED (warm
    # min-of-4: 1.13 s plain vs 1.34 s spread at sf0.1) — this query's
    # cost is the doc-partitioned chunking window, which already fans out
    # on its own exchange; the tokenize map work is too light to amortize
    # an extra spread exchange (the r16 cosine-revert lesson).
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "tok"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    w = W.partitionBy("doc_id").orderBy("pos")
    tri = F.concat_ws(" ", F.lag("tok", 2).over(w), F.lag("tok", 1).over(w), F.col("tok"))
    flagged = tok.select(
        "doc_id",
        "tok",
        "pos",
        F.when(
            (F.col("pos") >= 3)
            & (
                F.conv(F.substring(F.md5(tri.cast("binary")), 1, 8), 16, 10)
                .cast("bigint")
                % _CDC_MOD
                == 0
            ),
            1,
        )
        .otherwise(0)
        .alias("brk"),
    )
    chunks = flagged.select(
        "doc_id",
        F.sum("brk").over(w.rowsBetween(W.unboundedPreceding, 0)).alias("chunk_idx"),
        "tok",
        "pos",
    )
    # ordered within-chunk reassembly: sort the (pos, tok) structs, then
    # join the tokens — collect_list order is partition-dependent, the
    # array_sort is what makes the fingerprint deterministic
    fp = (
        chunks.groupBy("doc_id", "chunk_idx")
        .agg(
            F.array_sort(F.collect_list(F.struct("pos", "tok"))).alias("st"),
            F.count(F.lit(1)).alias("n_toks"),
        )
        .select(
            "doc_id",
            F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
            F.md5(F.array_join(F.transform("st", lambda s: s["tok"]), " ").cast("binary")).alias("chunk_fp"),
            "n_toks",
        )
    )
    freq = fp.groupBy("chunk_fp").agg(
        F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("rep_doc")
    )
    return fp.join(freq, "chunk_fp").select(
        "doc_id",
        "chunk_idx",
        "chunk_fp",
        "n_toks",
        "n_copies",
        ((F.col("n_copies") > 1) & (F.col("doc_id") != F.col("rep_doc"))).alias("is_dup"),
    )


_KN_D = 0.75  # discount — exact in binary, so the arithmetic replays bit-for-bit


@register(
    "text_bigram_kneser_ney",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, i.i AS pos, string_split(lower(text), ' ')[i.i] AS w,
             string_split(lower(text), ' ')[i.i + 1] AS nxt
      FROM documents,
           LATERAL (SELECT unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS i) i
      -- doc_id partitions the lead(): two NULL-id docs would merge into
      -- one scrambled token stream on the window side (null-KEYS contract)
      WHERE string_split(lower(text), ' ')[i.i] <> '' AND doc_id IS NOT NULL
    ),
    bi AS (
      SELECT w, nxt, CAST(count(*) AS BIGINT) AS cb
      FROM tok WHERE nxt IS NOT NULL AND nxt <> '' GROUP BY w, nxt
    ),
    left_tot AS (SELECT w, CAST(sum(cb) AS BIGINT) AS cw,
                        CAST(count(*) AS BIGINT) AS n1p_fwd
                 FROM bi GROUP BY w),
    cont AS (SELECT nxt, CAST(count(*) AS BIGINT) AS n1p_rev FROM bi GROUP BY nxt),
    n_bigram_types AS (SELECT CAST(count(*) AS BIGINT) AS nbt FROM bi),
    top_pairs AS (
      SELECT w, nxt, cb FROM (
        SELECT w, nxt, cb,
               row_number() OVER (ORDER BY cb DESC, w, nxt) AS rn
        FROM bi
      ) WHERE rn <= 200
    )
    SELECT p.w, p.nxt, p.cb,
           lt.cw, ct.n1p_rev,
           CAST(floor((greatest(p.cb - {_KN_D}, 0.0) / lt.cw
                 + {_KN_D} * lt.n1p_fwd / lt.cw
                   * (CAST(ct.n1p_rev AS DOUBLE) / t.nbt)) * 1e9 + 0.5) AS BIGINT)
             AS pkn_x1e9
    FROM top_pairs p
    JOIN left_tot lt ON lt.w = p.w
    JOIN cont ct ON ct.nxt = p.nxt
    CROSS JOIN n_bigram_types t
    """,
    doc="KNESER-NEY SMOOTHED BIGRAM LM — the smoothing that actually "
    "ships in n-gram LMs (and in LLM-era data work, the scoring basis "
    "for perplexity filters): absolute discount d=0.75 off every seen "
    "bigram, with the reclaimed mass backed off to the CONTINUATION "
    "probability (how many distinct left-contexts a word follows — "
    "'francisco' is frequent but follows only 'san', so KN correctly "
    "refuses to predict it in fresh contexts; raw-frequency backoff "
    "(text_bigram_logprob's add-k) gets this exactly wrong).  "
    "d=0.75 is EXACT in binary and all counts are integers, so both "
    "engines replay identical IEEE arithmetic, nano-quantized.  "
    "Emitted for the top-200 bigrams (deterministic tiebreak).  "
    "Scale: three count aggregates over the bigram table (all "
    "partial-agg), one broadcastable scalar; the per-pair formula is "
    "codegen arithmetic — the same shape at a trillion-token corpus, "
    "where the bigram table is the big side and everything else is "
    "dimension-sized.",
)
def text_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # NULL doc_id excluded: partitionBy(doc_id) would merge all id-less
    # docs into ONE interleaved token stream (oracle states the WHERE)
    docs = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", "text")
    )
    # lead() is computed over ALL positions (empties included) so nxt is the
    # literal next array slot, matching the oracle's positional [i+1] access;
    # a run of consecutive spaces therefore yields NO bigram (nxt='' is
    # dropped below) rather than a bigram spanning the run.  Filtering
    # empties before lead() silently changed the bigram table for any
    # document with consecutive spaces (ADVICE r5 item 2).
    toks = docs.select(
        "doc_id", F.posexplode(F.split(F.lower("text"), " ")).alias("pos", "w")
    )
    w_next = W.partitionBy("doc_id").orderBy("pos")
    tok = toks.select(
        "doc_id", "w", F.lead("w").over(w_next).alias("nxt")
    ).filter(F.col("w") != "")
    bi = (
        tok.filter(F.col("nxt").isNotNull() & (F.col("nxt") != ""))
        .groupBy("w", "nxt")
        .agg(F.count(F.lit(1)).alias("cb"))
    )
    left_tot = bi.groupBy("w").agg(
        F.sum("cb").alias("cw"), F.count(F.lit(1)).alias("n1p_fwd")
    )
    cont = bi.groupBy("nxt").agg(F.count(F.lit(1)).alias("n1p_rev"))
    nbt = bi.agg(F.count(F.lit(1)).alias("nbt"))
    # top-200 via orderBy+limit -> TakeOrderedAndProject: each partition of
    # the bigram table keeps its local top-200, the driver merges — no
    # global-sort window even when the bigram-TYPE table itself is huge
    # (trillion-token corpora); same deterministic tiebreak as the oracle.
    top = bi.orderBy(F.col("cb").desc(), "w", "nxt").limit(200)
    return (
        top.join(left_tot, "w")
        .join(cont, "nxt")
        .crossJoin(F.broadcast(nbt))
        .select(
            "w",
            "nxt",
            "cb",
            "cw",
            "n1p_rev",
            F.floor(
                (
                    F.greatest(F.col("cb") - _KN_D, F.lit(0.0)) / F.col("cw")
                    + _KN_D
                    * F.col("n1p_fwd")
                    / F.col("cw")
                    * (F.col("n1p_rev").cast("double") / F.col("nbt"))
                )
                * 1e9
                + 0.5
            )
            .cast("bigint")
            .alias("pkn_x1e9"),
        )
    )


# Shared secret-pattern table (RE2- and Java-compatible subset).  The
# fixture corpus is clean, so deterministic plants (every 17th doc gets an
# AKIA-style key, every 23rd a hex token) make detection measurable.
_SECRET_PATTERNS = (
    # (kind, pattern, min Shannon entropy of the hit in integer micro-nats;
    #  0 = structural pattern, no entropy gate)
    ("aws_access_key", "AKIA[A-Z2-7]{16}", 0),
    ("hex_token_32", "tok_[0-9a-f]{32}", 1_500_000),
    ("jwt", "eyJ[0-9A-Za-z_-]+[.]eyJ[0-9A-Za-z_-]+[.][0-9A-Za-z_-]+", 1_500_000),
)

# Shannon entropy of a matched secret, in integer micro-nats:
# H = ln(L) - (1/L) * sum_over_distinct_chars(c * ln c).  The distinct-char
# list is SORTED on both engines so the float fold order is identical
# (bit-for-bit IEEE replay, then nano→micro quantization).
_ENTROPY_UNATS_EXPR = (
    "cast(floor((ln(length(hit)) - aggregate("
    "array_sort(array_distinct(regexp_extract_all(hit, '.', 0))), "
    "cast(0.0 as double), "
    "(acc, c) -> acc + size(filter(regexp_extract_all(hit, '.', 0), x -> x = c))"
    " * ln(size(filter(regexp_extract_all(hit, '.', 0), x -> x = c)))"
    ") / length(hit)) * 1e6 + 0.5) as bigint)"
)


@register(
    "text_secrets_scan",
    oracle="""
    WITH aug AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 17 = 0
                     THEN ' key AKIA' || substr(translate(
                          md5('sk:' || CAST(doc_id AS VARCHAR)),
                          '0123456789abcdef', 'ABCDEFGHIJKLMNOP'), 1, 16) || ' end'
                     ELSE '' END
             || CASE WHEN doc_id % 23 = 0
                     THEN ' tok_' || md5('tk:' || CAST(doc_id AS VARCHAR)) || ' x'
                     ELSE '' END
             || CASE WHEN doc_id % 29 = 0
                     THEN ' bearer eyJ' || md5('jh:' || CAST(doc_id AS VARCHAR))
                          || '.eyJ' || md5('jp:' || CAST(doc_id AS VARCHAR))
                          || '.' || md5('js:' || CAST(doc_id AS VARCHAR)) || ' end'
                     ELSE '' END
             || CASE WHEN doc_id % 31 = 0
                     THEN ' tok_aaaaaaaaaaaaaaaaaaaaaaaaaaaaaaaa x'
                     ELSE '' END AS text
      FROM documents
    ),
    hits AS (
      SELECT doc_id, kind, hit, thr
      FROM aug, LATERAL (
        SELECT 'aws_access_key' AS kind, 0 AS thr,
               unnest(regexp_extract_all(text, 'AKIA[A-Z2-7]{16}')) AS hit
        UNION ALL
        SELECT 'hex_token_32', 1500000,
               unnest(regexp_extract_all(text, 'tok_[0-9a-f]{32}'))
        UNION ALL
        SELECT 'jwt', 1500000,
               unnest(regexp_extract_all(text,
                 'eyJ[0-9A-Za-z_-]+[.]eyJ[0-9A-Za-z_-]+[.][0-9A-Za-z_-]+'))
      ) m
    ),
    scored AS (
      SELECT doc_id, kind, hit, thr,
             CAST(floor((ln(len(hit)) - list_sum(list_transform(
                    list_sort(list_distinct(regexp_extract_all(hit, '.'))),
                    c -> len(list_filter(regexp_extract_all(hit, '.'), x -> x = c))
                         * ln(len(list_filter(regexp_extract_all(hit, '.'), x -> x = c)))
                  )) / len(hit)) * 1e6 + 0.5) AS BIGINT) AS entropy_unats
      FROM hits
    )
    SELECT doc_id, kind, hit, entropy_unats
    FROM scored WHERE entropy_unats >= thr
    """,
    doc="SECRETS SCAN — the credential-scrubbing pass every LLM training "
    "corpus needs before the tokenizer sees it (leaked AWS keys, API "
    "tokens, and JWTs memorize verbatim): a shared pattern table "
    "(AKIA-style access keys, 32-hex bearer tokens, three-part eyJ* "
    "JWTs — the RE2/Java-compatible regex subset, same discipline as "
    "text_pii_redaction's email/phone rules) is applied with "
    "regexp_extract_all, and every hit is scored with its SHANNON "
    "ENTROPY in integer micro-nats (H = ln L - (1/L)*sum c_i ln c_i, "
    "sorted-distinct fold order so both engines replay identical IEEE "
    "arithmetic).  Structural patterns (AKIA prefix) pass ungated;"
    "generic token shapes carry a 1.5-nat entropy floor, which is what "
    "real scanners use to cut low-entropy false positives.  The "
    "fixture corpus is clean, so secrets are PLANTED deterministically "
    "(md5-derived, every 17th/23rd/29th doc) plus a LOW-ENTROPY DECOY "
    "(every 31st doc: tok_ + 32*'a', entropy ~0.5 nats) that the "
    "pattern matches and the entropy gate must drop — recall AND "
    "precision of the gate are exactly checkable.  Scale: per-row "
    "regex in codegen, explode only on matches (sparse), the entropy "
    "score is a higher-order array fold over each short hit (no "
    "shuffle); the pattern table extends without plan changes.",
)
def text_secrets_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id", "text")
    plant_key = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(
            F.lit(" key AKIA"),
            F.substring(
                F.translate(
                    F.md5(F.concat(F.lit("sk:"), F.col("doc_id").cast("string")).cast("binary")),
                    "0123456789abcdef",
                    "ABCDEFGHIJKLMNOP",
                ),
                1,
                16,
            ),
            F.lit(" end"),
        ),
    ).otherwise("")
    plant_tok = F.when(
        F.col("doc_id") % 23 == 0,
        F.concat(
            F.lit(" tok_"),
            F.md5(F.concat(F.lit("tk:"), F.col("doc_id").cast("string")).cast("binary")),
            F.lit(" x"),
        ),
    ).otherwise("")
    _m = lambda tag: F.md5(  # noqa: E731 — md5 of 'tag:<doc_id>' as in the oracle
        F.concat(F.lit(tag), F.col("doc_id").cast("string")).cast("binary")
    )
    plant_jwt = F.when(
        F.col("doc_id") % 29 == 0,
        F.concat(
            F.lit(" bearer eyJ"), _m("jh:"),
            F.lit(".eyJ"), _m("jp:"),
            F.lit("."), _m("js:"),
            F.lit(" end"),
        ),
    ).otherwise("")
    plant_decoy = F.when(
        F.col("doc_id") % 31 == 0,
        F.lit(" tok_" + "a" * 32 + " x"),
    ).otherwise("")
    aug = d.select(
        "doc_id",
        F.concat(F.col("text"), plant_key, plant_tok, plant_jwt, plant_decoy).alias("text"),
    )
    parts = []
    for kind, pat, thr in _SECRET_PATTERNS:
        parts.append(
            aug.select(
                "doc_id",
                F.lit(kind).alias("kind"),
                F.explode(F.expr(f"regexp_extract_all(text, '{pat}', 0)")).alias("hit"),
                F.lit(thr).alias("thr"),
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return (
        out.withColumn("entropy_unats", F.expr(_ENTROPY_UNATS_EXPR))
        .filter(F.col("entropy_unats") >= F.col("thr"))
        .select("doc_id", "kind", "hit", "entropy_unats")
    )
