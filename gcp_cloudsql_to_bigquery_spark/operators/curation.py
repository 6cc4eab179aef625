"""Data-curation operators: batch sessionization, reproducible sampling,
table profiling — the selection/QA layer of a training-data pipeline.

Scale notes: hash-based sampling is THE reproducible sampling pattern at
100 TB (a pure narrow filter, no shuffle, stable across reruns/engines —
unlike TABLESAMPLE, which is engine- and split-dependent); sessionization
is one shuffle on the entity key; profiling is a single pass of agg
partials per column.
"""

from __future__ import annotations

from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


@register(
    "sessionize_batch",
    oracle="""
    WITH marked AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) ts, value,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                       OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                          > INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE ts IS NOT NULL  -- NULL event time cannot be sessionized
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                  AS sess_id
      FROM marked
    )
    SELECT user_id, sess_id, min(ts) AS sess_start, max(ts) AS sess_end,
           count(*) AS n_events, round(sum(value), 2) AS sess_value,
           round(CAST(date_diff('microsecond', min(ts), max(ts)) AS DOUBLE) / 1000000, 3)
             AS duration_sec
    FROM sess GROUP BY user_id, sess_id
    """,
    doc="Batch sessionization (gaps-and-islands): lag + cumulative-sum session "
    "ids, then per-session stats — one shuffle on user_id, both window specs "
    "share it.",
)
def sessionize_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event time cannot be sessionized (null-KEYS contract; oracle WHERE)
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("ts").isNotNull())
        .select("user_id", "ts", "value")
    )
    w = W.partitionBy("user_id").orderBy("ts")
    gap = F.col("ts").cast("double") - F.lag(F.col("ts").cast("double")).over(w)
    marked = e.withColumn(
        "new_sess", (F.isnull(gap) | (gap > 1800)).cast("bigint")
    )
    sess = marked.withColumn(
        "sess_id", F.sum("new_sess").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return sess.groupBy("user_id", "sess_id").agg(
        F.min("ts").alias("sess_start"),
        F.max("ts").alias("sess_end"),
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sess_value"),
        F.round(
            (F.max(F.col("ts").cast("double")) - F.min(F.col("ts").cast("double"))), 3
        ).alias("duration_sec"),
    )


@register(
    "sample_hash_based",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
    """,
    doc="Reproducible ~3/16 hash sample: filter on a digest prefix of the "
    "key — deterministic, engine-independent, no shuffle, stable under "
    "reruns and data growth (the training-data holdout/sample pattern; "
    "TABLESAMPLE is none of those things).",
)
def sample_hash_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 1)
    return d.filter(bucket.isin("0", "1", "2")).select("doc_id", "lang", "n_chars")


@register(
    "sample_stratified",
    oracle="""
    WITH strata AS (
      -- non-null strata only: a NULL lang would enter the rank under
      -- engine-specific null placement and flip every language's PARITY
      -- (and with it the sampling fraction) — null-tier find
      SELECT lang, (row_number() OVER (ORDER BY lang) - 1) % 2 AS odd
      FROM (SELECT DISTINCT lang FROM documents WHERE lang IS NOT NULL)
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN strata s ON s.lang = d.lang
    WHERE substr(md5(d.lang || ':' || CAST(d.doc_id AS VARCHAR)), 1, 2)
          < CASE WHEN s.odd = 0 THEN '80' ELSE '33' END
    """,
    doc="Stratified sampling with per-language fractions (even-ranked langs "
    "128/256, odd 51/256 ≈ 0.5/0.2) — the class-rebalancing primitive, done "
    "as a keyed-digest filter instead of seeded Bernoulli (sampleBy) so the "
    "selection is deterministic, engine-independent, and stable under "
    "reruns/data growth.  Two lowercase hex chars compare lexicographically "
    "as their numeric value, so the digest threshold is a plain string "
    "comparison on both engines.  The stratum table is a tiny distinct+rank "
    "broadcast; the sample itself is a narrow filter, no shuffle on the "
    "fact side.  (Spark's native sampleBy(seeded) is exercised in "
    "tests/test_curation.py — it cannot be oracle'd because the RNG stream "
    "is engine-specific.)",
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    strata = (
        d.select("lang")
        .filter(F.col("lang").isNotNull())  # see oracle: parity stability
        .distinct()
        .withColumn(
            "odd",
            (F.row_number().over(W.orderBy("lang")) - 1) % 2,
        )
    )
    keyed = F.substring(
        F.md5(F.concat(F.col("lang"), F.lit(":"), F.col("doc_id").cast("string")).cast("binary")),
        1,
        2,
    )
    return (
        d.join(F.broadcast(strata), "lang")
        .filter(keyed < F.when(F.col("odd") == 0, "80").otherwise("33"))
        .select("doc_id", "lang")
    )


@register(
    "profile_table",
    oracle="""
    SELECT
      count(*)                                   AS n_rows,
      count(DISTINCT l_orderkey)                 AS n_orders,
      count(CASE WHEN l_quantity IS NULL THEN 1 END) AS null_qty,
      round(min(l_quantity), 2)                  AS min_qty,
      round(max(l_quantity), 2)                  AS max_qty,
      round(avg(l_extendedprice), 4)             AS avg_price,
      round(stddev_samp(l_extendedprice), 4)     AS sd_price,
      round(quantile_cont(l_discount, 0.5), 6)   AS median_disc,
      count(DISTINCT l_returnflag)               AS n_flags
    FROM lineitem
    """,
    doc="Single-pass table profile: row/null/distinct counts, min/max, "
    "moments, median — the data-QA summary every ingest should emit "
    "(one aggregate of partials; exact distincts become approx_* at 100 TB). "
    "The exact interpolated median is computed from a per-value histogram "
    "(groupBy l_discount -> counts, cumulative walk over the DISTINCT "
    "values, rank-select the two middle values, interpolate with the same "
    "lower + (higher-lower)*frac arithmetic percentile() uses) — l_discount "
    "is a bounded-domain column, so the shuffle carries one row per "
    "distinct value per map task and the walk runs over a metadata-sized "
    "table at any fact volume, where the percentile() aggregate buffered "
    "a value->count map of the whole column onto ONE reducer (the r16 "
    "buffer-agg scan's last profile hit).",
)
def profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table profile of ``lineitem``; see the registered ``doc=``.

    Warning: the median walk runs two windows with no PARTITION BY over
    the per-value table, so Spark moves every row of that table to ONE
    task (SinglePartition).  That is safe only because ``l_discount`` has
    a bounded domain (11 values in TPC-H) and the table holds one row per
    distinct value.  Do not copy the pattern onto a high-cardinality
    column (keys, prices, timestamps): there the per-value table grows
    with the data and the single task becomes the whole job.
    """
    li = load(spark, sf_dir, "lineitem")
    # mixing DISTINCT and plain aggregates in ONE agg forces an Expand of
    # every input column (3× the rows through the hash-agg — measured 3.3 s
    # vs 1.7 s at sf0.1).  Split into two single-row aggregates and
    # cross-join the scalars instead; each keeps its optimal plan.
    stats = li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.count(F.when(F.col("l_quantity").isNull(), 1)).alias("null_qty"),
        F.round(F.min("l_quantity"), 2).alias("min_qty"),
        F.round(F.max("l_quantity"), 2).alias("max_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("sd_price"),
    )
    distincts = li.agg(
        F.countDistinct("l_orderkey").alias("n_orders"),
        F.countDistinct("l_returnflag").alias("n_flags"),
    )
    # exact median over the bounded-domain column via value-histogram rank
    # walk (r17, replaces percentile(l_discount, 0.5)):
    #   percentile(col, 0.5) = v[lo] + (v[hi] - v[lo]) * 0.5 over the
    #   non-null values sorted ascending, lo = (n+1) div 2, hi = n div 2
    #   + 1 (Spark's 1 + p*(n-1) position, floor/ceil split at p = 0.5).
    # v[k] = the smallest value whose cumulative count reaches k.  The
    # windows run over the post-aggregate per-value table (bounded by the
    # domain, 11 values for TPC-H discounts), never over fact grain.
    vc = (
        li.filter(F.col("l_discount").isNotNull())
        .groupBy("l_discount")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    w_cum = W.orderBy("l_discount").rowsBetween(W.unboundedPreceding, 0)
    w_tot = W.orderBy(F.lit(1)).rowsBetween(
        W.unboundedPreceding, W.unboundedFollowing
    )
    cum = vc.select(
        "l_discount",
        F.sum("c").over(w_cum).alias("running"),
        F.sum("c").over(w_tot).alias("n"),
    )
    # integer-exact rank tests (cross-multiplied, no division):
    #   running >= lo = floor((n+1)/2)  <=>  2*running >= n
    #   running >= hi = floor(n/2) + 1  <=>  2*running >= n + 1
    # (both reduce to the same rank (n+1)/2 when n is odd)
    lo_v = F.min(F.when(F.col("running") * 2 >= F.col("n"), F.col("l_discount")))
    hi_v = F.min(F.when(F.col("running") * 2 >= F.col("n") + 1, F.col("l_discount")))
    med = cum.agg(
        F.round(lo_v + (hi_v - lo_v) * F.lit(0.5), 6).alias("median_disc")
    )
    return stats.crossJoin(distincts).crossJoin(med).select(
        "n_rows", "n_orders", "null_qty", "min_qty", "max_qty",
        "avg_price", "sd_price", "median_disc", "n_flags",
    )


@register(
    "curation_mix_weighted",
    oracle="""
    SELECT doc_id, source
    FROM documents
    WHERE CASE WHEN CAST(substr(source, 4) AS INT) % 2 = 0
               THEN substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 1)
                      NOT IN ('c', 'd', 'e', 'f')
               ELSE substr(md5(source || ':' || CAST(doc_id AS VARCHAR)), 1, 1)
                      IN ('0', '1', '2', '3')
          END
    """,
    doc="Weighted source mixing: per-source keep rates (even-numbered "
    "sources 12/16, odd 4/16) via a digest-bucket on (source, doc_id) — "
    "the data-mixture reweighting step of a training pipeline, done "
    "deterministically so the mixture is reproducible run-over-run and "
    "engine-independent (unlike seeded Bernoulli sampling).  Narrow filter, "
    "no shuffle; rates are exact in expectation and stable under data "
    "growth because the bucket is keyed, not positional.",
)
def curation_mix_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    bucket = F.substring(
        F.md5(
            F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string")).cast(
                "binary"
            )
        ),
        1,
        1,
    )
    even_src = F.substring("source", 4, 10).cast("int") % 2 == 0
    keep = F.when(even_src, ~bucket.isin("c", "d", "e", "f")).otherwise(
        bucket.isin("0", "1", "2", "3")
    )
    return d.filter(keep).select("doc_id", "source")


@register(
    "curation_pack_sequences",
    oracle="""
    WITH t AS (
      -- packing concatenates docs IN doc_id ORDER: a doc with no id has
      -- no deterministic pack position, so it is excluded (null-KEYS)
      SELECT doc_id, len(string_split(lower(text), ' ')) AS n_tok FROM documents
      WHERE doc_id IS NOT NULL
    ),
    c AS (
      SELECT doc_id, n_tok,
             sum(n_tok) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tok
               AS tok_before
      FROM t
    )
    SELECT doc_id, n_tok,
           CAST(floor(tok_before / 2048.0) AS BIGINT) AS pack_id,
           CAST(tok_before % 2048 AS BIGINT) AS pack_offset
    FROM c
    """,
    doc="Sequence packing: concatenate documents in doc_id order and cut "
    "2048-token training sequences (documents may straddle a boundary — "
    "GPT-style concat-and-chunk).  A naive global running sum is a "
    "single-partition window; implemented instead as the scalable two-level "
    "prefix sum: (1) per-range token totals (hash agg, ~N/G rows), (2) "
    "global prefix over the tiny range table, (3) per-range local cumsum + "
    "range base — every fact-sized window is partitioned, identical result "
    "by associativity of the prefix sum (the oracle is the naive form).",
)
def curation_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .text import tokens

    BUDGET = 2048
    GROUP = 64  # docs per range; at scale pick ~rows/partition
    # NULL doc_id excluded: no deterministic pack position (oracle WHERE)
    d = (
        load(spark, sf_dir, "documents")
        .filter(F.col("doc_id").isNotNull())
        .select("doc_id", F.size(tokens(F.col("text"))).alias("n_tok"))
    )
    d = d.withColumn("grp", (F.col("doc_id") / GROUP).cast("bigint"))
    # (1) per-range totals: small aggregate, one shuffle of partials
    totals = d.groupBy("grp").agg(F.sum("n_tok").alias("grp_tok"))
    # (2) exclusive prefix over the range table (tiny: N/GROUP rows)
    wg = W.orderBy("grp").rowsBetween(W.unboundedPreceding, 0)
    bases = totals.withColumn("grp_base", F.sum("grp_tok").over(wg) - F.col("grp_tok")).select(
        "grp", "grp_base"
    )
    # (3) local exclusive cumsum within each range + broadcast range base
    wl = W.partitionBy("grp").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    packed = (
        d.join(F.broadcast(bases), "grp")
        .withColumn("tok_before", F.col("grp_base") + F.sum("n_tok").over(wl) - F.col("n_tok"))
    )
    return packed.select(
        "doc_id",
        "n_tok",
        F.floor(F.col("tok_before") / BUDGET).alias("pack_id"),
        (F.col("tok_before") % BUDGET).alias("pack_offset"),
    )


@register(
    "curation_quality_sample",
    oracle="""
    SELECT doc_id, n_chars,
           CASE WHEN n_chars >= 400 THEN 3 WHEN n_chars >= 200 THEN 2 ELSE 1 END AS tier
    FROM documents
    WHERE CASE WHEN n_chars >= 400 THEN TRUE
               WHEN n_chars >= 200 THEN substr(md5('q:' || CAST(doc_id AS VARCHAR)), 1, 1)
                      IN ('0','1','2','3','4','5','6','7')
               ELSE substr(md5('q:' || CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')
          END
    """,
    doc="Quality-weighted downsampling: keep rate rises with a quality tier "
    "(here length-based: 100% / 50% / 12.5%) via a keyed digest bucket — "
    "deterministic, engine-independent, reproducible across reruns and "
    "data growth (the curriculum/quality-mixing step of a training "
    "pipeline).  Narrow filter, zero shuffle.",
)
def curation_quality_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tier = (
        F.when(F.col("n_chars") >= 400, 3).when(F.col("n_chars") >= 200, 2).otherwise(1)
    )
    bucket = F.substring(
        F.md5(F.concat(F.lit("q:"), F.col("doc_id").cast("string")).cast("binary")), 1, 1
    )
    keep = (
        F.when(tier == 3, F.lit(True))
        .when(tier == 2, bucket.isin(*"01234567"))
        .otherwise(bucket.isin("0", "1"))
    )
    return d.filter(keep).select("doc_id", "n_chars", tier.alias("tier"))


@register(
    "curation_source_overlap",
    oracle="""
    WITH s AS (
      SELECT source,
             list_distinct(flatten(list(list_transform(
               range(1, greatest(length(text)-1, 2)), i -> substr(text, i, 3))))) AS sh
      FROM documents GROUP BY source
    )
    SELECT a.source AS source_a, b.source AS source_b,
           round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
    FROM s a JOIN s b ON a.source < b.source
    """,
    doc="Cross-source overlap matrix: exact char-3-gram-shingle Jaccard "
    "between every pair of sources — the corpus-contamination / source-"
    "redundancy audit of a data-mixing pipeline.  Spark side is an "
    "inverted-index shape: distinct (source, shingle) pairs (one shuffle), "
    "self-join on shingle to count intersections, per-source sizes joined "
    "back; no per-pair list materialization, so it distributes over "
    "arbitrary corpus size (sources ≪ shingles).",
)
def curation_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_spread
    from .dedup import with_shingles

    # load_spread (r16): shingling at full width when the file layout would
    # otherwise cap the scan at one task (guide §2.5); no-op at real scale
    d = with_shingles(load_spread(spark, sf_dir, "documents", "doc_id"))
    ss = (
        # explode_outer: shingles provably non-empty; avoids the inferred
        # size>0 filter re-running the shingle build below the spread (r16)
        d.select("source", F.explode_outer("shingles").alias("sh"))
        .distinct()  # (source, shingle) membership
    )
    sizes = ss.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    a = ss.select(F.col("source").alias("source_a"), "sh")
    b = ss.select(F.col("source").alias("source_b"), "sh")
    inter = (
        a.join(b, "sh")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ).alias("jaccard"),
        )
    )


_EPOCH_SHARDS = 8


@register(
    "curation_epoch_shuffle",
    oracle=f"""
    WITH keyed AS (
      SELECT doc_id, n_chars,
             md5('epoch1:' || CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    placed AS (
      SELECT doc_id, n_chars,
             CAST(CAST('0x' || substr(h, 1, 8) AS BIGINT) % {_EPOCH_SHARDS}
                  AS INT) AS shard,
             CAST(row_number() OVER (
               PARTITION BY CAST('0x' || substr(h, 1, 8) AS BIGINT) % {_EPOCH_SHARDS}
               ORDER BY h, doc_id) AS BIGINT) - 1 AS pos
      FROM keyed
    )
    SELECT doc_id, shard, pos, n_chars FROM placed
    """,
    doc=f"Deterministic epoch shuffle for training-data loading: each "
    f"document is assigned a shard (md5(epoch_seed, doc_id) % "
    f"{_EPOCH_SHARDS}) and a position within its shard (rank of the "
    f"hash), so the training order for any epoch is a pure function of "
    f"(seed, doc_id) — reproducible across reruns, engines, and "
    f"cluster sizes, and a different permutation per epoch seed.  The "
    f"KEY scale decision: there is NO global row_number (a global "
    f"total order would serialize through one partition); the global "
    f"shuffle order is materialized as (shard, pos) with each shard "
    f"sorted independently — exactly the layout loaders consume "
    f"(shard files read in parallel, sequential within), so the sort "
    f"is {_EPOCH_SHARDS}-way distributed and scales with the "
    f"cluster.  Hash-partitioned by construction: shard sizes are "
    f"balanced to binomial fluctuation, no skew.",
)
def curation_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    h = F.md5(F.concat(F.lit("epoch1:"), F.col("doc_id").cast("string")))
    keyed = d.select("doc_id", "n_chars", h.alias("h"))
    shard = (F.conv(F.substring("h", 1, 8), 16, 10).cast("bigint") % _EPOCH_SHARDS).cast("int")
    placed = keyed.withColumn("shard", shard)
    w = W.partitionBy("shard").orderBy("h", "doc_id")
    return placed.select(
        "doc_id",
        "shard",
        (F.row_number().over(w).cast("bigint") - 1).alias("pos"),
        "n_chars",
    )


@register(
    "curation_importance_resampling",
    oracle="""
    WITH tok AS (
      SELECT doc_id, lang,
             CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 1024 AS b
      FROM (SELECT doc_id, lang, unnest(string_split(lower(text), ' ')) AS w
            FROM documents)
      WHERE w <> ''
    ),
    tgt AS (SELECT b, count(*) AS ct FROM tok WHERE lang = 'en' GROUP BY b),
    raw AS (SELECT b, count(*) AS cr FROM tok WHERE lang <> 'en' GROUP BY b),
    tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM tgt) AS t,
                   (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS r),
    lr AS (
      SELECT coalesce(tgt.b, raw.b) AS b,
             CAST(floor((ln((coalesce(ct, 0) + 0.5) / (t + 512.0))
                         - ln((coalesce(cr, 0) + 0.5) / (r + 512.0))) * 1e6 + 0.5)
                  AS BIGINT) AS lr_fp
      FROM tgt FULL OUTER JOIN raw ON tgt.b = raw.b CROSS JOIN tot
    ),
    dcounts AS (
      SELECT doc_id, lang, b, count(*) AS n
      FROM tok WHERE lang <> 'en' GROUP BY doc_id, lang, b
    ),
    scored AS (
      SELECT d.doc_id, d.lang, CAST(sum(d.n * lr.lr_fp) AS BIGINT) AS score_fp
      FROM dcounts d JOIN lr ON d.b = lr.b
      GROUP BY d.doc_id, d.lang
    )
    SELECT doc_id, lang, score_fp,
           CAST(row_number() OVER (ORDER BY score_fp DESC, doc_id) AS BIGINT) AS rnk
    FROM scored
    QUALIFY rnk <= 100
    """,
    doc="DSIR-style importance resampling (Xie et al. 2023, 'Data Selection "
    "for Language Models via Importance Resampling'): hashed unigram "
    "features (md5 -> 1024 buckets), a smoothed bag-of-buckets language "
    "model for the target (lang='en') and raw (everything else) pools, and "
    "each raw document scored by its summed log-likelihood ratio — the "
    "standard cheap way to pull target-domain-like documents out of a web "
    "crawl.  Float discipline: per-bucket log-ratios are quantized ONCE to "
    "1e-6 fixed point, so document scores are exact INTEGER sums (no "
    "accumulation-order sensitivity at all — stronger than sorted-fold).  "
    "Scale: bucket tables are 1024 rows (broadcast); the only fact-scale "
    "shuffles are the two partial-agged token groupBys; ranking runs on "
    "the doc-count-sized score table.",
)
def curation_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    tok = (
        d.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.lower("text"), " ")).alias("w"),
        )
        .filter(F.col("w") != "")
        .withColumn(
            "b", F.conv(F.substring(F.md5("w"), 1, 8), 16, 10).cast("bigint") % 1024
        )
    )
    # ONE token pass builds both language models: conditional counts per
    # bucket (ct for the target pool, cr for the raw pool) in a single
    # partial-agged groupBy — not one scan per pool
    byb = tok.groupBy("b").agg(
        F.count(F.when(F.col("lang") == "en", 1)).alias("ct"),
        F.count(F.when(F.col("lang") != "en", 1)).alias("cr"),
    )
    raw = tok.filter(F.col("lang") != "en")
    tot = byb.agg(F.sum("ct").alias("t"), F.sum("cr").alias("r"))
    lr = (
        byb.withColumn("ct", F.nullif("ct", F.lit(0)))
        .withColumn("cr", F.nullif("cr", F.lit(0)))
        .crossJoin(F.broadcast(tot))
        .select(
            "b",
            F.floor(
                (
                    F.log((F.coalesce("ct", F.lit(0)) + 0.5) / (F.col("t") + 512.0))
                    - F.log((F.coalesce("cr", F.lit(0)) + 0.5) / (F.col("r") + 512.0))
                )
                * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("lr_fp"),
        )
    )
    dcounts = raw.groupBy("doc_id", "lang", "b").agg(F.count(F.lit(1)).alias("n"))
    scored = (
        dcounts.join(F.broadcast(lr), "b")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("n") * F.col("lr_fp")).alias("score_fp"))
    )
    # top-100 via orderBy+limit -> TakeOrderedAndProject (map-side top-k per
    # partition, driver merge); rnk is then a window over the BOUNDED
    # 100-row result, not a global sort of the doc-grain rollup
    top = scored.orderBy(F.col("score_fp").desc(), "doc_id").limit(100)
    w = W.orderBy(F.col("score_fp").desc(), "doc_id")
    return top.withColumn("rnk", F.row_number().over(w).cast("bigint")).select(
        "doc_id", "lang", "score_fp", "rnk"
    )


@register(
    "curation_dedup_pipeline",
    oracle="""
    WITH
    s AS (SELECT doc_id, list_distinct(list_transform(range(1, greatest(length(text)-1, 2)),
             i -> substr(text, i, 3))) AS sh FROM documents),
    tok AS (SELECT doc_id, unnest(sh) AS g FROM s),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    jacpairs AS (
      SELECT doc_a, doc_b,
             round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
    ),
    stage0 AS (SELECT doc_id, n_chars FROM documents),
    fp AS (SELECT doc_id, n_chars,
                  md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
           FROM documents),
    stage1 AS (
      SELECT doc_id, n_chars FROM (
        SELECT doc_id, n_chars,
               row_number() OVER (PARTITION BY f ORDER BY doc_id) AS rn
        FROM fp) WHERE rn = 1
    ),
    neardrop AS (
      SELECT DISTINCT j.doc_b AS doc_id FROM jacpairs j
      JOIN stage1 a ON a.doc_id = j.doc_a
      JOIN stage1 b ON b.doc_id = j.doc_b
      WHERE j.jaccard >= 0.65
    ),
    stage2 AS (
      SELECT s1.doc_id, s1.n_chars FROM stage1 s1
      LEFT JOIN neardrop d ON d.doc_id = s1.doc_id
      WHERE d.doc_id IS NULL
    ),
    stage3 AS (
      SELECT doc_id, n_chars FROM stage2 WHERE n_chars BETWEEN 200 AND 5000
    )
    SELECT 'stage0_raw' AS stage, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(coalesce(sum(n_chars), 0) AS BIGINT) AS total_chars FROM stage0
    UNION ALL SELECT 'stage1_exact_dedup', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM stage1
    UNION ALL SELECT 'stage2_near_dedup', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM stage2
    UNION ALL SELECT 'stage3_quality', count(*), CAST(coalesce(sum(n_chars), 0) AS BIGINT) FROM stage3
    """,
    doc="The composed training-data curation pipeline as ONE lazy plan — "
    "raw -> exact dedup (digest keeper) -> near-dedup (greedy drop of "
    "the higher-id side of every Jaccard>=0.65 pair among survivors) -> "
    "quality gate (length band), reporting the survival funnel "
    "(n_docs, total_chars) per stage.  This is the integration witness "
    "the per-operator queries can't give: stages share scans (Catalyst "
    "reuses the exchange under stage1 for stages 2-3), survivors of one "
    "stage feed the next, and the whole funnel materializes in one "
    "action.  Near-dedup here is the pair-greedy policy, not CC "
    "clustering, and the pair list is PREFIX-FILTERED candidates + "
    "exact verify, not all-pairs: under the global (df, g) shingle "
    "order, each doc indexes only its |X| - ceil(0.65*|X|) + 1 rarest "
    "shingles (the PPJoin prefix-filtering principle, Xiao et al. "
    "WWW'08 — any pair with Jaccard >= t MUST collide on the prefixes, "
    "so the filter is provably LOSSLESS), then exact Jaccard on the "
    "candidates' full hashed shingle sets decides.  Hub trigrams "
    "almost never enter a prefix (the prefix is the rare end of each "
    "doc), so the df^2 fan-out that made the inlined all-pairs form "
    "cost 432 s at sf0.1 disappears, while the result is bit-equal to "
    "ground truth — which is exactly what the ORACLE states (the same "
    "all-pairs inverted-index CTE as dedup_ngram_jaccard), making the "
    "losslessness claim itself oracle-checked; the round-6 witness "
    "test additionally replays the funnel from a pure-Python all-pairs "
    "computation.  All counts integer.",
)
def curation_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load_spread
    from .dedup import dedup_ngram_jaccard

    d = load(spark, sf_dir, "documents")
    stage0 = d.select("doc_id", "n_chars")
    # stage1's md5-normalize fingerprint is the expensive per-row map work
    # (stage-timed 2.2 s on ONE task under the single-row-group bench
    # layout) — spread it; stage0's 16-byte projection keeps the plain scan
    d1 = load_spread(spark, sf_dir, "documents", "doc_id")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary"))
    wfp = W.partitionBy("f").orderBy("doc_id")
    # stage1 feeds three funnel branches plus both neardrop semi-joins;
    # without a fence Catalyst re-expands the whole subtree per consumer
    # (20 scans of documents measured at r6).  (doc_id, n_chars) is 16
    # bytes/row — materializing once beats five recomputes at any scale.
    # persist (r8, ADVICE r7): the InMemoryRelation is an analysis-time
    # optimizer fence like the old checkpoint, but construction stays
    # fully lazy and lost blocks recompute from lineage instead of
    # failing the job (see _ngram_jaccard_scored for the full rationale).
    stage1 = (
        d1.select("doc_id", "n_chars", fp.alias("f"))
        .withColumn("rn", F.row_number().over(wfp))
        .filter(F.col("rn") == 1)
        .select("doc_id", "n_chars")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # near-dup pairs from the ground-truth operator, which is itself
    # PPJoin prefix-filtered + exact-verified since r6
    # (dedup.prefix_filtered_candidates — lossless, all-pairs oracle)
    jac = dedup_ngram_jaccard(spark, sf_dir)
    s1a = stage1.select(F.col("doc_id").alias("doc_a"))
    s1b = stage1.select(F.col("doc_id").alias("doc_b"))
    # neardrop is the OUTPUT of the whole candidate+verify machinery and is
    # consumed by the stage2 AND stage3 funnel branches — truncating here is
    # what makes the expensive near-dedup run exactly once per action
    neardrop = (
        jac.join(s1a, "doc_a", "left_semi")
        .join(s1b, "doc_b", "left_semi")
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    stage2 = stage1.join(neardrop, "doc_id", "left_anti")
    stage3 = stage2.filter(F.col("n_chars").between(200, 5000))

    def funnel(df: DataFrame, name: str) -> DataFrame:
        return df.agg(
            F.lit(name).alias("stage"),
            F.count(F.lit(1)).alias("n_docs"),
            F.coalesce(F.sum("n_chars"), F.lit(0)).cast("bigint").alias("total_chars"),
        )

    return (
        funnel(stage0, "stage0_raw")
        .unionByName(funnel(stage1, "stage1_exact_dedup"))
        .unionByName(funnel(stage2, "stage2_near_dedup"))
        .unionByName(funnel(stage3, "stage3_quality"))
    )


@register(
    "curation_temperature_sampling",
    oracle="""
    WITH src AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ),
    wts AS (
      SELECT source, chars, pow(CAST(chars AS DOUBLE), 0.7) AS w FROM src
    ),
    tot AS (SELECT sum(w) AS tw, CAST(sum(chars) AS BIGINT) AS tc FROM wts),
    plan_t AS (
      SELECT source, chars,
             CAST(floor(w / tw * 1e6 + 0.5) AS BIGINT) AS mix_ppm,
             CAST(floor(least(w / tw * 0.5 * tc / chars, 1.0) * 1e6 + 0.5)
                  AS BIGINT) AS keep_ppm
      FROM wts CROSS JOIN tot
    ),
    kept AS (
      SELECT d.source, count(*) AS n_kept,
             CAST(sum(d.n_chars) AS BIGINT) AS chars_kept
      FROM documents d JOIN plan_t p ON p.source = d.source
      WHERE CAST('0x' || substr(md5('temp:' || CAST(d.doc_id AS VARCHAR)), 1, 5)
                 AS BIGINT) % 1000000 < p.keep_ppm
      GROUP BY d.source
    )
    SELECT p.source, p.chars, p.mix_ppm, p.keep_ppm,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(coalesce(k.chars_kept, 0) AS BIGINT) AS chars_kept
    FROM plan_t p LEFT JOIN kept k ON k.source = p.source
    """,
    doc="Temperature-based mixture sampling — the multi-source data "
    "recipe of the Llama/PaLM lineage: per-source sampling weight "
    "proportional to size^alpha (alpha=0.7 flattens the natural "
    "distribution so giant crawls stop drowning small high-quality "
    "sources), scaled to a 50% global character budget, capped at 1.0, "
    "then applied as a DETERMINISTIC per-document keep decision "
    "(md5(seed, doc_id) bucket < keep rate in exact ppm — reproducible "
    "across engines/reruns/cluster sizes, unlike rand()).  Output: the "
    "planned mixture and the realized per-source survival.  Scale: the "
    "plan is a 20-row broadcast; the keep pass is a narrow per-row "
    "filter at scan speed; one group-by for the realized counts.  "
    "Rates quantized to ppm BEFORE the compare on both sides.",
)
def curation_temperature_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(F.sum("n_chars").alias("chars"))
    wts = src.select("source", "chars", F.pow(F.col("chars").cast("double"), 0.7).alias("w"))
    tot = wts.agg(F.sum("w").alias("tw"), F.sum("chars").alias("tc"))
    plan = (
        wts.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "chars",
            F.floor(F.col("w") / F.col("tw") * 1e6 + 0.5).cast("bigint").alias("mix_ppm"),
            F.floor(
                F.least(
                    F.col("w") / F.col("tw") * 0.5 * F.col("tc") / F.col("chars"),
                    F.lit(1.0),
                )
                * 1e6
                + 0.5
            )
            .cast("bigint")
            .alias("keep_ppm"),
        )
        # 20-row plan table feeds the keep join AND the final report —
        # truncate so the aggregate chain is computed once
        .localCheckpoint()
    )
    bucket = (
        F.conv(F.substring(F.md5(F.concat(F.lit("temp:"), F.col("doc_id").cast("string"))), 1, 5), 16, 10)
        .cast("bigint")
        % 1000000
    )
    kept = (
        d.join(F.broadcast(plan.select("source", "keep_ppm")), "source")
        .filter(bucket < F.col("keep_ppm"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_kept"), F.sum("n_chars").alias("chars_kept"))
    )
    return (
        plan.join(kept, "source", "left_outer")
        .select(
            "source",
            "chars",
            "mix_ppm",
            "keep_ppm",
            F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
            F.coalesce("chars_kept", F.lit(0)).cast("bigint").alias("chars_kept"),
        )
    )


@register(
    "curation_dataset_card",
    oracle="""
    WITH docs AS (
      SELECT doc_id, lang, source, n_chars,
             len(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS n_tokens,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    )
    SELECT CAST(count(*) AS BIGINT)                   AS n_docs,
           CAST(count(DISTINCT source) AS BIGINT)     AS n_sources,
           CAST(count(DISTINCT lang) AS BIGINT)       AS n_langs,
           CAST(sum(n_chars) AS BIGINT)               AS total_chars,
           CAST(sum(n_tokens) AS BIGINT)              AS total_tokens,
           CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_exact_dup_docs,
           CAST(min(n_chars) AS BIGINT)               AS min_chars,
           CAST(max(n_chars) AS BIGINT)               AS max_chars,
           CAST(2 * median(n_chars) AS BIGINT)        AS median_chars_x2
    FROM docs
    """,
    doc="The DATASET CARD in one pass — the datasheet header every "
    "released training corpus ships (Datasheets for Datasets, Gebru et "
    "al.): document/source/language counts, exact character and "
    "whitespace-token volumes, the exact-duplicate count (rows minus "
    "distinct normalized fingerprints — dedup_exact's digest), and the "
    "length distribution's min/median/max (median in exact doubled "
    "units).  ONE aggregate over one scan computes every headline "
    "number — the point is that corpus-release reporting needs no "
    "pipeline, just this query on the final table.  At 100 TB the "
    "distinct counts swap to their sketch companions "
    "(agg_hll_sketch_rollup) with the same shape.",
)
def curation_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), " "), lambda w: w != "")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary"))
    docs = d.select(
        "lang", "source", "n_chars", F.size(toks).alias("n_tokens"), fp.alias("fp")
    )
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct("lang").alias("n_langs"),
        F.sum("n_chars").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("fp")).alias("n_exact_dup_docs"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
        (2 * F.median("n_chars")).cast("bigint").alias("median_chars_x2"),
    )


@register(
    "curation_sample_weights_export",
    oracle="""
    WITH fp AS (
      SELECT doc_id, source, n_chars,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS f
      FROM documents
    ),
    keepers AS (
      SELECT doc_id, source, n_chars,
             doc_id = min(doc_id) OVER (PARTITION BY f) AS is_keeper
      FROM fp
    ),
    srcw AS (
      SELECT source, CAST(sum(n_chars) AS BIGINT) AS chars FROM fp GROUP BY source
    ),
    tot AS (SELECT sum(pow(CAST(chars AS DOUBLE), 0.7)) AS tw FROM srcw),
    mix AS (
      SELECT source,
             CAST(floor(pow(CAST(chars AS DOUBLE), 0.7) / tw * 1e6 + 0.5)
                  AS BIGINT) AS mix_ppm
      FROM srcw CROSS JOIN tot
    )
    SELECT k.doc_id,
           CAST(CASE WHEN NOT k.is_keeper THEN 0
                WHEN k.n_chars BETWEEN 200 AND 5000 THEN m.mix_ppm * 2
                ELSE m.mix_ppm END AS BIGINT) AS weight_ppm2,
           k.is_keeper,
           k.n_chars BETWEEN 200 AND 5000 AS quality_pass
    FROM keepers k JOIN mix m ON m.source = k.source
    """,
    doc="The consolidated SAMPLE-WEIGHT table — the artifact a training "
    "loader actually consumes, folding every curation signal into one "
    "per-document weight: exact-dup non-keepers get 0 (dedup_exact's "
    "keeper rule), every survivor carries its source's temperature-"
    "scaled mixture rate (curation_temperature_sampling's size^0.7 "
    "ppm), and docs passing the quality band get a 2x boost.  "
    "Multiplicative composition in exact integer ppm — signals stay "
    "factored and auditable (is_keeper / quality_pass emitted "
    "alongside), and changing a policy regenerates weights without "
    "touching text.  One digest window + broadcast mix table; the "
    "weight table is what curation_epoch_shuffle then orders.",
)
def curation_sample_weights_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary"))
    base = d.select("doc_id", "source", "n_chars", fp.alias("f"))
    wk = W.partitionBy("f")
    keepers = base.select(
        "doc_id",
        "source",
        "n_chars",
        (F.col("doc_id") == F.min("doc_id").over(wk)).alias("is_keeper"),
    )
    srcw = base.groupBy("source").agg(F.sum("n_chars").alias("chars"))
    tot = srcw.agg(F.sum(F.pow(F.col("chars").cast("double"), 0.7)).alias("tw"))
    mix = srcw.crossJoin(F.broadcast(tot)).select(
        "source",
        F.floor(F.pow(F.col("chars").cast("double"), 0.7) / F.col("tw") * 1e6 + 0.5)
        .cast("bigint")
        .alias("mix_ppm"),
    )
    quality = F.col("n_chars").between(200, 5000)
    weight = (
        F.when(~F.col("is_keeper"), 0)
        .when(quality, F.col("mix_ppm") * 2)
        .otherwise(F.col("mix_ppm"))
    )
    return keepers.join(F.broadcast(mix), "source").select(
        "doc_id",
        weight.cast("bigint").alias("weight_ppm2"),
        "is_keeper",
        quality.alias("quality_pass"),
    )


_SPLIT_TEST_BUCKETS = 26  # of 256 -> ~10.2% test fraction


@register(
    "curation_leakage_safe_split",
    oracle=f"""
    WITH docs AS (
      SELECT doc_id,
             md5(substr(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')),
                        1, 32)) AS fp
      FROM documents
    ),
    assigned AS (
      SELECT doc_id, fp,
             CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 2)
                       AS INTEGER) < {_SPLIT_TEST_BUCKETS}
                  THEN 'test' ELSE 'train' END AS split_naive,
             CASE WHEN CAST('0x' || substr(md5(fp), 1, 2)
                       AS INTEGER) < {_SPLIT_TEST_BUCKETS}
                  THEN 'test' ELSE 'train' END AS split_safe
      FROM docs
    )
    SELECT doc_id, fp,
           CAST(count(*) OVER c AS BIGINT) AS cluster_size,
           split_naive, split_safe,
           max(split_naive) OVER c <> min(split_naive) OVER c AS naive_leak
    FROM assigned
    WINDOW c AS (PARTITION BY fp)
    """,
    doc="LEAKAGE-SAFE train/test split — the contamination guard a "
    "training-data pipeline needs before any evaluation: documents that "
    "are near-duplicates of each other must never straddle the split, or "
    "the test set leaks into training.  Cluster key = md5 of the first 32 "
    "normalized chars (the cheap prefix/boilerplate dedup key; at scale "
    "the same shape runs on MinHash connected-component representatives, "
    "see dedup_connected_components).  The NAIVE split hashes doc_id — "
    "and the naive_leak column proves per cluster whether it tears "
    "duplicates apart (max!=min of the assigned side over the cluster "
    "window); the SAFE split hashes the cluster fingerprint itself, so "
    "every member lands on one side BY CONSTRUCTION — same hash, same "
    "side, no coordination needed.  Both assignments are pure md5-bucket "
    "arithmetic (first byte < 26/256 ~ 10.2% test), deterministic and "
    "engine-portable.  Scale: one digest-keyed exchange for the cluster "
    "window (the canonical dedup shuffle); the split decision itself is "
    "a narrow scan-speed expression — no global state, no sampling "
    "coordination, reproducible across reruns and engines.",
)
def curation_leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.substring(
            F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")), 1, 32
        ).cast("binary")
    )

    def bucket(col):
        return F.conv(F.substring(F.md5(col), 1, 2), 16, 10).cast("int")

    split_of = lambda col: F.when(  # noqa: E731
        bucket(col) < _SPLIT_TEST_BUCKETS, "test"
    ).otherwise("train")
    assigned = d.select(
        "doc_id",
        fp.alias("fp"),
    ).select(
        "doc_id",
        "fp",
        split_of(F.col("doc_id").cast("string").cast("binary")).alias("split_naive"),
        split_of(F.col("fp").cast("binary")).alias("split_safe"),
    )
    c = W.partitionBy("fp")
    return assigned.select(
        "doc_id",
        "fp",
        F.count(F.lit(1)).over(c).alias("cluster_size"),
        "split_naive",
        "split_safe",
        (F.max("split_naive").over(c) != F.min("split_naive").over(c)).alias(
            "naive_leak"
        ),
    )


_RES_K = 40
_RES_M = float(16**12)  # 2^48 — md5 12-hex draw space, power of two


@register(
    "curation_weighted_reservoir",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source,
             least(3, n_chars // 500) AS tier,
             CAST(CAST('0x' || substr(md5('res:' || CAST(doc_id AS VARCHAR)), 1, 12)
                       AS UBIGINT) AS DOUBLE) / {_RES_M} AS u
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, CAST(tier AS BIGINT) AS tier,
             CASE tier WHEN 0 THEN u
                       WHEN 1 THEN sqrt(u)
                       WHEN 2 THEN sqrt(sqrt(u))
                       ELSE sqrt(sqrt(sqrt(u))) END AS k
      FROM d
    )
    SELECT source, CAST(rnk AS BIGINT) AS rnk, doc_id, tier FROM (
      SELECT source, doc_id, tier,
             row_number() OVER (PARTITION BY source ORDER BY k DESC, doc_id) AS rnk
      FROM keyed
    ) WHERE rnk <= {_RES_K}
    """,
    doc="WEIGHTED RESERVOIR SAMPLE (Efraimidis-Spirakis A-ES) — k="
    f"{_RES_K} docs per source, sampled without replacement with "
    "probability proportional to a length-tier weight, in ONE pass: "
    "each doc draws u from md5 and keeps key u^(1/w); the top-k keys "
    "per stratum ARE the weighted sample.  The trick that makes this "
    "EXACTLY oracle-checkable: weights are powers of two (tier 0-3 -> "
    "w in 1,2,4,8), so u^(1/w) is a chain of sqrt calls — IEEE 754 "
    "requires sqrt be correctly rounded, so keys are bit-identical "
    "across Spark and DuckDB where a pow()/exp(ln(u)/w) key would hang "
    "selection on libm parity; u itself divides by 2^48, also exact.  "
    "Complements curation_quality_sample (Bernoulli by hash threshold) "
    "and curation_importance_resampling (DSIR): this is the "
    "fixed-BUDGET weighted variant loaders use for per-source caps.  "
    "Scale: keys are codegen expressions; top-k per stratum is a "
    "rank-filtered window (map-side partial top-k), shuffling only "
    "(source, key) — one pass, no global sort, no driver state.",
)
def curation_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("res:"), F.col("doc_id").cast("string")).cast("binary")),
            1,
            12,
        ),
        16,
        10,
    ).cast("double") / F.lit(_RES_M)
    tier = F.least(F.lit(3), (F.col("n_chars") / 500).cast("bigint")).alias("tier")
    keyed = docs.select(
        "doc_id",
        "source",
        tier,
        F.when(F.col("tier") == 0, u)
        .when(F.col("tier") == 1, F.sqrt(u))
        .when(F.col("tier") == 2, F.sqrt(F.sqrt(u)))
        .otherwise(F.sqrt(F.sqrt(F.sqrt(u))))
        .alias("k"),
    )
    w = W.partitionBy("source").orderBy(F.col("k").desc(), "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _RES_K)
        .select("source", F.col("rnk").cast("bigint").alias("rnk"), "doc_id", "tier")
    )


_KFOLDS = 5


@register(
    "curation_kfold_split",
    oracle=f"""
    SELECT doc_id, source,
           -- NULL doc_id hashes to a NULL digest: placed FIRST in the
           -- deal order (Spark ASC default, stated)
           CAST(ntile({_KFOLDS}) OVER (
             PARTITION BY source
             ORDER BY md5('cv:' || CAST(doc_id AS VARCHAR)) NULLS FIRST
           ) AS BIGINT) AS fold
    FROM documents
    """,
    doc=f"STRATIFIED K-FOLD ASSIGNMENT (k={_KFOLDS}) — deterministic CV "
    "folds with EXACT per-stratum balance: within each source, docs are "
    "ordered by a salted md5 of their id (a uniform shuffle that is "
    "stable across runs, engines, and partitionings — never rand(), "
    "which is seed/partitioning-dependent) and dealt by ntile, whose "
    "rank arithmetic guarantees fold sizes differ by at most one.  "
    "Hash-threshold splits (curation_quality_sample's Bernoulli trick) "
    "only hit proportions in expectation; evaluation folds need them "
    "exact.  Complements curation_leakage_safe_split: that one decides "
    "WHICH units must stay together (near-dup clusters), this one "
    "deals balanced folds — production CV composes the two (cluster "
    "first, deal clusters).  Scale: one exchange on the stratum key; "
    "the per-stratum sort is by an 32-char digest, bounded by the "
    "largest stratum — at 100 TB the same deal works per-partition "
    "after a range repartition on (source, digest).",
)
def curation_kfold_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source")
    key = F.md5(F.concat(F.lit("cv:"), F.col("doc_id").cast("string")).cast("binary"))
    return docs.select(
        "doc_id",
        "source",
        F.ntile(_KFOLDS)
        .over(W.partitionBy("source").orderBy(F.asc_nulls_first(key)))
        .cast("bigint")
        .alias("fold"),
    )


@register(
    "curation_winsorize_clip",
    oracle="""
    WITH ranked AS (
      SELECT source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS rn,
             count(*)    OVER (PARTITION BY source)                           AS n
      FROM documents
    ),
    cuts AS (
      SELECT source,
             max(CASE WHEN rn = (5 * n + 99) // 100   THEN n_chars END) AS p05,
             max(CASE WHEN rn = (95 * n + 99) // 100  THEN n_chars END) AS p95
      FROM ranked GROUP BY source
    )
    SELECT d.source,
           CAST(count(*) AS BIGINT)       AS n_docs,
           c.p05, c.p95,
           CAST(sum(n_chars) AS BIGINT)   AS sum_raw,
           CAST(sum(least(greatest(n_chars, c.p05), c.p95)) AS BIGINT) AS sum_clipped,
           CAST(count(CASE WHEN n_chars < c.p05 OR n_chars > c.p95 THEN 1 END)
                AS BIGINT)                AS n_clipped
    FROM documents d JOIN cuts c ON c.source = d.source
    GROUP BY d.source, c.p05, c.p95
    """,
    doc="WINSORIZED CLIPPING per source — the outlier treatment robust "
    "pipelines apply before computing budgets or means: nearest-rank "
    "p05/p95 thresholds per stratum (integer rank arithmetic, unique-"
    "key tiebreak — same discipline as agg_percentile_exact_grouped), "
    "then clamp values into [p05, p95] and report raw vs clipped sums "
    "and the clip count.  Winsorizing beats dropping (ts_outlier_mad "
    "flags, this REPAIRS) when downstream needs every row, e.g. token "
    "budgeting over documents where one 10x-length outlier would skew "
    "a source's share of the training mix.  Scale: one ranking window "
    "per stratum feeding a broadcast threshold join back onto the "
    "table — two passes, both partitioned by source, all integer.",
)
def curation_winsorize_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    wp = W.partitionBy("source")
    ranked = docs.select(
        "source",
        "n_chars",
        F.row_number().over(wp.orderBy("n_chars", "doc_id")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )
    cuts = ranked.groupBy("source").agg(
        F.max(F.when(F.expr("rn = (5 * n + 99) div 100"), F.col("n_chars"))).alias("p05"),
        F.max(F.when(F.expr("rn = (95 * n + 99) div 100"), F.col("n_chars"))).alias("p95"),
    )
    clipped = F.least(F.greatest(F.col("n_chars"), F.col("p05")), F.col("p95"))
    return (
        docs.join(F.broadcast(cuts), "source")
        .groupBy("source", "p05", "p95")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_raw"),
            F.sum(clipped).alias("sum_clipped"),
            F.count(
                F.when((F.col("n_chars") < F.col("p05")) | (F.col("n_chars") > F.col("p95")), 1)
            ).alias("n_clipped"),
        )
        .select("source", "n_docs", "p05", "p95", "sum_raw", "sum_clipped", "n_clipped")
    )


_CAL_BUCKETS = 2048  # must match text._CLS_BUCKETS


@register(
    "curation_calibration_curve",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len(string_split(lower(text), ' ')) AS n_tokens,
             CAST(list_sum(list_transform(
                 string_split(lower(text), ' '),
                 t -> (CAST('0x' || substr(md5(t), 1, 4) AS INTEGER)
                       % {_CAL_BUCKETS}) % 13 - 6)) AS BIGINT) AS score
      FROM documents WHERE length(text) > 0
    ),
    binned AS (
      SELECT CAST(ntile(10) OVER (ORDER BY (score * 10000) // n_tokens, doc_id)
                  AS BIGINT) AS bin,
             (score * 10000) // n_tokens AS mw,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
      FROM scored
    )
    SELECT bin,
           CAST(count(*) AS BIGINT)                       AS n,
           CAST(min(mw) AS BIGINT)                        AS score_lo_x1e4,
           CAST(max(mw) AS BIGINT)                        AS score_hi_x1e4,
           CAST(sum(pos) AS BIGINT)                       AS n_pos,
           CAST(sum(pos) * 1000000 // count(*) AS BIGINT) AS pos_rate_ppm
    FROM binned GROUP BY bin
    """,
    doc="CLASSIFIER CALIBRATION CURVE (reliability diagram) for the "
    "hashed quality classifier: score deciles (equi-depth, unique-key "
    "tiebreak) vs the OBSERVED positive rate in each decile — the "
    "diagnostic that separates 'ranks well' (monotone curve) from "
    "'probabilities mean something' (curve near the diagonal), which "
    "decides whether a curation pipeline can threshold the classifier "
    "directly or must recalibrate first.  Proxy label = lang='en' "
    "(deterministic); scores are the text_hashed_classifier_score "
    "per-token-mean in exact 1e-4 units.  All integer: decile "
    "boundaries by rank, rates in exact ppm.  Scale: score is codegen "
    "per-row (no vocabulary); deciles come from scale.distributed_ntile "
    "(range-partitioned exact global rank — no unpartitioned WindowExec "
    "over the corpus); everything after is a bounded 10-row aggregate.",
)
def curation_calibration_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.length("text") > 0)
    score = F.expr(
        f"""CAST(aggregate(transform(split(lower(text), ' '),
              t -> (CAST(conv(substr(md5(CAST(t AS BINARY)), 1, 4), 16, 10) AS INT)
                    % {_CAL_BUCKETS}) % 13 - 6),
            0L, (acc, x) -> acc + x) AS BIGINT)"""
    )
    scored = d.select(
        "doc_id",
        "lang",
        F.size(F.split(F.lower("text"), " ")).alias("n_tokens"),
        score.alias("score"),
    )
    from .scale import distributed_ntile

    pre = scored.select(
        "doc_id",
        F.expr("(score * 10000) div n_tokens").alias("mw"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("pos"),
    )
    binned = distributed_ntile(pre, 10, ["mw", "doc_id"], out_col="bin").select(
        "bin", "mw", "pos"
    )
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("mw").alias("score_lo_x1e4"),
        F.max("mw").alias("score_hi_x1e4"),
        F.sum("pos").alias("n_pos"),
        F.expr("sum(pos) * 1000000 div count(*)").alias("pos_rate_ppm"),
    )


@register(
    "curation_span_corruption",
    oracle="""
    WITH tok AS (
      SELECT doc_id, t.i AS pos, string_split(lower(text), ' ')[t.i] AS w,
             len(string_split(lower(text), ' ')) AS n
      FROM documents,
           LATERAL (SELECT unnest(range(1, len(string_split(lower(text), ' ')) + 1)) AS i) t
      WHERE doc_id % 5 = 0
    ),
    starts AS (
      SELECT doc_id, pos,
             pos % 5 = 1 AND pos + 2 <= n
               AND CAST('0x' || substr(md5('mask:' || CAST(doc_id AS VARCHAR)
                                           || ':' || CAST(pos AS VARCHAR)), 1, 4)
                        AS INTEGER) % 4 = 0 AS is_start
      FROM tok
    ),
    marked AS (
      SELECT t.doc_id, t.pos, t.w,
             coalesce(s1.is_start, FALSE) AS m0,
             coalesce(s2.is_start, FALSE) AS m1,
             coalesce(s3.is_start, FALSE) AS m2
      FROM tok t
      LEFT JOIN starts s1 ON s1.doc_id = t.doc_id AND s1.pos = t.pos
      LEFT JOIN starts s2 ON s2.doc_id = t.doc_id AND s2.pos = t.pos - 1
      LEFT JOIN starts s3 ON s3.doc_id = t.doc_id AND s3.pos = t.pos - 2
    ),
    seq AS (
      SELECT doc_id, pos, w, m0, (m0 OR m1 OR m2) AS masked,
             sum(CASE WHEN m0 THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING)
               AS span_id
      FROM marked
    )
    SELECT doc_id,
           string_agg(CASE WHEN m0 THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '>'
                           WHEN masked THEN NULL ELSE w END, ' ' ORDER BY pos)
             AS input_str,
           coalesce(string_agg(CASE WHEN m0 THEN '<extra_id_' || CAST(span_id - 1 AS VARCHAR) || '> ' || w
                           WHEN masked THEN w ELSE NULL END, ' ' ORDER BY pos), '')
             AS target_str,
           CAST(max(span_id) AS BIGINT) AS n_spans
    FROM seq GROUP BY doc_id
    """,
    doc="SPAN-CORRUPTION PAIR GENERATION (the T5/UL2 denoising "
    "objective): ~1/4 of eligible anchor positions (every 5th token, "
    "hash-seeded) start a 3-token mask; the INPUT replaces each span "
    "with a numbered <extra_id_k> sentinel, the TARGET lists each "
    "sentinel followed by the tokens it hid — the exact pair format "
    "seq2seq pretraining consumes.  Anchor spacing (5) exceeds span "
    "length (3), so spans can never overlap and masking stays a LOCAL "
    "window decision — what makes the transform embarrassingly "
    "parallel AND exactly SQL-replicable (the same locality trick as "
    "text_cdc_chunk_dedup's boundaries).  Sentinel numbering is a "
    "prefix sum of span starts; ordered string_agg with NULL-skipping "
    "assembles both sides on both engines.  Every 5th doc sampled.  "
    "Scale: tokenize-explode, three self-aligned lookups (expressed as "
    "window lags at scale), one doc-keyed ordered agg — no Python, no "
    "vocabulary, no state.",
)
def curation_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") % 5 == 0).select(
        "doc_id", "text"
    )
    tok = docs.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("pos0", "w"),
        F.size(F.split(F.lower("text"), " ")).alias("n"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w", "n")
    is_start = (
        (F.col("pos") % 5 == 1)
        & (F.col("pos") + 2 <= F.col("n"))
        & (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("mask:"),
                            F.col("doc_id").cast("string"),
                            F.lit(":"),
                            F.col("pos").cast("string"),
                        ).cast("binary")
                    ),
                    1,
                    4,
                ),
                16,
                10,
            ).cast("int")
            % 4
            == 0
        )
    )
    w = W.partitionBy("doc_id").orderBy("pos")
    seq = tok.select(
        "doc_id",
        "pos",
        "w",
        is_start.alias("m0"),
    ).select(
        "doc_id",
        "pos",
        "w",
        "m0",
        (F.col("m0") | F.lag("m0", 1, False).over(w) | F.lag("m0", 2, False).over(w)).alias(
            "masked"
        ),
        F.sum(F.col("m0").cast("int")).over(w.rowsBetween(W.unboundedPreceding, 0)).alias(
            "span_id"
        ),
    )
    sentinel = F.concat(F.lit("<extra_id_"), (F.col("span_id") - 1).cast("string"), F.lit(">"))
    pieces = seq.select(
        "doc_id",
        "pos",
        F.when(F.col("m0"), sentinel).when(F.col("masked"), None).otherwise(F.col("w")).alias("inp"),
        F.when(F.col("m0"), F.concat(sentinel, F.lit(" "), F.col("w")))
        .when(F.col("masked"), F.col("w"))
        .otherwise(None)
        .alias("tgt"),
        "span_id",
    )
    agg = pieces.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("pos", "inp"))).alias("ai"),
        F.array_sort(F.collect_list(F.struct("pos", "tgt"))).alias("at"),
        F.max("span_id").cast("bigint").alias("n_spans"),
    )
    join_nn = lambda arr, field: F.array_join(  # noqa: E731
        F.filter(F.transform(arr, lambda s: s[field]), lambda x: x.isNotNull()), " "
    )
    return agg.select(
        "doc_id",
        join_nn(F.col("ai"), "inp").alias("input_str"),
        join_nn(F.col("at"), "tgt").alias("target_str"),
        "n_spans",
    )
