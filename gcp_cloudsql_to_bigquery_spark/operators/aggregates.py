"""Aggregation operators: multi-agg groupBy, HAVING, count-distinct (exact +
approximate), grouping sets / rollup / cube, percentiles, pivot.

All delegated capability in the reference (SURVEY.md §2B "Aggregations");
the reference's only aggregate is the post-load row count
(``/root/reference/app/bq-importer/main.py:41-43``).

Scale notes: every groupBy here compiles to hash aggregation with map-side
partial aggregation (one shuffle of the *partial* state, not the rows);
``approx_count_distinct`` is the 100 TB path for cardinality (HLL sketch,
constant memory) with the exact ``count_distinct`` kept for oracle parity.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


@register(
    "agg_multi_stats",
    oracle="""
    SELECT c_nationkey,
           count(*)                      AS n_cust,
           round(sum(c_acctbal), 2)      AS sum_bal,
           round(avg(c_acctbal), 4)      AS avg_bal,
           round(min(c_acctbal), 2)      AS min_bal,
           round(max(c_acctbal), 2)      AS max_bal,
           count(DISTINCT c_mktsegment)  AS n_segments
    FROM customer
    GROUP BY c_nationkey
    """,
    doc="Multi-aggregate groupBy: count/sum/avg/min/max/count-distinct in one pass.",
)
def agg_multi_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "customer")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("sum_bal"),
            F.round(F.avg("c_acctbal"), 4).alias("avg_bal"),
            F.round(F.min("c_acctbal"), 2).alias("min_bal"),
            F.round(F.max("c_acctbal"), 2).alias("max_bal"),
            F.countDistinct("c_mktsegment").alias("n_segments"),
        )
    )


@register(
    "agg_having",
    oracle="""
    SELECT o_custkey, count(*) AS n_orders, round(sum(o_totalprice), 2) AS spend
    FROM orders
    GROUP BY o_custkey
    HAVING count(*) >= 12
    """,
    doc="GROUP BY + HAVING (post-aggregation filter).",
)
def agg_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("spend"),
        )
        .filter(F.col("n_orders") >= 12)
    )


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           grouping(l_returnflag) AS g_rf, grouping(l_linestatus) AS g_ls,
           count(*) AS n, round(sum(l_quantity), 2) AS qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP hierarchy with GROUPING() markers distinguishing NULL-key from rolled-up.",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").alias("g_rf"),
            F.grouping("l_linestatus").alias("g_ls"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
    )


@register(
    "agg_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           grouping(o_orderstatus) AS g_st, grouping(o_orderpriority) AS g_pr,
           count(*) AS n, round(avg(o_totalprice), 4) AS avg_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE: all grouping-set combinations in one shuffle (Expand + hash-agg).",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.grouping("o_orderstatus").alias("g_st"),
            F.grouping("o_orderpriority").alias("g_pr"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.avg("o_totalprice"), 4).alias("avg_price"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus, count(*) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """,
    doc="Explicit GROUPING SETS via the SQL API (Catalyst Expand, same plan shape as cube).",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    load(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus, count(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


@register(
    "agg_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey)  AS n_supp,
           count(DISTINCT l_partkey)  AS n_part,
           count(*)                   AS n_rows
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Exact multi-column COUNT DISTINCT (Expand-based; the exact path).",
)
def agg_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_suppkey").alias("n_supp"),
            F.countDistinct("l_partkey").alias("n_part"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


@register(
    "agg_approx_count_distinct",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_partkey)  AS exact_parts,
           count(DISTINCT l_orderkey) AS exact_orders,
           TRUE AS parts_within_15pct, TRUE AS orders_within_15pct
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="approx_count_distinct (HyperLogLog++): the constant-memory 100 TB "
    "cardinality path.  Sketch estimates are engine-specific, so the query "
    "AUDITS ITSELF: it emits the exact distinct counts (which DuckDB "
    "states) plus booleans asserting each estimate is within 15%% of exact "
    "— 3x the requested 5%% rsd, so a healthy sketch always passes and a "
    "broken merge/estimator flips the hashed boolean.",
)
def agg_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_partkey", rsd=0.05).alias("approx_parts"),
            F.approx_count_distinct("l_orderkey", rsd=0.05).alias("approx_orders"),
            F.countDistinct("l_partkey").alias("exact_parts"),
            F.countDistinct("l_orderkey").alias("exact_orders"),
        )
    )
    return g.select(
        "l_returnflag",
        "exact_parts",
        "exact_orders",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            <= 0.15 * F.col("exact_parts")
        ).alias("parts_within_15pct"),
        (
            F.abs(F.col("approx_orders") - F.col("exact_orders"))
            <= 0.15 * F.col("exact_orders")
        ).alias("orders_within_15pct"),
    )


@register(
    "agg_percentiles",
    oracle="""
    SELECT o_orderpriority,
           round(quantile_cont(o_totalprice, 0.5), 4)  AS p50,
           round(quantile_cont(o_totalprice, 0.9), 4)  AS p90,
           round(min(o_totalprice), 2)                 AS lo,
           round(max(o_totalprice), 2)                 AS hi
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Exact continuous percentiles (Spark `percentile` ≡ DuckDB quantile_cont); "
    "percentile_approx is the sketch path at scale (tested separately).",
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        load(spark, sf_dir, "orders")
        .groupBy("o_orderpriority")
        .agg(
            F.round(F.percentile("o_totalprice", F.lit(0.5)), 4).alias("p50"),
            F.round(F.percentile("o_totalprice", F.lit(0.9)), 4).alias("p90"),
            F.round(F.min("o_totalprice"), 2).alias("lo"),
            F.round(F.max("o_totalprice"), 2).alias("hi"),
        )
    )


@register(
    "agg_pivot",
    oracle="""
    SELECT l_returnflag,
           round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O,
           round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="PIVOT with an explicit value list (never let pivot infer values at "
    "scale — that is an extra pass over 100 TB).",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    df = (
        load(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )
    return df.select("l_returnflag", F.round("O", 2).alias("O"), F.round("F", 2).alias("F"))


@register(
    "agg_hll_sketch_rollup",
    oracle="""
    SELECT n.n_regionkey, count(DISTINCT c.c_custkey) AS exact_customers,
           TRUE AS hll_within_5pct
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
    doc="Mergeable-sketch rollup (DataSketches HLL): per-nation customer "
    "sketches built in one pass, then UNIONED up to region level with "
    "hll_union_agg — re-aggregation without touching the base table again. "
    "This is THE 100 TB distinct-count pattern: partial sketches are tiny, "
    "commutative, and shuffle-friendly (bytes per group, not keys per row), "
    "and a stored sketch answers every coarser-grained rollup later.  The "
    "raw estimate is implementation-defined, so the query AUDITS ITSELF: "
    "it joins the sketch estimate against the bitmap-exact rollup "
    "(agg_bitmap_distinct_rollup — two mergeable rollups, one lossy, one "
    "lossless) and emits (exact count, estimate-within-5%% boolean), both "
    "of which the DuckDB oracle states exactly.  An HLL drift beyond the "
    "rsd envelope (default lgK=12 → ~1.6%%) flips the boolean and fails "
    "the value hash.",
)
def agg_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    per_nation = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_regionkey", "n_nationkey")
        .agg(F.hll_sketch_agg("c_custkey").alias("sk"))
    )
    hll = per_nation.groupBy("n_regionkey").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est")
    )
    exact = agg_bitmap_distinct_rollup(spark, sf_dir)
    return exact.join(hll, "n_regionkey").select(
        "n_regionkey",
        "exact_customers",
        (
            F.abs(F.col("est") - F.col("exact_customers"))
            <= 0.05 * F.col("exact_customers")
        ).alias("hll_within_5pct"),
    )


@register(
    "agg_incremental_maintenance",
    oracle="""
    SELECT o_orderpriority, count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Incremental aggregate maintenance, oracle-proven equal to a full "
    "recompute: the 'stored' rollup (orders before 1999) and the 'delta' "
    "batch (1999 onward) are aggregated separately into mergeable partial "
    "states (count, sum) and combined by re-aggregating the union of "
    "partials — never re-reading the historical fact.  This is the nightly-"
    "refresh pattern at 100 TB: the delta scan is incremental, the merge is "
    "group-count-sized, and any algebraic aggregate (sum/count/min/max, "
    "avg = sum/count) maintains this way; sketches (HLL, KLL) extend it to "
    "distinct/quantile.",
)
def agg_incremental_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    cutoff = F.lit("1999-01-01 00:00:00").cast("timestamp")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("pn"), F.sum("o_totalprice").alias("psum")
        )

    # the split must be EXHAUSTIVE: a NULL order date satisfies neither
    # inequality and would silently vanish from the maintained rollup —
    # route null-dated rows into the delta batch (null-KEYS tier find;
    # the oracle is the full recompute, which never loses them)
    stored = partial(o.filter(F.col("o_orderdate") < cutoff))
    delta = partial(
        o.filter((F.col("o_orderdate") >= cutoff) | F.col("o_orderdate").isNull())
    )
    return (
        stored.unionByName(delta)
        .groupBy("o_orderpriority")
        .agg(F.sum("pn").alias("n"), F.round(F.sum("psum"), 2).alias("total"))
    )


@register(
    "agg_bitmap_distinct_rollup",
    oracle="""
    SELECT n.n_regionkey, count(DISTINCT c.c_custkey) AS exact_customers
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_regionkey
    """,
    doc="EXACT distinct-count rollup via bitmap segments — the precise "
    "sibling of agg_hll_sketch_rollup, fully oracle-checkable because "
    "bitmaps lose nothing.  Keys are bucketed into fixed 32k-bit segments "
    "(bitmap_bucket_number / bitmap_bit_position), each (nation, bucket) "
    "group folds its keys into one bitmap (bitmap_construct_agg), and the "
    "region level re-aggregates by OR-merging the stored bitmaps "
    "(bitmap_or_agg) — never touching the base table again.  At 100 TB: "
    "the shuffle carries (group, bucket, 4 KB bitmap) rows instead of raw "
    "keys, re-aggregation to any coarser grain is bitmap OR, and for dense "
    "integer key domains this beats both exact count-distinct (no key "
    "shuffle) and HLL (no error) — the OLAP bitmap-index pattern.",
)
def agg_bitmap_distinct_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    per_nation_seg = (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy(
            "n_regionkey",
            "n_nationkey",
            F.expr("bitmap_bucket_number(c_custkey)").alias("seg"),
        )
        .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(c_custkey))").alias("bm"))
    )
    region_seg = per_nation_seg.groupBy("n_regionkey", "seg").agg(
        F.expr("bitmap_or_agg(bm)").alias("bm")
    )
    return region_seg.groupBy("n_regionkey").agg(
        F.sum(F.expr("bitmap_count(bm)")).alias("exact_customers")
    )


# Misra-Gries summary size.  Deliberately SMALLER than the per-partition
# distinct-key count (~2000 l_partkey values per 7.5k-row partition at
# sf0.01) so the eviction path genuinely runs; the exact verify pass makes
# the final answer partition-count-invariant anyway.
_MG_K = 1500


@register(
    "agg_heavy_hitters_mg",
    oracle=f"""
    -- NULL is not a trackable item: value_counts drops NaN and a semi
    -- join can't match it — frequency analysis is over REAL keys, stated
    SELECT l_partkey, count(*) AS cnt
    FROM lineitem
    WHERE l_partkey IS NOT NULL
    GROUP BY l_partkey
    HAVING count(*) > (SELECT count(*) FROM lineitem
                       WHERE l_partkey IS NOT NULL) / {_MG_K}.0
    """,
    doc="Frequent-items via a Misra-Gries sketch + exact verify pass, "
    "oracle-proven equal to the brute-force GROUP BY ... HAVING cnt > n/k. "
    "Pass 1 keeps at most k counters per partition (mergeable MG summaries: "
    "fold each Arrow batch's value_counts into the summary, then subtract "
    "the (k+1)-th largest count when over k — the standard merge that "
    "preserves the deterministic superset guarantee: any key with global "
    "frequency > n/k exceeds n_p/k in at least one partition by pigeonhole, "
    "so it survives that partition's summary).  Pass 2 re-counts ONLY the "
    "candidate keys (broadcast semi join — no shuffle of the fact) and "
    "filters by the exact threshold.  At 100 TB: candidate set is <= "
    "k x partitions rows (metadata-sized), the fact is scanned twice but "
    "never shuffled on the raw key, and the final group-agg runs on the "
    "candidate-filtered slice only.  The brute-force alternative shuffles "
    "all N rows' partial counts for a result of ~60 keys.",
)
def agg_heavy_hitters_mg(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL key excluded on both sides (null-KEYS contract; oracle WHERE)
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_partkey").isNotNull())
        .select("l_partkey")
    )

    def mg_candidates(batches):
        import pandas as pd

        counters: dict[int, int] = {}
        for pdf in batches:
            for key, c in pdf["l_partkey"].value_counts().items():
                counters[key] = counters.get(key, 0) + int(c)
            if len(counters) > _MG_K:
                cut = sorted(counters.values(), reverse=True)[_MG_K]
                counters = {k: v - cut for k, v in counters.items() if v > cut}
        yield pd.DataFrame({"l_partkey": list(counters.keys())})

    cand = li.mapInPandas(mg_candidates, schema="l_partkey bigint").distinct()
    tot = li.agg(F.count(F.lit(1)).alias("n"))
    return (
        li.join(F.broadcast(cand), "l_partkey", "leftsemi")
        .groupBy("l_partkey")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("cnt") > F.col("n") / float(_MG_K))
        .select("l_partkey", "cnt")
    )


@register(
    "agg_stats_regression",
    oracle="""
    SELECT l_returnflag,
           CAST(floor(median(l_extendedprice) * 1e4 + 0.5) AS BIGINT)                     AS med_price_x1e4,
           CAST(floor(corr(l_extendedprice, l_quantity) * 1e6 + 0.5) AS BIGINT)           AS corr_x1e6,
           CAST(floor(covar_samp(l_extendedprice, l_quantity) * 1e4 + 0.5) AS BIGINT)     AS covar_x1e4,
           CAST(floor(stddev_samp(l_extendedprice) * 1e4 + 0.5) AS BIGINT)                AS sd_x1e4,
           CAST(floor(regr_slope(l_extendedprice, l_quantity) * 1e6 + 0.5) AS BIGINT)     AS slope_x1e6,
           CAST(floor(regr_intercept(l_extendedprice, l_quantity) * 1e4 + 0.5) AS BIGINT) AS intercept_x1e4,
           CAST(floor(regr_r2(l_extendedprice, l_quantity) * 1e6 + 0.5) AS BIGINT)        AS r2_x1e6,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT)                        AS n_pairs
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Statistical aggregate suite — median, Pearson correlation, sample "
    "covariance/stddev, and the regr_* OLS family (slope/intercept/R²/count) "
    "per group in ONE hash-aggregate pass.  Every one of these is "
    "algebraically mergeable (sum/sum-of-squares/cross-moment partials), so "
    "the shuffle carries O(groups) moment tuples, never rows — the same "
    "100 TB shape as sum/count.  median is the exception (exact quantile "
    "needs the values) — Spark runs it as a sort-based aggregate here; at "
    "scale you swap in percentile_approx (see agg_percentile_approx).",
)
def agg_stats_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    def fx(col, k):
        return F.floor(col * k + 0.5).cast("bigint")

    # fixed-point outputs (floor(x*K+0.5)), NOT round(): these moments are
    # summation-order-dependent across engines, and the repo's micro-quant
    # discipline keeps ulp noise (~1e-12 relative) far from the 10^-K
    # boundary where Spark-HALF_UP and DuckDB binary round() can split
    return li.groupBy("l_returnflag").agg(
        fx(F.median("l_extendedprice"), 1e4).alias("med_price_x1e4"),
        fx(F.corr("l_extendedprice", "l_quantity"), 1e6).alias("corr_x1e6"),
        fx(F.covar_samp("l_extendedprice", "l_quantity"), 1e4).alias("covar_x1e4"),
        fx(F.stddev_samp("l_extendedprice"), 1e4).alias("sd_x1e4"),
        fx(F.regr_slope("l_extendedprice", "l_quantity"), 1e6).alias("slope_x1e6"),
        fx(F.regr_intercept("l_extendedprice", "l_quantity"), 1e4).alias("intercept_x1e4"),
        fx(F.regr_r2("l_extendedprice", "l_quantity"), 1e6).alias("r2_x1e6"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n_pairs"),
    )


@register(
    "agg_boolean_filter_family",
    oracle="""
    SELECT o_orderpriority,
           bool_and(o_totalprice > 1000)                       AS all_over_1k,
           bool_or(o_totalprice > 400000)                      AS any_over_400k,
           count(*) FILTER (o_orderstatus = 'F')               AS n_finished,
           CAST(count(CASE WHEN o_totalprice > 200000 THEN 1 END) AS BIGINT) AS n_big,
           round(avg(o_totalprice) FILTER (o_orderstatus = 'O'), 4) AS avg_open
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="Boolean/conditional aggregate family: bool_and / bool_or (SQL "
    "every/any), FILTER-clause aggregates (per-aggregate predicates "
    "without self-joins or CASE pyramids), and the count-CASE idiom they "
    "replace, side by side.  All single-word mergeable states — one "
    "partial-agg shuffle regardless of how many conditions ride along; "
    "the FILTER form is how a 100 TB audit computes N conditional "
    "metrics in ONE pass instead of N scans.",
)
def agg_boolean_filter_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.bool_and(F.col("o_totalprice") > 1000).alias("all_over_1k"),
        F.bool_or(F.col("o_totalprice") > 400000).alias("any_over_400k"),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
        F.count(F.when(F.col("o_totalprice") > 200000, 1)).alias("n_big"),
        F.round(
            F.avg(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice"))), 4
        ).alias("avg_open"),
    )


@register(
    "agg_grouping_metadata",
    oracle="""
    SELECT n.n_regionkey, c.c_mktsegment,
           CAST(grouping(n.n_regionkey) AS BIGINT)  AS g_region,
           CAST(grouping(c.c_mktsegment) AS BIGINT) AS g_segment,
           count(*) AS n_cust,
           round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY GROUPING SETS ((n.n_regionkey, c.c_mktsegment), (n.n_regionkey), ())
    """,
    doc="GROUPING() metadata with GROUPING SETS: the flag that "
    "disambiguates 'NULL because the column is rolled up' from 'NULL in "
    "the data' — without it a report cannot tell a subtotal row from a "
    "null-key group.  Same single-pass expand+hash-aggregate plan as "
    "agg_rollup/agg_cube; the flags are free plan metadata, not extra "
    "computation.",
)
def agg_grouping_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT n.n_regionkey, c.c_mktsegment,
               CAST(grouping(n.n_regionkey) AS BIGINT)  AS g_region,
               CAST(grouping(c.c_mktsegment) AS BIGINT) AS g_segment,
               count(*) AS n_cust,
               round(sum(c.c_acctbal), 2) AS total_bal
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY GROUPING SETS ((n.n_regionkey, c.c_mktsegment), (n.n_regionkey), ())
        """
    )


@register(
    "elt_incremental_join_maintenance",
    oracle="""
    SELECT c.c_mktsegment,
           count(*) AS n_orders,
           round(sum(o.o_totalprice), 2) AS spend
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_mktsegment
    """,
    doc="Incremental maintenance of a JOIN view under deltas on BOTH "
    "sides — the delta algebra Delta(A join B) = dA*B_old + A_old*dB + "
    "dA*dB, materialized as four unioned join terms (old*old is the "
    "stored view; the three delta terms are the refresh) and "
    "oracle-proven equal to recomputing the full join.  Orders and "
    "customers are each split ~70/30 into 'stored' and 'newly arrived' "
    "on key-derived predicates, so every term is non-trivially "
    "populated.  This is how a 100 TB join view refreshes: the delta "
    "terms scan only the new batches (dA joins the old B by key lookup, "
    "dA*dB is batch-sized), and the stored term is never recomputed — "
    "the generalization of agg_incremental_maintenance from aggregates "
    "to joins.",
)
def elt_incremental_join_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").select("o_custkey", "o_totalprice", "o_orderkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    # stored/delta splits must be EXHAUSTIVE: a NULL key satisfies neither
    # modulus predicate and the row would vanish from the maintained view
    # while the full-recompute oracle keeps it (null-KEYS tier find) —
    # route NULL-key rows into the delta batch
    o_old = o.filter(F.col("o_orderkey") % 10 < 7)
    o_new = o.filter((F.col("o_orderkey") % 10 >= 7) | F.col("o_orderkey").isNull())
    c_old = c.filter(F.col("c_custkey") % 10 < 7)
    c_new = c.filter((F.col("c_custkey") % 10 >= 7) | F.col("c_custkey").isNull())
    join_on = F.col("o_custkey") == F.col("c_custkey")
    stored = o_old.join(c_old, join_on)          # the materialized view
    d1 = o_new.join(c_old, join_on)              # dA * B_old
    d2 = o_old.join(c_new, join_on)              # A_old * dB
    d3 = o_new.join(c_new, join_on)              # dA * dB
    maintained = stored.unionByName(d1).unionByName(d2).unionByName(d3)
    return maintained.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("spend"),
    )


@register(
    "agg_mode_deterministic",
    oracle="""
    WITH counts AS (
      SELECT c_mktsegment, c_nationkey, CAST(count(*) AS BIGINT) AS n
      FROM customer GROUP BY c_mktsegment, c_nationkey
    ),
    ranked AS (
      SELECT c_mktsegment, c_nationkey, n,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY n DESC, c_nationkey ASC) AS rk
      FROM counts
    )
    SELECT c_mktsegment, c_nationkey AS mode_nationkey, n AS mode_count
    FROM ranked WHERE rk = 1
    """,
    doc="Deterministic exact MODE per group (most frequent value, ties "
    "broken by smallest value): count-then-rank, NOT the builtin mode() "
    "aggregate — Spark's mode() and DuckDB's mode() both leave tie order "
    "engine-defined, which is a silent cross-engine (and cross-RUN, under "
    "partition-order nondeterminism) divergence; an explicit ORDER BY n "
    "DESC, value ASC pins it.  Plan: one partial-aggregated groupBy to "
    "(group, value) counts, then a window over GROUP-CARDINALITY-sized "
    "data — the heavy reduction happens before the sort, the canonical "
    "mode-at-scale shape.",
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    c = load(spark, sf_dir, "customer")
    counts = c.groupBy("c_mktsegment", "c_nationkey").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("c_mktsegment").orderBy(F.col("n").desc(), F.col("c_nationkey").asc())
    return (
        counts.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select(
            "c_mktsegment",
            F.col("c_nationkey").alias("mode_nationkey"),
            F.col("n").cast("bigint").alias("mode_count"),
        )
    )


@register(
    "agg_entropy",
    oracle="""
    WITH counts AS (
      SELECT source, lang, CAST(count(*) AS BIGINT) AS c
      FROM documents GROUP BY source, lang
    ),
    tot AS (
      SELECT source, CAST(sum(c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_langs,
             sum(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))) AS clogc
      FROM counts GROUP BY source
    )
    SELECT source, n, n_langs,
           CAST(floor((ln(CAST(n AS DOUBLE)) - clogc / n) / ln(2.0) * 1e6 + 0.5)
                AS BIGINT) AS entropy_bits_x1e6
    FROM tot
    """,
    doc="Shannon entropy of the language mix per source (the diversity/"
    "balance metric for corpus composition dashboards): H = log2(N) - "
    "sum(c*ln c)/(N ln 2), computed from integer category counts in the "
    "numerically-stable count form (never materializing p_i), so the only "
    "float inputs are ln() of exact integers — cross-engine libm "
    "divergence is sub-ulp on ~20 summed terms against a 1e-6 "
    "quantization, ~9 orders of headroom.  Plan: two partial-aggregated "
    "groupBys ((source, lang) then source) — entropy over 100 TB reduces "
    "to arithmetic on the category-count table.",
)
def agg_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    counts = d.groupBy("source", "lang").agg(F.count(F.lit(1)).alias("c"))
    tot = counts.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count(F.lit(1)).cast("bigint").alias("n_langs"),
        F.sum(F.col("c").cast("double") * F.log(F.col("c").cast("double"))).alias("clogc"),
    )
    h = (F.log(F.col("n").cast("double")) - F.col("clogc") / F.col("n")) / F.log(F.lit(2.0))
    return tot.select(
        "source",
        "n",
        "n_langs",
        F.floor(h * 1e6 + 0.5).cast("bigint").alias("entropy_bits_x1e6"),
    )


_CMS_W = 64  # sketch width (buckets per hash row)
_CMS_D = 4   # sketch depth (independent hash rows)


def _cms_bucket_sql(row: int, col: str) -> str:
    """DuckDB bucket expression for hash row ``row`` (md5-derived)."""
    return (
        f"CAST('0x' || substr(md5('r{row}:' || {col}), 1, 8) AS BIGINT) % {_CMS_W}"
    )


@register(
    "agg_count_min_sketch",
    oracle=f"""
    WITH expanded AS (
      SELECT r.row_id, CASE r.row_id
               {' '.join(f"WHEN {r} THEN {_cms_bucket_sql(r, 'event_type')}" for r in range(_CMS_D))}
             END AS bucket
      FROM events
      CROSS JOIN (VALUES {', '.join(f'({r})' for r in range(_CMS_D))}) r(row_id)
    ),
    cms AS (
      SELECT row_id, bucket, CAST(count(*) AS BIGINT) AS c
      FROM expanded GROUP BY row_id, bucket
    ),
    keys AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS exact_n
      FROM events GROUP BY event_type
    ),
    probes AS (
      SELECT k.event_type, k.exact_n, r.row_id,
             CASE r.row_id
               {' '.join(f"WHEN {r} THEN {_cms_bucket_sql(r, 'k.event_type')}" for r in range(_CMS_D))}
             END AS bucket
      FROM keys k
      CROSS JOIN (VALUES {', '.join(f'({r})' for r in range(_CMS_D))}) r(row_id)
    )
    SELECT p.event_type, p.exact_n,
           CAST(min(c.c) AS BIGINT) AS cms_estimate,
           min(c.c) >= p.exact_n AS never_underestimates
    FROM probes p JOIN cms c ON c.row_id = p.row_id AND c.bucket = p.bucket
    GROUP BY p.event_type, p.exact_n
    """,
    doc=f"Count-min sketch as an explicit relational aggregation "
    f"(depth {_CMS_D} x width {_CMS_W}, md5-derived row hashes): the "
    f"UPDATE phase is a narrow {_CMS_D}x row expansion + one "
    f"(row, bucket)-keyed partial-aggregated groupBy — the sketch IS the "
    f"{_CMS_D * _CMS_W}-cell count table, mergeable across partitions/"
    f"days by cell-wise addition like the HLL and bitmap rollups.  The "
    f"QUERY phase probes each key's {_CMS_D} cells and takes the min.  "
    f"Deterministic hashes make the whole sketch EXACTLY reproducible, "
    f"so the oracle replays it cell-for-cell AND certifies the "
    f"structural one-sided error bound (estimate >= exact, always).  "
    f"Spark's builtin count_min_sketch() emits an opaque binary with no "
    f"SQL probe function — building the sketch relationally keeps it "
    f"queryable, mergeable, and oracle-checkable.  At 100 TB: sketch "
    f"size is fixed ({_CMS_D}x{_CMS_W} cells) regardless of input.",
)
def agg_count_min_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("event_type")

    def bucket(row: int, col: F.Column) -> F.Column:
        h = F.md5(F.concat(F.lit(f"r{row}:"), col))
        return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") % _CMS_W

    rows = F.explode(
        F.array(*[F.lit(r) for r in range(_CMS_D)])
    ).alias("row_id")
    expanded = ev.select(F.col("event_type"), rows)
    bucket_expr = None
    for r in range(_CMS_D):
        cond = bucket(r, F.col("event_type"))
        bucket_expr = (
            F.when(F.col("row_id") == r, cond)
            if bucket_expr is None
            else bucket_expr.when(F.col("row_id") == r, cond)
        )
    cms = (
        expanded.select("row_id", bucket_expr.alias("bucket"))
        .groupBy("row_id", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    keys = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("exact_n"))
    probe_rows = keys.select(
        "event_type", "exact_n", F.explode(F.array(*[F.lit(r) for r in range(_CMS_D)])).alias("row_id")
    )
    probe_bucket = None
    for r in range(_CMS_D):
        cond = bucket(r, F.col("event_type"))
        probe_bucket = (
            F.when(F.col("row_id") == r, cond)
            if probe_bucket is None
            else probe_bucket.when(F.col("row_id") == r, cond)
        )
    probes = probe_rows.select("event_type", "exact_n", "row_id", probe_bucket.alias("bucket"))
    return (
        probes.join(F.broadcast(cms), ["row_id", "bucket"])
        .groupBy("event_type", "exact_n")
        .agg(F.min("c").cast("bigint").alias("cms_estimate"))
        .select(
            "event_type",
            F.col("exact_n").cast("bigint").alias("exact_n"),
            "cms_estimate",
            (F.col("cms_estimate") >= F.col("exact_n")).alias("never_underestimates"),
        )
    )


@register(
    "agg_weighted_median",
    oracle="""
    WITH w AS (
      SELECT l_returnflag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS wt
      FROM lineitem
    ),
    grouped AS (
      SELECT l_returnflag, cents, CAST(sum(wt) AS BIGINT) AS wt
      FROM w GROUP BY l_returnflag, cents
    ),
    cum AS (
      SELECT l_returnflag, cents, wt,
             sum(wt) OVER (PARTITION BY l_returnflag ORDER BY cents) AS cw,
             sum(wt) OVER (PARTITION BY l_returnflag) AS total
      FROM grouped
    )
    SELECT l_returnflag,
           CAST(min(total) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN 2 * cw >= total THEN cents END) AS BIGINT)
             AS weighted_median_cents
    FROM cum GROUP BY l_returnflag
    """,
    doc="Exact weighted median (lower median: smallest value whose "
    "cumulative weight reaches half the total) of extended price "
    "weighted by quantity, per return flag.  Built from the standard "
    "distributed shape: pre-aggregate (group, value) -> weight — the "
    "pass that touches fact rows, partial-aggregated — then ONE window "
    "over the collapsed value distribution (distinct values per group, "
    "orders of magnitude smaller than rows), then the threshold pick as "
    "a conditional MIN.  No percentile_cont interpolation ambiguity "
    "crosses the oracle: the lower-median convention is pinned "
    "identically on both engines, all arithmetic integer cents.",
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem")
    grouped = (
        li.select(
            "l_returnflag",
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("cents"),
            F.col("l_quantity").cast("bigint").alias("wt"),
        )
        .groupBy("l_returnflag", "cents")
        .agg(F.sum("wt").alias("wt"))
    )
    cum = grouped.select(
        "l_returnflag",
        "cents",
        "wt",
        F.sum("wt").over(W.partitionBy("l_returnflag").orderBy("cents")).alias("cw"),
        F.sum("wt").over(W.partitionBy("l_returnflag")).alias("total"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.min("total").cast("bigint").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("total"), F.col("cents")))
        .cast("bigint")
        .alias("weighted_median_cents"),
    )


@register(
    "agg_ab_ttest",
    oracle="""
    WITH g AS (
      SELECT user_id % 2 AS variant,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      -- sum-of-squares in DECIMAL: one extreme value (cents ~ 1e11) makes
      -- cents*cents overflow int64; the plain sum keeps BIGINT (realistic
      -- corpus bound)
      SELECT variant, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s,
             sum(CAST(cents AS DECIMAL(19,0)) * CAST(cents AS DECIMAL(19,0))) AS q
      FROM g GROUP BY variant
    ),
    w AS (
      SELECT a.n AS n_a, a.s AS s_a, b.n AS n_b, b.s AS s_b,
             (CAST(a.s AS DOUBLE) / a.n) AS mean_a,
             (CAST(b.s AS DOUBLE) / b.n) AS mean_b,
             ((CAST(a.q AS DOUBLE) - CAST(a.s AS DOUBLE) * a.s / a.n) / (a.n - 1)) AS var_a,
             ((CAST(b.q AS DOUBLE) - CAST(b.s AS DOUBLE) * b.s / b.n) / (b.n - 1)) AS var_b
      FROM (SELECT * FROM m WHERE variant = 0) a
      CROSS JOIN (SELECT * FROM m WHERE variant = 1) b
    )
    SELECT n_a, n_b, s_a, s_b,
           CAST(floor((mean_a - mean_b)
                      / sqrt(var_a / n_a + var_b / n_b) * 1e6 + 0.5) AS BIGINT)
             AS t_stat_x1e6,
           abs((mean_a - mean_b) / sqrt(var_a / n_a + var_b / n_b)) > 1.96
             AS significant_95
    FROM w
    """,
    doc="Welch's two-sample t-test as a pure aggregate — the A/B "
    "experiment readout (variant = user_id % 2 on purchase values) "
    "computed from sufficient statistics only: each arm reduces to "
    "(n, sum, sum-of-squares) in EXACT integer cents (one partial-agged "
    "shuffle of 2 groups; Q < 2^53 so the widening to double for the "
    "final scalar formula is lossless), then mean/variance/t come from "
    "one identical expression tree on both engines — no per-row doubles, "
    "no accumulation-order sensitivity.  This moment-folding is the only "
    "shape that works at 100 TB: the raw arms never leave the cluster, "
    "and arms can be merged across partitions/days by adding the three "
    "integers.  t quantized to 1e-6; two-sided 95% flag at |t| > 1.96.",
)
def agg_ab_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select(
            (F.col("user_id") % 2).alias("variant"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    # sum-of-squares in DECIMAL(38,0): cents*cents overflows int64 on an
    # extreme value and Spark non-ANSI would WRAP SILENTLY (DuckDB errors
    # loudly — the hostile-data sweep caught exactly this asymmetry)
    cd = F.col("cents").cast("decimal(19,0)")
    m = g.groupBy("variant").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("cents").alias("s"),
        F.sum(cd * cd).alias("q"),
    )
    a = m.filter(F.col("variant") == 0).select(
        F.col("n").alias("n_a"), F.col("s").alias("s_a"), F.col("q").alias("q_a")
    )
    b = m.filter(F.col("variant") == 1).select(
        F.col("n").alias("n_b"), F.col("s").alias("s_b"), F.col("q").alias("q_b")
    )
    j = a.crossJoin(b)
    mean_a = F.col("s_a").cast("double") / F.col("n_a")
    mean_b = F.col("s_b").cast("double") / F.col("n_b")
    # q converted to DOUBLE explicitly (exact int -> double, same on both
    # engines) before the variance formula
    var_a = (
        F.col("q_a").cast("double")
        - F.col("s_a").cast("double") * F.col("s_a") / F.col("n_a")
    ) / (F.col("n_a") - 1)
    var_b = (
        F.col("q_b").cast("double")
        - F.col("s_b").cast("double") * F.col("s_b") / F.col("n_b")
    ) / (F.col("n_b") - 1)
    t = (mean_a - mean_b) / F.sqrt(var_a / F.col("n_a") + var_b / F.col("n_b"))
    return j.select(
        "n_a",
        "n_b",
        "s_a",
        "s_b",
        F.floor(t * 1e6 + 0.5).cast("bigint").alias("t_stat_x1e6"),
        (F.abs(t) > 1.96).alias("significant_95"),
    )


@register(
    "agg_quantile_sketch",
    oracle="""
    WITH pts AS (
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT least(cents // 468750, 127) AS bucket, count(*) AS c
      FROM pts GROUP BY 1
    ),
    cum AS (
      SELECT bucket, c, sum(c) OVER (ORDER BY bucket) AS running FROM b
    ),
    n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM pts),
    probe AS (
      SELECT 50 AS p_x100 UNION ALL SELECT 95 UNION ALL SELECT 99
    ),
    ranks AS (
      SELECT p_x100, CAST(ceil(n.n * p_x100 / 100.0) AS BIGINT) AS rnk
      FROM probe CROSS JOIN n
    ),
    sel AS (
      SELECT r.p_x100, r.rnk, CAST(min(cum.bucket) AS BIGINT) AS bucket
      FROM ranks r JOIN cum ON cum.running >= r.rnk
      GROUP BY r.p_x100, r.rnk
    ),
    exact AS (
      SELECT quantile_disc(cents, 0.50) AS e50,
             quantile_disc(cents, 0.95) AS e95,
             quantile_disc(cents, 0.99) AS e99
      FROM pts
    )
    SELECT s.p_x100, s.rnk, s.bucket,
           CAST(s.bucket * 468750 + 234375 AS BIGINT) AS est_mid_cents,
           CAST(CASE s.p_x100 WHEN 50 THEN e50 WHEN 95 THEN e95 ELSE e99 END
                AS BIGINT) AS exact_cents,
           least((CASE s.p_x100 WHEN 50 THEN e50 WHEN 95 THEN e95 ELSE e99 END)
                 // 468750, 127) = s.bucket AS contained
    FROM sel s CROSS JOIN exact
    """,
    doc="Mergeable fixed-domain quantile sketch — how distributed "
    "percentiles actually work at 100 TB: a 128-bucket equi-width "
    "histogram over integer cents (width 468750, domain pinned a priori "
    "— that is what makes sketches from different partitions/days/"
    "clusters MERGEABLE by cellwise addition, unlike any exact method), "
    "quantile estimates read off the cumulative walk (smallest bucket "
    "whose running count reaches rank ceil(p*n)), and the query "
    "CERTIFIES itself: for each of p50/p95/p99 it also computes the "
    "exact percentile_disc and emits whether the true value falls in "
    "the selected bucket — the one-sided-error audit, same pattern as "
    "agg_count_min_sketch.  Fact data is touched by exactly one "
    "partial-agged groupBy; the walk runs on the 128-row sketch.  The "
    "exact companion exists only to certify; production reads the "
    "sketch alone.",
)
def agg_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    W_CENTS = 468750
    pts = load(spark, sf_dir, "orders").select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents")
    )
    b = pts.groupBy(
        F.least(F.expr("cents div %d" % W_CENTS), F.lit(127)).alias("bucket")
    ).agg(F.count(F.lit(1)).alias("c"))
    cum = b.withColumn("running", F.sum("c").over(Window.orderBy("bucket")))
    n = pts.agg(F.count(F.lit(1)).alias("n"))
    probe = spark.createDataFrame([(50,), (95,), (99,)], "p_x100 int")
    ranks = probe.crossJoin(F.broadcast(n)).select(
        "p_x100", F.ceil(F.col("n") * F.col("p_x100") / 100.0).cast("bigint").alias("rnk")
    )
    sel = (
        ranks.join(F.broadcast(cum), F.col("running") >= F.col("rnk"))
        .groupBy("p_x100", "rnk")
        .agg(F.min("bucket").cast("bigint").alias("bucket"))
    )
    # r17: the exact-certification percentiles through the distributed
    # rank machinery (scale.global_order_stats) instead of three
    # percentile_disc aggregates — over the high-cardinality cents column
    # the exact percentile's value->count buffer approaches the column
    # itself, merged on ONE reducer (the r16 buffer-agg scan's last
    # remaining hit).  percentile_disc(p) == the smallest value whose
    # exact 1-based rank r satisfies r >= ceil(p*n), selected here with
    # integer cross-multiplication (r*q >= p_numerator*n) — the same
    # rewrite elt_range_partition_layout proved against the oracle in
    # r16.  percentile_disc ignores NULLs, so they are filtered before
    # ranking; all three cut points fall out of ONE rank pass.
    from .scale import global_order_stats

    ranked = global_order_stats(pts.filter(F.col("cents").isNotNull()), ["cents"])
    exact = ranked.agg(
        F.min(F.when(F.col("_rn") * 2 >= F.col("_n_total"), F.col("cents"))).alias("e50"),
        F.min(F.when(F.col("_rn") * 20 >= F.col("_n_total") * 19, F.col("cents"))).alias("e95"),
        F.min(F.when(F.col("_rn") * 100 >= F.col("_n_total") * 99, F.col("cents"))).alias("e99"),
    )
    ex = (
        F.when(F.col("p_x100") == 50, F.col("e50"))
        .when(F.col("p_x100") == 95, F.col("e95"))
        .otherwise(F.col("e99"))
    )
    return sel.crossJoin(F.broadcast(exact)).select(
        "p_x100",
        "rnk",
        "bucket",
        (F.col("bucket") * W_CENTS + W_CENTS // 2).cast("bigint").alias("est_mid_cents"),
        ex.cast("bigint").alias("exact_cents"),
        (
            F.least(F.expr("%s div %d" % ("CAST(CASE WHEN p_x100 = 50 THEN e50 WHEN p_x100 = 95 THEN e95 ELSE e99 END AS BIGINT)", W_CENTS)), F.lit(127))
            == F.col("bucket")
        ).alias("contained"),
    )


@register(
    "agg_crosstab",
    oracle="""
    SELECT coalesce(event_type, 'null') AS event_type,
           -- crosstab STRINGIFIES null categories as 'null' (the engine's
           -- documented label encoding) — stated, not accidental
           coalesce(CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS VARCHAR), 'null')
             AS dow,
           CAST(count(*) AS BIGINT) AS n
    FROM events
    GROUP BY 1, 2
    """,
    doc="Contingency table via DataFrameStatFunctions.crosstab — the "
    "categorical-pair profiling call (event_type x day-of-week here), "
    "then melted back to (row, col, n) long form so the contract is "
    "schema-stable whatever distinct values exist.  crosstab pivots "
    "with one partial-agged count shuffle; the melt's Expand runs on "
    "the 5x7 pivoted table.  DuckDB's dayofweek is 0-6 (Sunday=0) vs "
    "Spark's 1-7 (Sunday=1): the oracle shifts by +1 to Spark's "
    "convention; parity is pinned by the hash gate.",
)
def agg_crosstab(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_type", F.dayofweek("ts").cast("int").cast("string").alias("dow")
    )
    wide = ev.stat.crosstab("event_type", "dow")
    dows = sorted(c for c in wide.columns if c != "event_type_dow")
    if not dows:
        # empty events: crosstab has zero value columns and unpivot would
        # reject the all-ids frame — the oracle's GROUP BY is simply empty
        return spark.createDataFrame([], "event_type string, dow string, n bigint")
    long = wide.unpivot(
        ids=["event_type_dow"], values=dows, variableColumnName="dow", valueColumnName="n"
    )
    return long.select(
        F.col("event_type_dow").alias("event_type"), "dow", F.col("n").cast("bigint").alias("n")
    ).filter(F.col("n") > 0)


@register(
    "agg_grouped_pandas_udaf",
    oracle="""
    WITH pts AS (
      -- aggregate-skip: NULL values contribute nothing to a trimmed sum
      -- (standard SQL aggregate semantics, stated explicitly — they must
      -- not occupy trim slots either)
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
             event_id
      FROM events WHERE value IS NOT NULL
    ),
    ranked AS (
      SELECT event_type, cents,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents, event_id) AS rlo,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY cents DESC, event_id DESC) AS rhi
      FROM pts
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(cents) AS BIGINT) AS trimmed_sum_cents
    FROM ranked
    WHERE rlo > 5 AND rhi > 5
    GROUP BY event_type
    """,
    doc="Grouped-aggregate Pandas UDF (GROUPED_AGG — the UDAF form: one "
    "pandas Series per group in, one scalar out, usable inside a normal "
    ".agg() alongside built-ins): a 5-each-end TRIMMED SUM per "
    "event_type, the robust statistic that needs the whole group sorted "
    "and therefore cannot be a built-in algebraic aggregate.  "
    "Determinism: ties at the trim boundary are broken by (cents, "
    "event_id) — the UDAF receives (cents, event_id) pre-sorted "
    "struct-encoded so its trim matches the oracle's dual row_number "
    "exactly; all arithmetic integer.  Scale: grouped-agg UDFs hold ONE "
    "group in memory per call (event_type groups here; bound the group "
    "key at 100 TB), Arrow-transferred, JVM partial-agg NOT available — "
    "which is exactly why the doc says prefer built-ins unless the "
    "statistic needs the full group, as this one does.",
)
def agg_grouped_pandas_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    @F.pandas_udf("long")
    def trimmed_sum(packed: pd.Series) -> int:
        # packed = cents * 2^20 + pmod(event_id, 2^20): with the sub-key r
        # forced into [0, 2^20) the encoding is lexicographic for ANY cents
        # sign, and the arithmetic >> (floor division) decodes cents exactly
        # — floor((c*M + r)/M) = c whenever 0 <= r < M, negatives included
        vals = packed.sort_values().to_numpy()
        kept = vals[5:-5] if vals.size > 10 else vals[0:0]
        return int((kept >> 20).sum())

    @F.pandas_udf("long")
    def trimmed_count(packed: pd.Series) -> int:
        return max(int(packed.size) - 10, 0)

    # aggregate-skip: NULL values excluded before packing (see oracle note)
    pts = (
        load(spark, sf_dir, "events")
        .filter(F.col("value").isNotNull())
        .select(
            "event_type",
            (
                # pmod, not %: Spark's % preserves the dividend's sign, and a
                # negative sub-key breaks both the lexicographic order and the
                # floor-decode of the packed encoding
                F.floor(F.col("value") * 100 + 0.5).cast("bigint") * (1 << 20)
                + F.pmod(F.col("event_id"), F.lit(1 << 20))
            ).alias("packed"),
        )
    )
    # groups trimmed to nothing (<= 10 rows) vanish from the oracle's
    # post-trim GROUP BY — drop their (type, 0, 0) rows here to match
    return (
        pts.groupBy("event_type")
        .agg(
            trimmed_count("packed").alias("n_kept"),
            trimmed_sum("packed").alias("trimmed_sum_cents"),
        )
        .filter(F.col("n_kept") > 0)
    )


@register(
    "agg_ks_two_sample",
    oracle="""
    WITH labeled AS (
      SELECT n_chars AS v,
             CASE WHEN source IN ('src0','src1','src2','src3','src4',
                                  'src5','src6','src7','src8','src9')
                  THEN 0 ELSE 1 END AS grp
      FROM documents
    ),
    n AS (
      SELECT CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM labeled
    ),
    pervalue AS (
      SELECT v,
             CAST(sum(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(sum(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM labeled GROUP BY v
    ),
    ecdf AS (
      SELECT v,
             CAST(sum(c1) OVER (ORDER BY v) AS BIGINT) AS cum1,
             CAST(sum(c2) OVER (ORDER BY v) AS BIGINT) AS cum2
      FROM pervalue
    )
    SELECT n1, n2,
           CAST(max(abs(cum1 * n2 - cum2 * n1)) AS BIGINT) AS d_num,
           CAST(floor(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
                      / (n1 * n2) * 1e6 + 0.5) AS BIGINT) AS ks_x1e6
    FROM ecdf CROSS JOIN n
    GROUP BY n1, n2
    """,
    doc="Two-sample Kolmogorov-Smirnov statistic — the distribution-"
    "drift detector for data pipelines (did this batch's length "
    "distribution shift vs the reference sources?): D = max |ECDF1 - "
    "ECDF2|, computed EXACTLY by collapsing to per-distinct-value "
    "group counts (one partial-agged groupBy — ECDFs are evaluated "
    "after all ties, the right-continuous convention, automatically), "
    "one cumulative window over the DISTINCT-VALUE table (hundreds of "
    "rows, not documents), and the integer cross-multiplied deviation "
    "|c1*n2 - c2*n1| so no division happens until the final 1e-6 "
    "quantization.  This is THE monitoring statistic for feature/"
    "quality drift at 100 TB because it reduces to (value, counts) "
    "partials that merge across partitions.",
)
def agg_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    grp = F.when(
        F.col("source").isin(*[f"src{i}" for i in range(10)]), 0
    ).otherwise(1)
    labeled = d.select(F.col("n_chars").alias("v"), grp.alias("grp"))
    n = labeled.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("n1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("n2"),
    )
    pervalue = labeled.groupBy("v").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).alias("c2"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = pervalue.select(
        F.sum("c1").over(w).alias("cum1"), F.sum("c2").over(w).alias("cum2")
    )
    dev = F.abs(F.col("cum1") * F.col("n2") - F.col("cum2") * F.col("n1"))
    return (
        ecdf.crossJoin(F.broadcast(n))
        .groupBy("n1", "n2")
        .agg(F.max(dev).alias("d_num"))
        .select(
            "n1",
            "n2",
            "d_num",
            F.floor(
                F.col("d_num").cast("double") / (F.col("n1") * F.col("n2")) * 1e6 + 0.5
            )
            .cast("bigint")
            .alias("ks_x1e6"),
        )
    )


@register(
    "agg_bootstrap_poisson_ci",
    oracle="""
    WITH pts AS (
      SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events WHERE event_type = 'purchase'
    ),
    reps AS (SELECT unnest(range(0, 32)) AS rep),
    drawn AS (
      SELECT r.rep, p.cents,
             CASE
               WHEN CAST('0x' || substr(md5('boot:' || CAST(r.rep AS VARCHAR)
                    || ':' || CAST(p.event_id AS VARCHAR)), 1, 8) AS BIGINT)
                    % 1000000 < 367879 THEN 0
               WHEN CAST('0x' || substr(md5('boot:' || CAST(r.rep AS VARCHAR)
                    || ':' || CAST(p.event_id AS VARCHAR)), 1, 8) AS BIGINT)
                    % 1000000 < 735759 THEN 1
               WHEN CAST('0x' || substr(md5('boot:' || CAST(r.rep AS VARCHAR)
                    || ':' || CAST(p.event_id AS VARCHAR)), 1, 8) AS BIGINT)
                    % 1000000 < 919699 THEN 2
               ELSE 3
             END AS k
      FROM pts p CROSS JOIN reps r
    ),
    repmeans AS (
      SELECT rep,
             CAST(floor(CAST(sum(k * cents) AS DOUBLE) / sum(k) * 1000 + 0.5)
                  AS BIGINT) AS mean_millicents
      FROM drawn GROUP BY rep HAVING sum(k) > 0
    )
    SELECT CAST(count(*) AS BIGINT) AS n_replicas,
           CAST(min(mean_millicents) AS BIGINT) AS lo_extreme,
           CAST(quantile_disc(mean_millicents, 0.05) AS BIGINT) AS ci_lo,
           CAST(quantile_disc(mean_millicents, 0.95) AS BIGINT) AS ci_hi,
           CAST(max(mean_millicents) AS BIGINT) AS hi_extreme
    FROM repmeans
    """,
    doc="Poisson bootstrap confidence interval — THE distributed "
    "bootstrap (Chamandy et al., Google 2012): classical resampling "
    "needs n draws WITH replacement from the full dataset (impossible "
    "across partitions), but drawing each row's multiplicity "
    "independently as Poisson(1) needs only per-row randomness, so 32 "
    "replica means materialize in ONE pass (row x replica fan-out, "
    "partial-agged).  Randomness is md5-derived and quantized to exact "
    "ppm thresholds of the Poisson pmf (P(0)=P(1)=.367879, "
    "P(2)=.183940, tail folded into k=3), making every replica "
    "deterministic and the oracle exact.  The 90% CI is read from "
    "percentile_disc over replica means.  Per-replica means are "
    "1e-3-quantized from exact integer sums.  The pattern every "
    "A/B-test error bar at 100 TB actually uses.",
)
def agg_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"))
    )
    reps = spark.range(32).select(F.col("id").cast("int").alias("rep"))
    h = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("boot:"),
                        F.col("rep").cast("string"),
                        F.lit(":"),
                        F.col("event_id").cast("string"),
                    ).cast("binary")
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")
        % 1000000
    )
    k = (
        F.when(h < 367879, 0)
        .when(h < 735759, 1)
        .when(h < 919699, 2)
        .otherwise(3)
    )
    drawn = pts.crossJoin(F.broadcast(reps)).select("rep", "cents", k.alias("k"))
    repmeans = (
        drawn.groupBy("rep")
        .agg(
            F.sum(F.col("k") * F.col("cents")).alias("ks"),
            F.sum("k").alias("kn"),
        )
        .filter(F.col("kn") > 0)
        .select(
            F.floor(F.col("ks").cast("double") / F.col("kn") * 1000 + 0.5)
            .cast("bigint")
            .alias("mean_millicents")
        )
    )
    return repmeans.agg(
        F.count(F.lit(1)).alias("n_replicas"),
        F.min("mean_millicents").alias("lo_extreme"),
        F.expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY mean_millicents)")
        .cast("bigint")
        .alias("ci_lo"),
        F.expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY mean_millicents)")
        .cast("bigint")
        .alias("ci_hi"),
        F.max("mean_millicents").alias("hi_extreme"),
    )


_CORR_COLS = ("qty", "price", "disc", "tax")

_CORR_PAIRS = tuple(
    (a, b) for i, a in enumerate(_CORR_COLS) for b in _CORR_COLS[i + 1 :]
)

_CORR_SCALED_SQL = """
      SELECT CAST(floor(l_quantity + 0.5) AS DECIMAL(18,0))            AS qty,
             CAST(floor(l_extendedprice * 100 + 0.5) AS DECIMAL(18,0)) AS price,
             CAST(floor(l_discount * 100 + 0.5) AS DECIMAL(18,0))      AS disc,
             CAST(floor(l_tax * 100 + 0.5) AS DECIMAL(18,0))           AS tax
      FROM lineitem"""

_CORR_SUMS_SQL = ",\n             ".join(
    [f"sum({a} * {b}) AS s_{a}_{b}" for a in _CORR_COLS for b in _CORR_COLS if a <= b]
    + [f"sum({c}) AS s_{c}" for c in _CORR_COLS]
)


def _corr_pair_sql(a: str, b: str) -> str:
    saa, sbb = f"s_{min(a,a)}_{a}", f"s_{b}_{b}"
    sab = f"s_{a}_{b}" if a <= b else f"s_{b}_{a}"
    h = "CAST({} AS HUGEINT)".format
    num = f"{h('n')} * {h(sab)} - {h('s_' + a)} * {h('s_' + b)}"
    dx = f"{h('n')} * {h(saa)} - {h('s_' + a)} * {h('s_' + a)}"
    dy = f"{h('n')} * {h(sbb)} - {h('s_' + b)} * {h('s_' + b)}"
    return f"""
      SELECT '{a}' AS x_name, '{b}' AS y_name, CAST(n AS BIGINT) AS n_rows,
             CAST(floor(CAST({num} AS DOUBLE)
                        / sqrt(CAST({dx} AS DOUBLE))
                        / sqrt(CAST({dy} AS DOUBLE)) * 1e6 + 0.5) AS BIGINT)
               AS corr_x1e6
      FROM s"""


@register(
    "agg_correlation_matrix",
    oracle=f"""
    WITH scaled AS ({_CORR_SCALED_SQL}
    ),
    s AS (
      SELECT CAST(count(*) AS DECIMAL(38,0)) AS n,
             {_CORR_SUMS_SQL}
      FROM scaled
    )
    {" UNION ALL ".join(_corr_pair_sql(a, b) for a, b in _CORR_PAIRS)}
    """,
    doc="Pairwise Pearson CORRELATION MATRIX over the four lineitem measures "
    "(quantity, extended price, discount, tax) — the multi-column "
    "statistical-profiling pass a feature-engineering pipeline runs before "
    "training.  Exactness: measures are scaled to integer units/cents, all "
    "15 sufficient statistics (n, 4 sums, 10 cross/square sums) accumulate "
    "in DECIMAL(38,0) — overflow-proof where int64 would silently WRAP on "
    "Spark past 2^63 (sum of price-cents squared crosses 2^63 near sf0.5) "
    "while DuckDB widens to HUGEINT — and the correlation is assembled "
    "from the exact integers n*Sxy - Sx*Sy over sqrt(n*Sxx - Sx^2) * "
    "sqrt(n*Syy - Sy^2) with the double conversion deferred to the final "
    "divide (identical IEEE op order on both engines), quantized x1e6.  "
    "Scale: ONE pass over the fact table computing all 15 statistics in a "
    "single partial-aggregated global agg (map-side combine reduces every "
    "partition to one 15-number state row; only those states cross the "
    "network), then a constant-size 6-row melt via explode on the 1-row "
    "result — no second scan, no driver loop, no per-pair job.  The same "
    "sufficient-statistics shape extends to any column count as one pass "
    "+ k(k+1)/2 mergeable accumulators.",
)
def agg_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_quantity") + 0.5).cast("decimal(18,0)").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("decimal(18,0)").alias("price"),
        F.floor(F.col("l_discount") * 100 + 0.5).cast("decimal(18,0)").alias("disc"),
        F.floor(F.col("l_tax") * 100 + 0.5).cast("decimal(18,0)").alias("tax"),
    )
    aggs = [F.count(F.lit(1)).cast("decimal(38,0)").alias("n")]
    aggs += [
        F.sum(F.col(a) * F.col(b)).cast("decimal(38,0)").alias(f"s_{a}_{b}")
        for a in _CORR_COLS
        for b in _CORR_COLS
        if a <= b
    ]
    aggs += [F.sum(c).cast("decimal(38,0)").alias(f"s_{c}") for c in _CORR_COLS]
    stats = li.agg(*aggs)

    def pair_struct(a: str, b: str):
        sab = f"s_{a}_{b}" if a <= b else f"s_{b}_{a}"
        num = (F.col("n") * F.col(sab) - F.col(f"s_{a}") * F.col(f"s_{b}")).cast("double")
        dx = (F.col("n") * F.col(f"s_{a}_{a}") - F.col(f"s_{a}") * F.col(f"s_{a}")).cast(
            "double"
        )
        dy = (F.col("n") * F.col(f"s_{b}_{b}") - F.col(f"s_{b}") * F.col(f"s_{b}")).cast(
            "double"
        )
        r = num / F.sqrt(dx) / F.sqrt(dy)
        return F.struct(
            F.lit(a).alias("x_name"),
            F.lit(b).alias("y_name"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.floor(r * 1e6 + 0.5).cast("bigint").alias("corr_x1e6"),
        )

    melted = stats.select(
        F.explode(F.array(*[pair_struct(a, b) for a, b in _CORR_PAIRS])).alias("p")
    )
    return melted.select("p.*")


_KMV_K = 64
_KMV_M = 16**12  # md5 12-hex-digit draw space


@register(
    "agg_kmv_theta_sketch",
    oracle=f"""
    WITH base AS (
      SELECT DISTINCT c.c_mktsegment AS seg, l.l_partkey AS pk
      FROM lineitem l
      JOIN orders o   ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
    ),
    hashed AS (
      SELECT seg, pk,
             CAST(CAST('0x' || substr(md5('kmv:' || CAST(pk AS VARCHAR)), 1, 12)
                       AS UBIGINT) AS BIGINT) AS u
      FROM base
    ),
    sk AS (
      SELECT seg, u FROM (
        SELECT seg, u, row_number() OVER (PARTITION BY seg ORDER BY u) AS rn
        FROM hashed
      ) WHERE rn <= {_KMV_K}
    ),
    est AS (
      SELECT seg, CAST(count(*) AS BIGINT) AS filled, max(u) AS uk,
             CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS BIGINT)
                  ELSE ({_KMV_K} - 1) * {_KMV_M} // max(u) END AS est
      FROM sk GROUP BY seg
    ),
    exact AS (SELECT seg, CAST(count(*) AS BIGINT) AS n FROM base GROUP BY seg),
    pairs AS (
      SELECT a.seg AS seg_a, b.seg AS seg_b
      FROM exact a JOIN exact b ON a.seg < b.seg
    ),
    merged AS (
      SELECT seg_a, seg_b, u,
             row_number() OVER (PARTITION BY seg_a, seg_b ORDER BY u) AS rn
      FROM (
        SELECT DISTINCT p.seg_a, p.seg_b, s.u
        FROM pairs p
        JOIN sk s ON s.seg IN (p.seg_a, p.seg_b)
      )
      QUALIFY rn <= {_KMV_K}
    ),
    uest AS (
      SELECT seg_a, seg_b,
             CASE WHEN count(*) < {_KMV_K} THEN CAST(count(*) AS BIGINT)
                  ELSE ({_KMV_K} - 1) * {_KMV_M} // max(u) END AS est_union
      FROM merged GROUP BY seg_a, seg_b
    ),
    xint AS (
      SELECT p.seg_a, p.seg_b, CAST(count(*) AS BIGINT) AS exact_intersect
      FROM pairs p
      JOIN base a ON a.seg = p.seg_a
      JOIN base b ON b.seg = p.seg_b AND b.pk = a.pk
      GROUP BY p.seg_a, p.seg_b
    )
    SELECT p.seg_a, p.seg_b,
           ea.est AS est_a, eb.est AS est_b, u.est_union,
           ea.est + eb.est - u.est_union            AS est_intersect,
           na.n + nb.n - x.exact_intersect          AS exact_union,
           x.exact_intersect
    FROM pairs p
    JOIN est ea ON ea.seg = p.seg_a
    JOIN est eb ON eb.seg = p.seg_b
    JOIN uest u ON u.seg_a = p.seg_a AND u.seg_b = p.seg_b
    JOIN exact na ON na.seg = p.seg_a
    JOIN exact nb ON nb.seg = p.seg_b
    JOIN xint x ON x.seg_a = p.seg_a AND x.seg_b = p.seg_b
    """,
    doc="KMV / THETA DISTINCT SKETCH with MERGEABLE set algebra — the "
    "sketch family warehouse engines (DataSketches, BigQuery "
    "APPROX_COUNT_DISTINCT internals) use when distinct counts must "
    f"compose across segments: keep the k={_KMV_K} MINIMUM md5 draws per "
    "segment's distinct part set, estimate cardinality as "
    "(k-1)*M/u_k (exact-INTEGER division — no float anywhere, unlike "
    "HLL), merge two sketches by re-minning the union (the theta-union), "
    "and derive intersections by inclusion-exclusion — per segment-pair "
    "we emit sketch AND exact union/intersection so the error is "
    "auditable in-row.  Degenerate sketches (fewer than k distinct) "
    "fall back to their exact fill count on both sides.  Complements "
    "agg_hll_sketch_rollup (additive rollup, float estimator) with the "
    "set-ALGEBRA sketch.  Scale: sketches reduce per segment via one "
    "top-k window over hashed distincts (map-side partial top-k under "
    "the hood), merges touch only k-row sketches — the exact columns "
    "are the sf0.01 audit, the sketch path is the 100 TB path.",
)
def agg_kmv_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    base = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(F.col("c_mktsegment").alias("seg"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    hashed = base.select(
        "seg",
        "pk",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("kmv:"), F.col("pk").cast("string")).cast("binary")),
                1,
                12,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("u"),
    )
    sk = (
        hashed.withColumn("rn", F.row_number().over(W.partitionBy("seg").orderBy("u")))
        .filter(F.col("rn") <= _KMV_K)
        .select("seg", "u")
    )

    # bigint `div`, never float `/`: (k-1)*M ≈ 1.77e16 exceeds 2^53, so
    # double division would silently diverge from the oracle's exact //
    _EST = (
        f"CASE WHEN filled < {_KMV_K} THEN CAST(filled AS BIGINT)"
        f" ELSE CAST({(_KMV_K - 1) * _KMV_M} AS BIGINT) div uk END"
    )

    est = (
        sk.groupBy("seg")
        .agg(F.count(F.lit(1)).alias("filled"), F.max("u").alias("uk"))
        .select("seg", F.expr(_EST).alias("est"))
    )
    exact = base.groupBy("seg").agg(F.count(F.lit(1)).alias("n"))
    # r17 (guide §2.2 — partition-count explosion): both the seg-pair
    # cross join and the non-equi isin join below are over HANDFUL-row
    # inputs, but without broadcast hints each plans as a cartesian whose
    # partition count is the PRODUCT of its inputs' — 32 x 32 x 32 =
    # 32,768 ten-row tasks at AQE-off width 32 (stage-profiled: 17 s wall
    # of pure scheduling for ~300 k rows).  Broadcasting the tiny sides
    # pins the fan-out to the probe side's width: same rows, 32 tasks.
    pairs = (
        exact.select(F.col("seg").alias("seg_a"))
        .join(F.broadcast(exact.select(F.col("seg").alias("seg_b"))))
        .filter(F.col("seg_a") < F.col("seg_b"))
    )
    # theta-union: DEDUP the combined draw set FIRST (a part shared by both
    # segments contributes one u), THEN keep the k smallest — dedup after
    # truncation under-fills the sketch and collapses the estimate
    merged = (
        F.broadcast(pairs).join(sk, F.col("seg").isin(F.col("seg_a"), F.col("seg_b")))
        .select("seg_a", "seg_b", "u")
        .distinct()
        .withColumn(
            "rn", F.row_number().over(W.partitionBy("seg_a", "seg_b").orderBy("u"))
        )
        .filter(F.col("rn") <= _KMV_K)
    )
    uest = (
        merged.groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("filled"), F.max("u").alias("uk"))
        .select("seg_a", "seg_b", F.expr(_EST).alias("est_union"))
    )
    b2 = base.select(F.col("seg").alias("sb2"), F.col("pk").alias("pk2"))
    xint = (
        pairs.join(base.withColumnRenamed("seg", "seg_a"), ["seg_a"])
        .join(b2, (F.col("sb2") == F.col("seg_b")) & (F.col("pk2") == F.col("pk")))
        .groupBy("seg_a", "seg_b")
        .agg(F.count(F.lit(1)).alias("exact_intersect"))
    )
    return (
        pairs.join(est.withColumnRenamed("seg", "seg_a").withColumnRenamed("est", "est_a"), "seg_a")
        .join(est.withColumnRenamed("seg", "seg_b").withColumnRenamed("est", "est_b"), "seg_b")
        .join(uest, ["seg_a", "seg_b"])
        .join(exact.withColumnRenamed("seg", "seg_a").withColumnRenamed("n", "n_a"), "seg_a")
        .join(exact.withColumnRenamed("seg", "seg_b").withColumnRenamed("n", "n_b"), "seg_b")
        .join(xint, ["seg_a", "seg_b"])
        .select(
            "seg_a",
            "seg_b",
            "est_a",
            "est_b",
            "est_union",
            (F.col("est_a") + F.col("est_b") - F.col("est_union")).alias("est_intersect"),
            (F.col("n_a") + F.col("n_b") - F.col("exact_intersect")).alias("exact_union"),
            "exact_intersect",
        )
    )


@register(
    "agg_percentile_exact_grouped",
    oracle="""
    WITH v AS (
      -- aggregate-skip: a percentile of a measure ignores NULLs (they
      -- would otherwise rank NULLS-FIRST on Spark and NULLS-LAST on
      -- DuckDB AND inflate n — null-tier find)
      SELECT o_orderpriority AS pri,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    ranked AS (
      SELECT pri, cents,
             row_number() OVER (PARTITION BY pri ORDER BY cents) AS rn,
             count(*)    OVER (PARTITION BY pri)                 AS n
      FROM v
    )
    SELECT pri,
           CAST(max(n) AS BIGINT) AS n,
           max(CASE WHEN rn = (n + 1) // 2            THEN cents END) AS p50_cents,
           max(CASE WHEN rn = (9 * n + 9) // 10       THEN cents END) AS p90_cents,
           max(CASE WHEN rn = (99 * n + 99) // 100    THEN cents END) AS p99_cents
    FROM ranked GROUP BY pri
    """,
    doc="EXACT GROUPED PERCENTILES (p50/p90/p99 of order value per "
    "priority class) via NEAREST-RANK pick: rank = ceil(p*n) computed in "
    "INTEGER arithmetic ((k*n + k')/d form), the value read back with a "
    "conditional aggregate over one ranking window — the SLA-reporting "
    "shape (latency p99s, order-value tiers) where approx sketches "
    "(agg_percentile_approx, agg_quantile_sketch) are inadmissible "
    "because the number feeds a contract.  Never percentile_cont: its "
    "even-n interpolation hangs on float expression parity; nearest-rank "
    "returns an actual datum, exact on both engines.  Scale: ONE "
    "exchange on the group key serves the window and the final "
    "aggregate (same-key window+groupBy reuse is pinned by the "
    "window-spec plan tests); all three percentiles read one sort.  "
    "Contrast to a global sort: per-group sorts parallelize across the "
    "cluster, and the conditional-max trick means no second pass.",
)
def agg_percentile_exact_grouped(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    # aggregate-skip: NULL measures excluded before ranking (see oracle)
    v = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.col("o_orderpriority").alias("pri"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    wp = W.partitionBy("pri")
    ranked = v.select(
        "pri",
        "cents",
        F.row_number().over(wp.orderBy("cents")).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n"),
    )

    def at(rank_expr: str):
        return F.max(F.when(F.expr(f"rn = {rank_expr}"), F.col("cents")))

    return ranked.groupBy("pri").agg(
        F.max("n").cast("bigint").alias("n"),
        at("(n + 1) div 2").alias("p50_cents"),
        at("(9 * n + 9) div 10").alias("p90_cents"),
        at("(99 * n + 99) div 100").alias("p99_cents"),
    )


@register(
    "analytics_equidepth_histogram",
    oracle="""
    WITH v AS (
      -- aggregate-skip: a NULL measure belongs to no decile (it would bin
      -- NULLS-FIRST on Spark and NULLS-LAST on DuckDB — null-tier find)
      SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             o_orderkey
      FROM orders WHERE o_totalprice IS NOT NULL
    ),
    binned AS (
      SELECT cents,
             ntile(10) OVER (ORDER BY cents, o_orderkey) AS bin
      FROM v
    )
    SELECT CAST(bin AS BIGINT)      AS bin,
           CAST(count(*) AS BIGINT) AS n,
           min(cents)               AS lo_cents,
           max(cents)               AS hi_cents,
           CAST(sum(cents) AS BIGINT) AS sum_cents
    FROM binned GROUP BY bin
    """,
    doc="EQUI-DEPTH (decile) HISTOGRAM of order value — the histogram "
    "optimizers and drift monitors actually want: equal POPULATION per "
    "bucket, so dense regions get resolution where the fixed-width "
    "analytics_value_histogram smears them into one bar.  Buckets come "
    "from ntile(10) with a (value, key) total order — the unique-key "
    "tiebreak makes boundary assignment deterministic where bare ntile "
    "over tied values is engine-dependent; per-bucket lo/hi expose the "
    "quantile boundaries, sum enables share-of-wallet per decile.  "
    "Scale: the oracle states the buckets as a global ntile, but the "
    "Spark plan NEVER runs an unpartitioned window — it computes each "
    "row's exact global rank distributed (repartitionByRange for a "
    "total order across partitions, sortWithinPartitions inside each, "
    "monotonically_increasing_id to read off (partition, local-rank) "
    "without any window shuffle, then a 32-row cumulative-offset table "
    "broadcast back) and derives the ntile bucket from rank with pure "
    "integer arithmetic — bit-identical to ntile semantics (first "
    "n%k buckets one row larger).  The fact table is touched by ONE "
    "range exchange (reused across the count/rank branches via "
    "ReusedExchange) and every sort is per-partition; the only global "
    "step is the bounded offsets table.  This is the rank-walk remedy "
    "VERDICT r5 item 3 prescribed for the single-reducer ntile.",
)
def analytics_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .scale import distributed_ntile

    # aggregate-skip: NULL measures excluded before binning (see oracle)
    v = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_totalprice").isNotNull())
        .select(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
            "o_orderkey",
        )
    )
    binned = distributed_ntile(v, 10, ["cents", "o_orderkey"], out_col="bin")
    return binned.groupBy("bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("lo_cents"),
        F.max("cents").alias("hi_cents"),
        F.sum("cents").alias("sum_cents"),
    )


@register(
    "agg_hdr_log_histogram",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem
    ),
    b AS (
      SELECT cents,
             length(bin(cents)) AS e,
             (1::BIGINT << (length(bin(cents)) - 1)) AS lo
      FROM v
    ),
    sub AS (
      SELECT e, lo, ((cents - lo) * 4) // lo AS s, cents FROM b
    )
    SELECT CAST(e AS BIGINT)                    AS exponent,
           CAST(s AS BIGINT)                    AS sub_bucket,
           lo + (s * lo) // 4                   AS lo_bound,
           CAST(count(*) AS BIGINT)             AS n,
           min(cents)                           AS min_cents,
           max(cents)                           AS max_cents
    FROM sub GROUP BY e, s, lo
    """,
    doc="HDR-STYLE LOG-LINEAR HISTOGRAM (HdrHistogram / Prometheus-native "
    "bucketing) over line-item value: bucket exponent = BIT LENGTH of the "
    "integer cents (length(bin(x)) — exact on both engines where "
    "floor(log2(x)) via float log2 would be wrong exactly at the "
    "power-of-two boundaries that define the buckets), then 4 linear "
    "sub-buckets per octave via integer division — constant ~6% relative "
    "error across 9 orders of magnitude with a few dozen buckets, which "
    "is why latency SLO pipelines use this layout instead of equi-width "
    "(analytics_value_histogram) or equi-depth (needs a sort).  "
    "Scale: bucketing is codegen bit arithmetic, the aggregate is a "
    "bounded-domain groupBy with map-side partials, and buckets MERGE "
    "trivially across shards/time — the property that makes HDR the "
    "mergeable-histogram standard.",
)
def agg_hdr_log_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "lineitem").select(
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("cents")
    )
    b = v.select(
        "cents",
        F.length(F.bin("cents")).alias("e"),
        # shiftleft's Python wrapper takes only a literal bit count — the SQL
        # form accepts a column expression
        F.expr("shiftleft(CAST(1 AS BIGINT), length(bin(cents)) - 1)").alias("lo"),
    )
    sub = b.select(
        "e", "lo", "cents", F.expr("((cents - lo) * 4) div lo").alias("s")
    )
    return sub.groupBy(
        F.col("e").cast("bigint").alias("exponent"),
        F.col("s").cast("bigint").alias("sub_bucket"),
        F.expr("lo + (s * lo) div 4").alias("lo_bound"),
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.min("cents").alias("min_cents"),
        F.max("cents").alias("max_cents"),
    )


@register(
    "agg_skew_kurtosis_exact",
    oracle="""
    WITH v AS (
      SELECT l_returnflag AS flag,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS x
      FROM lineitem
    ),
    s AS (
      SELECT flag, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(x AS DECIMAL(38, 0))) AS DECIMAL(38, 0)) AS s1,
             CAST(sum(CAST(x AS DECIMAL(38, 0)) * x) AS DECIMAL(38, 0)) AS s2,
             CAST(sum(CAST(x AS DECIMAL(38, 0)) * x * x) AS DECIMAL(38, 0)) AS s3,
             CAST(sum(CAST(x AS DECIMAL(38, 0)) * x * x * x) AS DECIMAL(38, 0)) AS s4
      FROM v GROUP BY flag
    ),
    m AS (
      SELECT flag, n,
             CAST(n AS DOUBLE)  AS nd,
             CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
             CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
      FROM s
    ),
    c AS (
      SELECT flag, n, nd,
             d2 / nd - (d1 / nd) * (d1 / nd) AS m2,
             d3 / nd - 3.0 * (d1 / nd) * (d2 / nd) + 2.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m3,
             d4 / nd - 4.0 * (d1 / nd) * (d3 / nd)
               + 6.0 * (d1 / nd) * (d1 / nd) * (d2 / nd)
               - 3.0 * (d1 / nd) * (d1 / nd) * (d1 / nd) * (d1 / nd) AS m4
      FROM m
    )
    SELECT flag, n,
           CAST(floor(m3 / (m2 * sqrt(m2)) * 1e9 + 0.5) AS BIGINT) AS skew_x1e9,
           CAST(floor((m4 / (m2 * m2) - 3.0) * 1e9 + 0.5) AS BIGINT) AS kurt_x1e9
    FROM c
    """,
    doc="EXACT SKEWNESS & EXCESS KURTOSIS per return flag — the two "
    "higher moments F.skewness/F.kurtosis compute with order-DEPENDENT "
    "float accumulation, done here the agg_correlation_matrix way: "
    "power sums S1..S4 accumulate in DECIMAL(38,0) over integer cents "
    "(EXACT and order-independent — x^4 at 10^7 cents needs ~10^28, "
    "far past int64, inside DECIMAL38), central moments come from the "
    "closed-form binomial expansion on the 5-number summary, and the "
    "only float ops are a fixed expression over per-group scalars — "
    "identical on both engines, nano-quantized.  Distribution-shape "
    "monitoring (drift in tails that mean/variance miss) is the "
    "use case; pairs with dq_population_stability.  Scale: one "
    "partial-agg pass (5 sums per group), formula on the 3-row "
    "aggregate.",
)
def agg_skew_kurtosis_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    v = load(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("x"),
    )
    xd = F.col("x").cast("decimal(38,0)")
    s = v.groupBy("flag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(xd).cast("decimal(38,0)").alias("s1"),
        F.sum(xd * F.col("x")).cast("decimal(38,0)").alias("s2"),
        F.sum(xd * F.col("x") * F.col("x")).cast("decimal(38,0)").alias("s3"),
        F.sum(xd * F.col("x") * F.col("x") * F.col("x")).cast("decimal(38,0)").alias("s4"),
    )
    m = s.select(
        "flag",
        "n",
        F.col("n").cast("double").alias("nd"),
        F.col("s1").cast("double").alias("d1"),
        F.col("s2").cast("double").alias("d2"),
        F.col("s3").cast("double").alias("d3"),
        F.col("s4").cast("double").alias("d4"),
    )
    mean = F.col("d1") / F.col("nd")
    m2 = F.col("d2") / F.col("nd") - mean * mean
    m3 = F.col("d3") / F.col("nd") - 3.0 * mean * (F.col("d2") / F.col("nd")) + 2.0 * mean * mean * mean
    m4 = (
        F.col("d4") / F.col("nd")
        - 4.0 * mean * (F.col("d3") / F.col("nd"))
        + 6.0 * mean * mean * (F.col("d2") / F.col("nd"))
        - 3.0 * mean * mean * mean * mean
    )
    return m.select(
        "flag",
        "n",
        F.floor(m3 / (m2 * F.sqrt(m2)) * 1e9 + 0.5).cast("bigint").alias("skew_x1e9"),
        F.floor((m4 / (m2 * m2) - 3.0) * 1e9 + 0.5).cast("bigint").alias("kurt_x1e9"),
    )
