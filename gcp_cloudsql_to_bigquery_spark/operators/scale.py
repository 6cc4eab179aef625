"""Scale patterns: bucketed co-located joins and salted skew joins.

Neither changes query *semantics* — they are physical-layout levers for the
100 TB regime (pyspark_guide.md "Partitioning & shuffle"):

- **Bucketing** pre-shuffles at write time: two tables bucketed on the join
  key co-locate, so every later join/agg on that key runs with ZERO
  exchanges.  Worth it when a fact table is joined on the same key by many
  queries (lineitem⋈orders on orderkey is the canonical case).
- **Salting** splits a hot key across S sub-keys: the big side gets a
  deterministic salt, the small side is replicated ×S, and the join key
  becomes (key, salt) — no single reducer owns the hot key.  AQE's skew
  split handles moderate skew automatically; salting is for the extreme
  tail (one key ≫ a partition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int, sort_by: str | None = None
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table; later
    equi-joins/aggs on ``key`` skip their shuffle (and with sort_by, the
    sort-merge sort too)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        w = w.sortBy(sort_by)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, on, how: str = "inner"
) -> DataFrame:
    """Join two pre-bucketed tables; with matching bucket specs the plan has
    no Exchange on either side (asserted in tests/test_scale.py)."""
    return spark.table(left_table).join(spark.table(right_table), on, how)


def global_order_stats(
    df: DataFrame,
    order_cols: list,
    val_col: str | None = None,
    n_partitions: int = 32,
    _capacity_rows: int = 1 << 33,
) -> DataFrame:
    """Exact global ORDER-STATISTICS (rank, total, optional running sum)
    WITHOUT any unpartitioned window — the building block behind
    ``distributed_ntile`` and the distributed forms of Pareto/Gini/RFM
    (VERDICT r5 item 3's rank-walk remedy, generalized).

    Appends to ``df``:

    - ``_rn``      — 1-based exact global rank in the given sort order;
    - ``_n_total`` — total row count;
    - ``_cum``     — inclusive running sum of ``val_col`` (only if given).

    How: repartitionByRange gives cross-partition order and
    sortWithinPartitions orders inside each.  Without ``val_col``,
    ``monotonically_increasing_id`` — ``(partition_index << 33) |
    row_index_in_partition`` assigned in stage row order — yields (pid,
    local rank) with bit arithmetic and NO WindowExec over the input at
    all.  With ``val_col``, the per-row running sum needs one window, but
    it is PARTITIONED by the range-partition id — 32 parallel groups, never
    a single reducer.  Either way the only global step is the bounded
    one-row-per-range-partition offsets table (row offset, sum offset,
    total), broadcast back.  The input exchange is reused across the
    stats/rank branches (ReusedExchange), so the data is range-shuffled
    exactly once (+ the pid hash exchange when a running sum is needed).

    ``order_cols`` may mix column names and Column sort orders (e.g.
    ``F.col("cents").desc()``) and must be a total order (include a unique
    tiebreak key).

    **Capacity bound**: the ``monotonically_increasing_id`` bit-decode
    assumes < 2^33 rows (~8.6e9) per range partition — Spark's own id
    layout (33 low bits of per-partition counter).  With the default
    ``n_partitions=32`` that is ~2.7e11 total rows; beyond it, scale
    ``n_partitions`` with input size (rows / 1e9 is a safe rule — range
    partitions stay far under the bound and the offsets table stays
    trivially broadcastable even at 10^5 partitions).  The bound is
    ENFORCED, not silent: a JVM-side ``assert_true`` over the bounded
    per-partition counts fails the job loudly instead of returning a
    wrong rank (tests/test_scale.py pins both directions).
    """
    from pyspark.sql import Window as W

    sort_exprs = [F.col(c) if isinstance(c, str) else c for c in order_cols]
    part = (
        df.repartitionByRange(n_partitions, *sort_exprs)
        .sortWithinPartitions(*sort_exprs)
        .withColumn("_mid", F.monotonically_increasing_id())
        .withColumn("_pid", F.expr("shiftright(_mid, 33)").cast("bigint"))
        .withColumn("_lrn", F.expr("_mid % shiftleft(1L, 33)") + 1)
    )
    # MATERIALIZE once before branching (r14 skewed-volume find, the
    # round's worst bug): the offsets branch and the final-join branch
    # each re-execute this range exchange, and RangePartitioner's boundary
    # SAMPLE depends on the upstream aggregate's row order — which differs
    # between the two branches' column-pruned plans.  Different boundaries
    # => the per-partition counts describe different partition contents
    # than the rows being ranked, and ranks interleave silently (observed:
    # every partition's count differed between branches at sf0.1 volume;
    # ranks off by up to 16 inside tie bands).  localCheckpoint pins ONE
    # physical layout that both branches read.  It holds every row of the
    # df being ranked, at that df's grain: fact-grain when a caller ranks
    # a fact column (elt_incremental_bookmark_extract ranks every non-null
    # orders key), so callers project to the columns they need first.
    part = part.localCheckpoint(eager=True)
    aggs = [F.count(F.lit(1)).alias("_c")]
    if val_col is not None:
        aggs.append(F.sum(val_col).alias("_s"))
    pstats = part.groupBy("_pid").agg(*aggs)
    w_off = W.orderBy("_pid").rowsBetween(W.unboundedPreceding, -1)
    w_tot = W.orderBy(F.lit(1)).rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    # loud capacity guard: monotonically_increasing_id keeps only 33 bits of
    # per-partition counter, so a range partition past 2^33 rows would wrap
    # into the partition-index bits and silently corrupt ranks/offsets.
    # (Detection note: a wrapped partition's overflow rows decode into the
    # NEXT pid, leaving exactly 2^33 rows in its own decoded group, so the
    # strict `<` catches the wrap.)  The assert is folded into BOTH offset
    # columns — _roff (feeds _rn) and _soff (feeds _cum) — so Catalyst
    # cannot prune it away no matter which output the caller consumes; it
    # still evaluates only over the bounded one-row-per-partition stats —
    # zero extra jobs.  _n_total alone needs no guard: the decoded groups
    # partition the rows, so their counts still sum to the true total.
    guard = F.assert_true(
        F.col("_c") < F.lit(_capacity_rows),
        F.lit(
            "global_order_stats: a range partition exceeds 2^33 rows; "
            "monotonically_increasing_id bit-decode would wrap — "
            "raise n_partitions (~rows/1e9 is safe)"
        ),
    )
    sel = [  # bounded: one row per range partition
        F.col("_pid"),
        F.when(
            guard.isNull(), F.coalesce(F.sum("_c").over(w_off), F.lit(0))
        ).alias("_roff"),
        F.sum("_c").over(w_tot).alias("_n_total"),
    ]
    if val_col is not None:
        sel.append(
            F.when(
                guard.isNull(), F.coalesce(F.sum("_s").over(w_off), F.lit(0))
            ).alias("_soff")
        )
    offs = pstats.select(*sel)
    out = part.join(F.broadcast(offs), "_pid").withColumn(
        "_rn", F.col("_roff") + F.col("_lrn")
    )
    drop = ["_mid", "_pid", "_lrn", "_roff"]
    if val_col is not None:
        w_in = (
            W.partitionBy("_pid")
            .orderBy(*sort_exprs)
            .rowsBetween(W.unboundedPreceding, 0)
        )
        out = out.withColumn("_cum", F.col("_soff") + F.sum(val_col).over(w_in))
        drop.append("_soff")
    return out.drop(*drop)


def distributed_ntile(
    df: DataFrame, n_buckets: int, order_cols: list, out_col: str = "bin",
    n_partitions: int = 32,
) -> DataFrame:
    """Exact ``ntile(n_buckets) OVER (ORDER BY order_cols)`` WITHOUT the
    single-reducer global-sort window: the bucket falls out of
    :func:`global_order_stats`'s (rank, total) with pure integer
    arithmetic, bit-identical to SQL ntile semantics (first n%k buckets
    one row larger; formula checked exhaustively in tests/test_round6.py).
    Appends ``out_col`` (bigint bucket in 1..n_buckets) to ``df``."""
    ranked = global_order_stats(df, order_cols, n_partitions=n_partitions)
    k = int(n_buckets)
    return ranked.withColumn(
        out_col,
        F.expr(
            f"CASE WHEN _rn <= (_n_total % {k}) * (_n_total div {k} + 1) "
            f"THEN (_rn - 1) div (_n_total div {k} + 1) + 1 "
            f"ELSE (_n_total % {k}) + (_rn - (_n_total % {k}) * (_n_total div {k} + 1) - 1) "
            f"div greatest(_n_total div {k}, 1) + 1 END"
        ).cast("bigint"),
    ).drop("_n_total", "_rn")


def salted_join(
    big: DataFrame,
    small: DataFrame,
    key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-safe equi-join: big side salted deterministically (hash of the
    whole row's key ⊕ a stable secondary column is unnecessary — pmod of
    xxhash64 over monotonically varying payload spreads a hot key), small
    side replicated ×n_salts.  Result is identical to ``big.join(small,
    key, how)`` for inner/left joins on an equi-key.
    """
    salt_values = [(i,) for i in range(n_salts)]
    salts = big.sparkSession.createDataFrame(salt_values, "salt int")
    # deterministic per-row salt on the big side: hash all big-side columns
    big_salted = big.withColumn(
        "salt", F.pmod(F.xxhash64(*[F.col(c) for c in big.columns]), F.lit(n_salts)).cast("int")
    )
    small_replicated = small.crossJoin(F.broadcast(salts))
    joined = big_salted.join(small_replicated, [key, "salt"], how)
    return joined.drop("salt")


@register(
    "join_salted_skew",
    oracle="""
    SELECT s_name, count(*) AS n_lines,
           round(sum(CAST(round(l_extendedprice * (1 - l_discount) * 10000) AS BIGINT))
                 / 10000.0, 2) AS revenue
    FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
    GROUP BY s_name
    """,
    doc="Skew-safe salted equi-join, oracle-proven IDENTICAL to the plain "
    "join: the big side gets a deterministic per-row salt, the small side is "
    "replicated x8, and the shuffle key becomes (suppkey, salt) so no single "
    "reducer owns a hot supplier.  This is the manual fallback for skew "
    "beyond what AQE's skew-join splitting handles (one key >> a partition); "
    "the aggregation on top re-shuffles by name only after the skew-safe "
    "join has reduced the data.  Revenue sums in exact integer ten-"
    "thousandths so the result is bit-identical regardless of summation "
    "order (see q9).",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    supp = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("l_suppkey"), "s_name"
    )
    joined = salted_join(li, supp, key="l_suppkey", n_salts=8)
    rev10k = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
    ).cast("long")
    return joined.groupBy("s_name").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.round(F.sum(rev10k) / 10000.0, 2).alias("revenue"),
    )


@register(
    "scale_bloom_filter_audit",
    oracle="""
    WITH members AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey % 3 = 0
    ),
    probes AS (
      SELECT c_custkey AS k, (c_custkey % 3 = 0) AS is_member FROM customer
    ),
    mbits AS (
      SELECT h.i,
             CAST('0x' || substr(md5(CAST(m.k AS VARCHAR) || ':' ||
                  CAST(h.i AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM members m CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) h
    ),
    filt AS (
      SELECT CAST((hv // 63) % 64 AS BIGINT) AS lane,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(hv % 63 AS INT)) AS BIGINT)
               AS lane_bits
      FROM mbits GROUP BY 1
    ),
    pbits AS (
      SELECT p.k, p.is_member, h.i,
             CAST('0x' || substr(md5(CAST(p.k AS VARCHAR) || ':' ||
                  CAST(h.i AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM probes p CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) h
    ),
    checked AS (
      SELECT b.k, b.is_member,
             count(*) = 3 AND
             sum(CASE WHEN (f.lane_bits & (CAST(1 AS BIGINT) << CAST(b.hv % 63 AS INT)))
                           <> 0 THEN 1 ELSE 0 END) = 3 AS maybe_present
      FROM pbits b
      LEFT JOIN filt f ON f.lane = CAST((b.hv // 63) % 64 AS BIGINT)
      GROUP BY b.k, b.is_member
    )
    SELECT is_member, maybe_present, CAST(count(*) AS BIGINT) AS n
    FROM checked GROUP BY is_member, maybe_present
    """,
    doc="Relational BLOOM FILTER with a self-auditing contract — the "
    "data structure behind runtime join pruning (the might_contain "
    "plan test in tests/test_scale.py uses Spark's built-in; this one "
    "is built IN the engine so the oracle can replay it bit-for-bit): "
    "a ~4032-bit filter as 64 lanes x 63 usable bits (bit 63 excluded: DuckDB raises on 1<<63 sign-bit shifts), k=3 md5-derived "
    "hashes per key, built with one bit_or group-by (mergeable — lanes "
    "OR across partitions), probed with a 64-row broadcast join.  The "
    "output is the audit matrix: every true member MUST read "
    "maybe_present=true (zero false negatives — the Bloom guarantee, "
    "any other result is a bug), and the (is_member=false, "
    "maybe_present=true) row measures the realized false-positive "
    "rate of the sizing (~4032 bits / ~500 keys x k=3 -> a few % FP).  All integer "
    "bit arithmetic; two's-complement << semantics identical across "
    "engines.",
)
def scale_bloom_filter_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    members = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 3 == 0)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    probes = load(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("k"), (F.col("c_custkey") % 3 == 0).alias("is_member")
    )
    hashes = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i")

    def hv(kcol):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(kcol.cast("string"), F.lit(":"), F.col("i").cast("string")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    mbits = members.select("k", hashes).select(hv(F.col("k")).alias("hv"))
    filt = mbits.select(
        F.expr("(hv div 63) % 64").cast("bigint").alias("lane"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(hv % 63 AS INT))").alias("mask"),
    ).groupBy("lane").agg(F.bit_or("mask").alias("lane_bits"))
    pbits = probes.select("k", "is_member", hashes).select(
        "k", "is_member", hv(F.col("k")).alias("hv")
    )
    joined = pbits.join(
        F.broadcast(filt),
        F.col("lane") == F.expr("CAST((hv div 63) % 64 AS BIGINT)"),
        "left_outer",
    )
    bit_set = (
        F.col("lane_bits").bitwiseAND(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(hv % 63 AS INT))")
        )
        != 0
    )
    checked = joined.groupBy("k", "is_member").agg(
        (
            (F.count(F.lit(1)) == 3)
            & (F.sum(F.when(bit_set, 1).otherwise(0)) == 3)
        ).alias("maybe_present")
    )
    return checked.groupBy("is_member", "maybe_present").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "scale_hash_uniformity_chi2",
    oracle="""
    WITH b AS (
      SELECT CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 8)
                  AS BIGINT) % 64 AS bucket
      FROM orders
    ),
    counts AS (SELECT bucket, CAST(count(*) AS BIGINT) AS o FROM b GROUP BY bucket),
    n AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM counts)
    SELECT n,
           CAST(count(*) AS BIGINT) AS n_buckets,
           CAST(max(o) - min(o) AS BIGINT) AS spread,
           CAST(floor(CAST(sum((64 * o - n) * (64 * o - n)) AS DOUBLE)
                      / (64.0 * n) * 1000 + 0.5) AS BIGINT) AS chi2_x1000,
           floor(CAST(sum((64 * o - n) * (64 * o - n)) AS DOUBLE)
                 / (64.0 * n) * 1000 + 0.5) < 111000 AS uniform_at_p001
    FROM counts CROSS JOIN n
    GROUP BY n
    """,
    doc="Hash-partitioner uniformity audit — the chi-square "
    "goodness-of-fit test on the md5 bucket histogram that underwrites "
    "EVERY load-balance claim in this repo (digest-keyed dedup "
    "shuffles, epoch shards, salting, the Bloom lanes): 64 buckets "
    "over order keys, chi2 = sum((o_b - n/64)^2 / (n/64)) computed as "
    "the integer cross-multiplied form sum((64*o - n)^2) / (64*n) — "
    "no rational arithmetic until the final 1e-3 quantization — and "
    "judged against the df=63, p=0.001 critical value (~103.4; 111 "
    "used as the engine gate with margin).  A skewed hash here means "
    "every 'uniform by construction' claim fails — this query is the "
    "regression tripwire.  One partial-agged groupBy.",
)
def scale_hash_uniformity_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = load(spark, sf_dir, "orders").select(
        (
            F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string").cast("binary")), 1, 8), 16, 10)
            .cast("bigint")
            % 64
        ).alias("bucket")
    )
    counts = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("o"))
    n = counts.agg(F.sum("o").alias("n"))
    dev = (64 * F.col("o") - F.col("n")) * (64 * F.col("o") - F.col("n"))
    chi2 = F.floor(
        F.sum(dev).cast("double") / (64.0 * F.col("n")) * 1000 + 0.5
    )
    return (
        counts.crossJoin(F.broadcast(n))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).alias("n_buckets"),
            (F.max("o") - F.min("o")).alias("spread"),
            chi2.cast("bigint").alias("chi2_x1000"),
            (chi2 < 111000).alias("uniform_at_p001"),
        )
    )


@register(
    "scale_bloom_semi_join",
    oracle="""
    WITH members AS (
      SELECT DISTINCT o_custkey AS k FROM orders WHERE o_custkey % 5 = 1
    ),
    mbits AS (
      SELECT h.i,
             CAST('0x' || substr(md5(CAST(m.k AS VARCHAR) || ':' ||
                  CAST(h.i AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM members m CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) h
    ),
    filt AS (
      SELECT CAST((hv // 63) % 64 AS BIGINT) AS lane,
             CAST(bit_or(CAST(1 AS BIGINT) << CAST(hv % 63 AS INT)) AS BIGINT)
               AS lane_bits
      FROM mbits GROUP BY 1
    ),
    fact AS (
      SELECT l_orderkey, l_linenumber, o_custkey AS k,
             CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
    ),
    fbits AS (
      SELECT f.l_orderkey, f.l_linenumber, f.k, f.cents, h.i,
             CAST('0x' || substr(md5(CAST(f.k AS VARCHAR) || ':' ||
                  CAST(h.i AS VARCHAR)), 1, 8) AS BIGINT) AS hv
      FROM fact f CROSS JOIN (SELECT unnest([0, 1, 2]) AS i) h
    ),
    survived AS (
      SELECT b.l_orderkey, b.l_linenumber, b.k, b.cents
      FROM fbits b
      JOIN filt fl ON fl.lane = CAST((b.hv // 63) % 64 AS BIGINT)
      WHERE (fl.lane_bits & (CAST(1 AS BIGINT) << CAST(b.hv % 63 AS INT))) <> 0
      GROUP BY b.l_orderkey, b.l_linenumber, b.k, b.cents
      HAVING count(*) = 3
    ),
    exact AS (
      SELECT s.cents FROM survived s JOIN members m ON m.k = s.k
    ),
    truth AS (
      SELECT f.cents FROM fact f JOIN members m ON m.k = f.k
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM fact)     AS n_fact,
           (SELECT CAST(count(*) AS BIGINT) FROM survived) AS n_after_bloom,
           (SELECT CAST(count(*) AS BIGINT) FROM exact)    AS n_exact,
           (SELECT CAST(count(*) AS BIGINT) FROM exact)
             = (SELECT CAST(count(*) AS BIGINT) FROM truth) AS lossless,
           (SELECT CAST(coalesce(sum(cents), 0) AS BIGINT) FROM exact)
             AS revenue_cents
    FROM (SELECT 1)
    """,
    doc="Bloom filter APPLIED as a semi-join accelerator — the complete "
    "two-stage pattern runtime filtering implements under the hood "
    "(and scale_bloom_filter_audit measures in isolation): the "
    "dimension's key set compiles to the 64-lane filter, fact rows are "
    "pre-screened by 3 broadcast-hash-lookup bit tests (killing most "
    "non-matches before the shuffle), and the surviving sliver still "
    "flows through the EXACT semi-join — so the result is provably "
    "identical to the unfiltered join (the query emits that equality "
    "as the 'lossless' boolean; false positives only cost work, never "
    "correctness, and false negatives cannot exist).  The output "
    "records the funnel: |fact| -> after-bloom -> exact.  At 100 TB "
    "the filter build is dimension-scan-sized, the probe is "
    "scan-speed, and shuffle volume drops by the pruned fraction.",
)
def scale_bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    members = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_custkey") % 5 == 1)
        .select(F.col("o_custkey").alias("k"))
        .distinct()
    )
    li = load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    o = load(spark, sf_dir, "orders").select("o_orderkey", F.col("o_custkey").alias("k"))
    fact = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "l_orderkey", "l_linenumber", "k", "cents"
    )
    hashes = F.explode(F.array(F.lit(0), F.lit(1), F.lit(2))).alias("i")

    def hv(kcol):
        return F.conv(
            F.substring(
                F.md5(
                    F.concat(kcol.cast("string"), F.lit(":"), F.col("i").cast("string")).cast(
                        "binary"
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("bigint")

    mbits = members.select("k", hashes).select(hv(F.col("k")).alias("hv"))
    filt = mbits.select(
        F.expr("(hv div 63) % 64").cast("bigint").alias("lane"),
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(hv % 63 AS INT))").alias("mask"),
    ).groupBy("lane").agg(F.bit_or("mask").alias("lane_bits"))
    fbits = fact.select("l_orderkey", "l_linenumber", "k", "cents", hashes).select(
        "l_orderkey", "l_linenumber", "k", "cents", hv(F.col("k")).alias("hv")
    )
    probed = fbits.join(
        F.broadcast(filt),
        F.col("lane") == F.expr("CAST((hv div 63) % 64 AS BIGINT)"),
    ).filter(
        F.col("lane_bits").bitwiseAND(
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(hv % 63 AS INT))")
        )
        != 0
    )
    survived = (
        probed.groupBy("l_orderkey", "l_linenumber", "k", "cents")
        .agg(F.count(F.lit(1)).alias("nbits"))
        .filter(F.col("nbits") == 3)
        .drop("nbits")
    )
    exact = survived.join(members, "k", "left_semi")
    truth = fact.join(members, "k", "left_semi")
    n_fact = fact.agg(F.count(F.lit(1)).alias("n_fact"))
    n_bloom = survived.agg(F.count(F.lit(1)).alias("n_after_bloom"))
    ex = exact.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.coalesce(F.sum("cents"), F.lit(0)).cast("bigint").alias("revenue_cents"),
    )
    tr = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    return (
        n_fact.crossJoin(F.broadcast(n_bloom))
        .crossJoin(F.broadcast(ex))
        .crossJoin(F.broadcast(tr))
        .select(
            "n_fact",
            "n_after_bloom",
            "n_exact",
            (F.col("n_exact") == F.col("n_truth")).alias("lossless"),
            "revenue_cents",
        )
    )
