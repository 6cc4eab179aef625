"""Time-series smoothing / anomaly operators over the ``events`` stream:
exponentially weighted moving average and rolling z-score anomaly flags.

Complements windows.py's gapfill/hypertable/session suite (SURVEY.md §2B
window-function surface).  Both operators follow the repo's exactness
discipline: every float that crosses the oracle boundary is either an
integer-derived double (exact) or micro-quantized with floor(x*K+0.5), so
DuckDB states the identical value.

Scale notes: both are single window passes partitioned by the series key
over pre-aggregated (series, bucket) rows — the shuffle carries one row
per bucket (already reduced from raw events by a partial-aggregated
groupBy), and the window state per task is a bounded lag buffer.  That is
the canonical 100 TB telemetry shape: reduce first, smooth second.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

_EWMA_K = 10  # lag horizon: alpha = 1/2, weights 2^0 .. 2^-(K-1)


def _events_on_axis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``events`` rows that exist on the time axis: NULL ``ts`` excluded.

    Family-wide null-KEYS contract (round 13): every operator in this
    module regrains events onto a time grid (date_trunc hour/day) and
    orders/windows along it — a NULL timestamp has no position there, and
    leaving it in diverges on engine null-placement in every ordered
    window.  Each oracle states the same ``ts IS NOT NULL``."""
    return load(spark, sf_dir, "events").filter(F.col("ts").isNotNull())


def _hourly_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(event_type, h, cents): hourly value totals in exact integer cents —
    the shared pre-reduction for both operators."""
    ev = _events_on_axis(spark, sf_dir)
    return (
        ev.select(
            "event_type",
            F.date_trunc("hour", F.col("ts")).alias("h"),
            F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("c"),
        )
        .groupBy("event_type", "h")
        .agg(F.sum("c").alias("cents"))
    )


_DUCK_HOURLY = """
    hourly AS (
      SELECT event_type, date_trunc('hour', CAST(ts AS TIMESTAMP)) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY event_type, h
    )"""


@register(
    "ts_ewma",
    oracle=f"""
    WITH {_DUCK_HOURLY},
    lagged AS (
      SELECT event_type, h, cents,
             row_number() OVER w AS rn,
             {" + ".join(
                 f"coalesce(lag(cents, {i}) OVER w, 0) * pow(2.0, -{i})"
                 for i in range(_EWMA_K)
             )} AS num
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h)
    )
    SELECT event_type, h, cents,
           CAST(least(rn, {_EWMA_K}) AS BIGINT) AS n_obs,
           CAST(floor(num / (2.0 - pow(2.0, 1 - least(rn, {_EWMA_K}))) / 100.0
                      * 1e4 + 0.5) AS BIGINT) AS ewma_x10k
    FROM lagged
    """,
    doc="Observation-indexed EWMA (alpha=1/2) per event-type hourly series: "
    "weights 2^-i over the last 10 observed buckets, normalized by the "
    "present-weight sum 2 - 2^(1-n).  alpha=1/2 makes every weight and "
    "partial denominator an exact power of two and the numerator an exact "
    "integer-times-2^-i sum, so both engines compute bit-identical doubles "
    "and the x10k fixed-point output needs no tolerance.  One window pass "
    "over pre-reduced hourly rows (10 lags share a single window spec — "
    "one exchange + one sort); gaps are handled by the observation index "
    "(see ts_gapfill_* for clock-indexed filling).  At 100 TB the window "
    "state is a 10-row lag buffer per series partition.",
)
def ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_cents(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("h")
    num = None
    for i in range(_EWMA_K):
        term = F.coalesce(F.lag("cents", i).over(w), F.lit(0)) * F.pow(F.lit(2.0), F.lit(-i))
        num = term if num is None else num + term
    rn = F.row_number().over(w)
    n_obs = F.least(rn, F.lit(_EWMA_K))
    den = F.lit(2.0) - F.pow(F.lit(2.0), F.lit(1) - n_obs)
    return hourly.select(
        "event_type",
        "h",
        "cents",
        n_obs.cast("bigint").alias("n_obs"),
        F.floor(num / den / 100.0 * 1e4 + 0.5).cast("bigint").alias("ewma_x10k"),
    )


_Z_WIN = 24  # trailing buckets in the anomaly baseline


@register(
    "ts_anomaly_zscore",
    oracle=f"""
    WITH {_DUCK_HOURLY},
    rolled AS (
      SELECT event_type, h, cents,
             count(*)                                   OVER w AS n,
             CAST(sum(CAST(cents AS DOUBLE))            OVER w AS DOUBLE) AS sumx,
             CAST(sum(CAST(cents AS DOUBLE) * cents)    OVER w AS DOUBLE) AS sumx2
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN {_Z_WIN} PRECEDING AND 1 PRECEDING)
    )
    SELECT event_type, h, cents,
           CAST(n AS BIGINT) AS n_baseline,
           n >= 2 AND
           (n * cents - sumx) * (n * cents - sumx) * (n - 1)
             > 9.0 * n * (n * sumx2 - sumx * sumx)
           AS is_anomaly
    FROM rolled
    """,
    doc="Rolling z-score anomaly detection per event-type hourly series: "
    "flag buckets where (x - mean)^2 > 9 * var_samp over the trailing "
    "24-bucket baseline (|z| > 3, baseline excludes the current bucket).  "
    "The test is evaluated in CROSS-MULTIPLIED integer form — "
    "(n*x - sumx)^2 * (n-1) > 9 * n * (n*sumx2 - sumx^2) — with operands "
    "carried as DOUBLES on both engines: no division, no sqrt, and every "
    "operand integer-exact while windowed sums of cents^2 stay under 2^53 "
    "(per-bucket totals <= ~1.9e7 cents; the fixture is 100x inside). "
    "int64 would silently WRAP on Spark past 2^63 while DuckDB widens to "
    "HUGEINT — doubles keep the two engines semantics-identical instead.  One "
    "window spec computes count/sum/sum-of-squares together: one exchange, "
    "one sort, O(1) incremental frame state — the streaming-friendly "
    "anomaly shape at any scale.",
)
def ts_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_cents(spark, sf_dir)
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-_Z_WIN, -1)
    )
    # operands are DOUBLES on both sides (sum of cents-as-double, sum of
    # cents^2-as-double): int64 would WRAP silently past 2^63 on the Spark
    # side while DuckDB widens to HUGEINT — a silent cross-engine split.
    # Doubles degrade identically-in-kind instead, and every operand stays
    # integer-EXACT while the windowed sum of cents^2 < 2^53 — i.e.
    # per-bucket totals up to ~1.9e7 cents, 100x above the fixture.
    n = F.count(F.lit(1)).over(w)
    sumx = F.sum(F.col("cents").cast("double")).over(w)
    sumx2 = F.sum(F.col("cents").cast("double") * F.col("cents")).over(w)
    dev = n * F.col("cents") - sumx
    lhs = dev * dev * (n - 1)
    rhs = 9.0 * n * (n * sumx2 - sumx * sumx)
    return hourly.select(
        "event_type",
        "h",
        "cents",
        n.cast("bigint").alias("n_baseline"),
        ((n >= 2) & (lhs > rhs)).alias("is_anomaly"),
    )


@register(
    "ts_seasonal_profile",
    oracle=f"""
    WITH {_DUCK_HOURLY},
    prof AS (
      SELECT event_type, CAST(hour(h) AS INT) AS hod,
             CAST(count(*) AS BIGINT) AS n_obs,
             CAST(floor(avg(CAST(cents AS DOUBLE)) * 100 + 0.5) AS BIGINT) AS avg_cents_x100
      FROM hourly GROUP BY event_type, hod
    )
    SELECT event_type, hod, n_obs, avg_cents_x100,
           CAST(floor(CAST(avg_cents_x100 AS DOUBLE)
                      / sum(avg_cents_x100) OVER (PARTITION BY event_type)
                      * 1e6 + 0.5) AS BIGINT) AS share_x1e6,
           avg_cents_x100 = max(avg_cents_x100)
             OVER (PARTITION BY event_type) AS is_peak_hour
    FROM prof
    """,
    doc="Seasonal (hour-of-day) profile decomposition: the additive-"
    "seasonality building block — mean hourly level per (series, "
    "hour-of-day), each hour's share of the daily total, and the peak-"
    "hour flag.  Subtracting this profile deseasonalizes the series for "
    "the z-score detector (ts_anomaly_zscore), the classic decompose-"
    "then-detect telemetry pipeline.  Arithmetic: integer cents → "
    "fixed-point x100 means → share over the PROFILE table (24 rows per "
    "series), so the window runs on group-count-sized data, never raw "
    "events.  Two shuffles total at any scale: the pre-reduction and the "
    "24-row-per-series profile window.",
)
def ts_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_cents(spark, sf_dir)
    prof = (
        hourly.groupBy("event_type", F.hour("h").cast("int").alias("hod"))
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.floor(F.avg(F.col("cents").cast("double")) * 100 + 0.5)
            .cast("bigint")
            .alias("avg_cents_x100"),
        )
    )
    w = W.partitionBy("event_type")
    share = F.floor(
        F.col("avg_cents_x100").cast("double")
        / F.sum("avg_cents_x100").over(w)
        * 1e6
        + 0.5
    ).cast("bigint")
    return prof.select(
        "event_type",
        "hod",
        "n_obs",
        "avg_cents_x100",
        share.alias("share_x1e6"),
        (F.col("avg_cents_x100") == F.max("avg_cents_x100").over(w)).alias("is_peak_hour"),
    )


@register(
    "ts_time_weighted_avg",
    oracle="""
    WITH pts AS (
      SELECT event_type,
             CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             epoch_us(CAST(ts AS TIMESTAMP)) AS t_us,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
      WHERE ts IS NOT NULL
    ),
    seg AS (
      SELECT event_type, d, t_us, cents,
             lead(t_us) OVER w AS next_us
      FROM pts
      WINDOW w AS (PARTITION BY event_type, d ORDER BY t_us, cents)
    ),
    acc AS (
      SELECT event_type, d,
             CAST(count(*) AS BIGINT) AS n_obs,
             CAST(max(t_us) - min(t_us) AS BIGINT) AS span_us,
             CAST(sum(CASE WHEN next_us IS NULL THEN 0
                           ELSE cents * (next_us - t_us) END) AS BIGINT)
               AS integral_cents_us
      FROM seg GROUP BY event_type, d
    )
    SELECT event_type, d, n_obs, span_us, integral_cents_us,
           CAST((200 * integral_cents_us + span_us) // (2 * span_us) AS BIGINT)
             AS twa_cents_x100
    FROM acc WHERE n_obs >= 2
    """,
    doc="Time-weighted average over irregular samples (TimescaleDB "
    "time_weighted_average, LOCF weighting): per (event_type, day), each "
    "observation is held until the next one, so the integral is "
    "sum(cents_i * (t_{i+1} - t_i)) over the observed span and "
    "TWA = integral / span.  Arithmetic is EXACT end-to-end: timestamps in "
    "integer microseconds, values in integer cents, and the final rounded "
    "division floor(100*I/S + 0.5) is computed as the integer "
    "(200*I + S) div (2*S) — no doubles cross the oracle boundary (the "
    "integral can exceed 2^53, where a double division would silently "
    "round; bounds: span <= 8.64e10 us/day * cents <= ~5e4 keeps "
    "200*I < 2^63 with 3 orders of margin).  Ties on t_us are ordered by "
    "cents so lead() is deterministic on both engines.  One window pass + "
    "one aggregate over (event_type, day) partitions: the day bound keeps "
    "per-partition state O(points/day) and the shuffle key matches the "
    "natural telemetry partitioning at 100 TB.",
)
def ts_time_weighted_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir)
    pts = ev.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("d"),
        F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    w = W.partitionBy("event_type", "d").orderBy("t_us", "cents")
    seg = pts.withColumn("next_us", F.lead("t_us").over(w))
    acc = seg.groupBy("event_type", "d").agg(
        F.count(F.lit(1)).alias("n_obs"),
        (F.max("t_us") - F.min("t_us")).alias("span_us"),
        F.sum(
            F.when(F.col("next_us").isNull(), F.lit(0)).otherwise(
                F.col("cents") * (F.col("next_us") - F.col("t_us"))
            )
        ).alias("integral_cents_us"),
    )
    return acc.filter(F.col("n_obs") >= 2).select(
        "event_type",
        "d",
        "n_obs",
        "span_us",
        "integral_cents_us",
        F.expr("(200 * integral_cents_us + span_us) div (2 * span_us)")
        .cast("bigint")
        .alias("twa_cents_x100"),
    )


@register(
    "ts_counter_rate",
    oracle=f"""
    WITH {_DUCK_HOURLY},
    d AS (
      SELECT event_type, h, cents,
             cents - lag(cents) OVER w AS delta
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h)
    ),
    inc AS (
      SELECT event_type, h, cents,
             CASE WHEN delta IS NULL THEN NULL
                  WHEN delta < 0 THEN cents
                  ELSE delta END AS increase,
             delta < 0 AS is_reset
      FROM d
    )
    SELECT event_type, h, cents,
           CAST(increase AS BIGINT) AS increase,
           coalesce(is_reset, FALSE) AS is_reset,
           CAST(sum(coalesce(increase, 0))
                OVER (PARTITION BY event_type ORDER BY h) AS BIGINT)
             AS cum_increase
    FROM inc
    """,
    doc="Counter-reset-aware rate extraction (the Prometheus/TimescaleDB "
    "counter_agg 'increase' semantics): per series, the per-bucket increase "
    "is the delta to the previous sample unless the counter went DOWN — a "
    "reset — in which case the post-reset absolute value is the increase "
    "(the counter restarted from zero).  First sample has no baseline → "
    "NULL increase, excluded from the cumulative sum.  Integer cents "
    "end-to-end.  Plan: the pre-reduction groupBy plus ONE (series)-keyed "
    "window pass that computes lag, reset flag, and running total under a "
    "single window spec — one exchange, one sort, O(1) frame state; at "
    "100 TB the shuffle carries one row per (series, bucket), never raw "
    "samples.",
)
def ts_counter_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_cents(spark, sf_dir)
    w = W.partitionBy("event_type").orderBy("h")
    delta = F.col("cents") - F.lag("cents").over(w)
    d = hourly.withColumn("delta", delta)
    inc = d.select(
        "event_type",
        "h",
        "cents",
        F.when(F.col("delta").isNull(), F.lit(None))
        .when(F.col("delta") < 0, F.col("cents"))
        .otherwise(F.col("delta"))
        .alias("increase"),
        (F.col("delta") < 0).alias("is_reset"),
    )
    return inc.select(
        "event_type",
        "h",
        "cents",
        F.col("increase").cast("bigint").alias("increase"),
        F.coalesce("is_reset", F.lit(False)).alias("is_reset"),
        F.sum(F.coalesce("increase", F.lit(0)))
        .over(W.partitionBy("event_type").orderBy("h"))
        .cast("bigint")
        .alias("cum_increase"),
    )


@register(
    "ts_m4_downsample",
    oracle=f"""
    WITH {_DUCK_HOURLY},
    spans AS (
      SELECT event_type, min(h) AS h0 FROM hourly GROUP BY event_type
    ),
    bucketed AS (
      SELECT o.event_type, o.h, o.cents,
             CAST(floor(date_diff('hour', s.h0, o.h) / 24) AS BIGINT) AS bucket
      FROM hourly o JOIN spans s ON s.event_type = o.event_type
    )
    SELECT event_type, bucket,
           CAST(count(*) AS BIGINT)  AS n_points,
           CAST(min(cents) AS BIGINT) AS min_cents,
           CAST(max(cents) AS BIGINT) AS max_cents,
           CAST(min_by(cents, h) AS BIGINT) AS first_cents,
           CAST(max_by(cents, h) AS BIGINT) AS last_cents
    FROM bucketed GROUP BY event_type, bucket
    """,
    doc="M4 downsampling (Jugel et al. 2014, the visualization-lossless "
    "time-series reduction every monitoring stack ships): per (series, "
    "pixel-bucket) keep exactly min, max, first, last — the four points "
    "that determine the rendered line — here at a 24-hour bucket per "
    "series-relative origin.  first/last are min_by/max_by on the "
    "timestamp (hourly buckets are unique within a series, so the "
    "selection is deterministic on both engines).  ONE partial-"
    "aggregated groupBy computes all four extremes together: the "
    "100 TB dashboard query reduces server-side to 4 points per pixel "
    "instead of shipping raw points.  Integer cents end-to-end.",
)
def ts_m4_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    hourly = _hourly_cents(spark, sf_dir)
    spans = hourly.groupBy("event_type").agg(F.min("h").alias("h0"))
    bucketed = hourly.join(F.broadcast(spans), "event_type").select(
        "event_type",
        "h",
        "cents",
        F.floor(
            (F.unix_timestamp("h") - F.unix_timestamp("h0")) / 3600 / 24
        ).cast("bigint").alias("bucket"),
    )
    return bucketed.groupBy("event_type", "bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.min("cents").cast("bigint").alias("min_cents"),
        F.max("cents").cast("bigint").alias("max_cents"),
        F.min_by("cents", "h").cast("bigint").alias("first_cents"),
        F.max_by("cents", "h").cast("bigint").alias("last_cents"),
    )


@register(
    "ts_outlier_mad",
    oracle="""
    WITH pts AS (
      SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
      WHERE ts IS NOT NULL
    ),
    med AS (
      SELECT event_type, CAST(2 * median(cents) AS BIGINT) AS med2
      FROM pts GROUP BY event_type
    ),
    dev AS (
      SELECT p.event_type, p.cents, abs(2 * p.cents - m.med2) AS d2
      FROM pts p JOIN med m ON m.event_type = p.event_type
    ),
    mad AS (
      SELECT event_type, CAST(2 * median(d2) AS BIGINT) AS mad4
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, m.med2, a.mad4,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(CASE WHEN 2 * d.d2 > 3 * a.mad4 THEN 1 END) AS BIGINT)
             AS n_outliers
    FROM dev d
    JOIN med m ON m.event_type = d.event_type
    JOIN mad a ON a.event_type = d.event_type
    GROUP BY d.event_type, m.med2, a.mad4
    """,
    doc="Robust outlier detection via Median Absolute Deviation — the "
    "telemetry-quality screen that, unlike the z-score variant "
    "(ts_anomaly_zscore), is not itself corrupted by the outliers it "
    "hunts (50% breakdown point vs 0%).  Exactness trick: medians of "
    "integers are half-integers, so everything is carried in DOUBLED "
    "units — med2 = 2*median(cents), d2 = |2x - med2|, mad4 = "
    "2*median(d2) — and the 3-sigma-equivalent cut |x-med| > 3*MAD "
    "becomes the pure integer comparison 2*d2 > 3*mad4; no float ever "
    "crosses an engine boundary.  Scale: two grouped exact medians over "
    "(event_type) partitions + one broadcast join of the 5-row "
    "median/MAD tables back onto the points; at 100 TB swap the exact "
    "median for the mergeable quantile sketch (agg_quantile_sketch) "
    "with the identical downstream algebra.",
)
def ts_outlier_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE fact scan: collapse to the per-(series, value) DISTRIBUTION
    # (value-cardinality-sized; its consumers read the one aggregate
    # exchange back), then both medians become weighted medians over the
    # collapsed table via cumulative walks — the plan-audit fix over
    # median-on-raw-rows, which re-expanded the fact scan per consumer
    # (5 scans -> 1).  Interpolated-median
    # parity: med2 = rank-ceil(n/2) value + rank-(floor(n/2)+1) value.
    pts = _events_on_axis(spark, sf_dir).select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents")
    )
    dist = (
        pts.groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).alias("w"))
    )

    def weighted_med2(df: DataFrame, valcol: str) -> DataFrame:
        nn = df.groupBy("event_type").agg(F.sum("w").alias("n"))
        wcum = W.partitionBy("event_type").orderBy(valcol).rowsBetween(
            W.unboundedPreceding, 0
        )
        cum = df.withColumn("cum", F.sum("w").over(wcum)).join(
            F.broadcast(nn), "event_type"
        )
        lo_rank = F.expr("(n + 1) div 2")
        hi_rank = F.expr("n div 2 + 1")
        return cum.groupBy("event_type").agg(
            (
                F.min(F.when(F.col("cum") >= lo_rank, F.col(valcol)))
                + F.min(F.when(F.col("cum") >= hi_rank, F.col(valcol)))
            ).alias("m2")
        )

    med = weighted_med2(dist, "cents").withColumnRenamed("m2", "med2")
    dev = (
        dist.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(2 * F.col("cents") - F.col("med2")).alias("d2"),
            "w",
        )
        .groupBy("event_type", "d2")
        .agg(F.sum("w").alias("w"))
    )
    # m2 over the deviation distribution IS 2*median(d2) = mad4 directly
    mad = weighted_med2(dev.withColumnRenamed("d2", "cents"), "cents").select(
        "event_type", F.col("m2").cast("bigint").alias("mad4")
    )
    return (
        dev.join(F.broadcast(med), "event_type")
        .join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med2", "mad4")
        .agg(
            F.sum("w").alias("n"),
            F.sum(F.when(2 * F.col("d2") > 3 * F.col("mad4"), F.col("w")).otherwise(0)).alias(
                "n_outliers"
            ),
        )
    )


@register(
    "ts_ma_decompose",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    trend AS (
      SELECT event_type, h, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS wsum,
             CAST(count(*) OVER w AS BIGINT) AS wn
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    detr AS (
      SELECT event_type, CAST(extract(hour FROM h) AS INT) AS hod,
             cents - CAST((2 * wsum + wn) // (2 * wn) AS BIGINT) AS resid
      FROM trend WHERE wn = 25
    )
    SELECT event_type, hod,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor((2 * sum(resid) + count(*)) / (2.0 * count(*))) AS BIGINT)
             AS seasonal_cents
    FROM detr GROUP BY event_type, hod
    """,
    doc="Classical moving-average seasonal decomposition (the additive "
    "decompose behind every monitoring dashboard): hourly revenue series "
    "per event_type, trend = centered 25-hour moving average (complete "
    "windows only), seasonal = hour-of-day mean of the detrended "
    "residual.  Exact integers: hourly sums are integer cents, the "
    "trend is the rounded integer division (2S+n) div (2n) (positive "
    "sums — div == floor), and the seasonal mean (residuals CAN be "
    "negative) uses explicit floor() on an exact double.  Shuffle "
    "profile: one partial-agg reduce to (series, hour) — the hypertable "
    "regrain — then ONE window exchange shared by sum/count (same "
    "frame), then a 120-group aggregate; fact rows cross the wire once.",
)
def ts_ma_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("cents"))
    w = (
        W.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(-12, 12)
    )
    trend = hourly.select(
        "event_type",
        "h",
        "cents",
        F.sum("cents").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    ).filter(F.col("wn") == 25)
    detr = trend.select(
        "event_type",
        F.hour("h").alias("hod"),
        (F.col("cents") - F.expr("(2 * wsum + wn) div (2 * wn)")).alias("resid"),
    )
    return detr.groupBy("event_type", "hod").agg(
        F.count(F.lit(1)).alias("n"),
        F.floor((2 * F.sum("resid") + F.count(F.lit(1))) / (2.0 * F.count(F.lit(1))))
        .cast("bigint")
        .alias("seasonal_cents"),
    )


@register(
    "ts_cusum_changepoint",
    oracle="""
    WITH pts AS (
      SELECT event_type, CAST(ts AS TIMESTAMP) AS ts, event_id,
             CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
      FROM events
      WHERE ts IS NOT NULL
    ),
    med AS (
      SELECT event_type, CAST(2 * median(cents) AS BIGINT) AS med2
      FROM pts GROUP BY event_type
    ),
    dev AS (
      SELECT p.event_type, p.ts, p.event_id,
             2 * p.cents - m.med2 AS dev2
      FROM pts p JOIN med m ON m.event_type = p.event_type
    ),
    c1 AS (
      SELECT event_type, ts, event_id,
             CAST(sum(dev2) OVER w AS BIGINT) AS c
      FROM dev
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    ),
    cum AS (
      SELECT event_type, c,
             least(CAST(min(c) OVER w AS BIGINT), 0) AS floor_c
      FROM c1
      WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(c - floor_c) AS BIGINT) AS max_cusum2,
           CAST(count(CASE WHEN c - floor_c > 2000000 THEN 1 END) AS BIGINT)
             AS n_alarms
    FROM cum GROUP BY event_type
    """,
    doc="Change-point detection via Page's one-sided CUSUM — the "
    "sequential drift detector (S_t = max(0, S_{t-1} + x_t - target)) "
    "re-expressed DECLARATIVELY: the reset-at-zero recurrence equals "
    "cumsum(dev) - min(0, running_min(cumsum(dev))), two stacked window "
    "functions over ONE (series, time) window spec — no recursion, no "
    "UDF, one shuffle; this identity is what makes CUSUM runnable as a "
    "plain windowed query at 100 TB.  Target = per-series exact median "
    "in doubled units (the ts_outlier_mad integer discipline), "
    "deviations and statistics all exact integers, deterministic "
    "(ts, event_id) order.  Output per series: the peak CUSUM "
    "statistic and the alarm count above a 10k-cent threshold.",
)
def ts_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _events_on_axis(spark, sf_dir).select(
        "event_type",
        "ts",
        "event_id",
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    med = pts.groupBy("event_type").agg(
        (2 * F.median("cents")).cast("bigint").alias("med2")
    )
    dev = pts.join(F.broadcast(med), "event_type").select(
        "event_type", "ts", "event_id", (2 * F.col("cents") - F.col("med2")).alias("dev2")
    )
    w = W.partitionBy("event_type").orderBy("ts", "event_id").rowsBetween(
        W.unboundedPreceding, 0
    )
    cum = dev.select(
        "event_type",
        "ts",
        "event_id",
        F.sum("dev2").over(w).alias("c"),
    ).select(
        "event_type",
        "c",
        # the running min must include the EMPTY prefix (0): Page's
        # recurrence starts at S_0 = 0, so S_t = C_t - min(0, min_j C_j)
        F.least(F.min("c").over(w), F.lit(0)).alias("floor_c"),
    )
    stat = F.col("c") - F.col("floor_c")
    return cum.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.max(stat).alias("max_cusum2"),
        F.count(F.when(stat > 2000000, 1)).alias("n_alarms"),
    )


@register(
    "ts_moving_median",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, h, cents,
             CAST(2 * median(cents) OVER w AS BIGINT) AS med2,
             CAST(count(*) OVER w AS BIGINT) AS wn
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    )
    SELECT event_type, h, cents, med2
    FROM med WHERE wn = 25
    """,
    doc="Moving MEDIAN smoother — the robust counterpart of the moving "
    "average (ts_ma_decompose): a single spike pollutes a 25-hour mean "
    "for 25 windows but a median for none, which is why monitoring "
    "baselines prefer it.  Spark has no median-over-frame (analysis "
    "error), so it is COMPOSED: sort_array(collect_list(x) over frame) "
    "+ element_at picks both middle elements, and med2 = arr[(n+1) div "
    "2] + arr[n div 2 + 1] equals 2*median for every parity in exact "
    "integer doubled units — matching DuckDB's native windowed median "
    "bit-for-bit.  Frame state is the 25-element array (bounded); one "
    "window exchange after the hourly regrain, complete windows only.",
)
def ts_moving_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("cents"))
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    arr = F.sort_array(F.collect_list("cents").over(w))
    out = hourly.select(
        "event_type",
        "h",
        "cents",
        arr.alias("arr"),
    ).select(
        "event_type",
        "h",
        "cents",
        (
            F.element_at("arr", F.expr("CAST((size(arr) + 1) div 2 AS INT)"))
            + F.element_at("arr", F.expr("CAST(size(arr) div 2 + 1 AS INT)"))
        ).cast("bigint").alias("med2"),
        F.size("arr").alias("wn"),
    )
    return out.filter(F.col("wn") == 25).drop("wn")


@register(
    "ts_autocorrelation",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    lagged AS (
      SELECT event_type, l.lag AS lag, cents AS x,
             lag(cents, l.lag) OVER (PARTITION BY event_type, l.lag ORDER BY h) AS y
      FROM hourly CROSS JOIN (SELECT unnest([1, 24]) AS lag) l
    ),
    mom AS (
      -- product moments in DECIMAL (x*y overflows int64 on extreme cents);
      -- plain sums stay BIGINT (realistic corpus bound)
      SELECT event_type, lag,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS sxy,
             sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS sxx,
             sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS syy
      FROM lagged WHERE y IS NOT NULL
      GROUP BY event_type, lag
    )
    SELECT event_type, CAST(lag AS BIGINT) AS lag, n AS n_pairs,
           -- all moments converted to DOUBLE before the formula (the raw
           -- integer products would overflow); exact-int -> double is
           -- uniquely defined, so both engines agree bit-for-bit
           CAST(floor((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                       - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                             * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                                - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                      * 1e6 + 0.5) AS BIGINT) AS acf_x1e6
    FROM mom
    """,
    doc="Autocorrelation function at lags 1 and 24 — the seasonality "
    "detector (a strong lag-24 ACF on hourly data IS daily seasonality; "
    "it picks the period that ts_seasonal_profile then profiles): "
    "Pearson r between the series and its k-shifted self, computed "
    "ENTIRELY from integer sufficient statistics (n, Σx, Σy, Σxy, Σx², "
    "Σy² over the aligned pairs — cents² sums < 2^53) with one "
    "identical double expression at the end, quantized 1e-6.  Shuffle "
    "profile: hourly regrain reduce, then ONE window exchange on "
    "(series, lag) for the shift — the lag join is a window function, "
    "not a self-join — then a 10-group moment aggregate.",
)
def ts_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("cents"))
    # Spark's F.lag needs a literal offset — one branch per lag, unioned
    # (two window passes over the tiny hourly table)
    parts = []
    for k in (1, 24):
        wk = W.partitionBy("event_type").orderBy("h")
        parts.append(
            hourly.select(
                "event_type",
                F.lit(k).alias("lag"),
                F.col("cents").alias("x"),
                F.lag("cents", k).over(wk).alias("y"),
            )
        )
    lagged = parts[0].unionByName(parts[1]).filter(F.col("y").isNotNull())
    # product moments in DECIMAL(38,0): a single extreme value (cents ~
    # 1e11) makes x*y overflow int64, which Spark non-ANSI WRAPS SILENTLY
    # — the worst failure mode for a statistic.  The decimal sums stay
    # exact integers; plain sums keep BIGINT (Σ|cents| < 2^63 is a
    # realistic corpus bound; per-row squares are not).
    xd = F.col("x").cast("decimal(19,0)")
    yd = F.col("y").cast("decimal(19,0)")
    mom = lagged.groupBy("event_type", "lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(xd * yd).alias("sxy"),
        F.sum(xd * xd).alias("sxx"),
        F.sum(yd * yd).alias("syy"),
    )
    # final scalar formula entirely in DOUBLE, every moment converted
    # EXPLICITLY (exact integer -> double is uniquely defined, so both
    # engines compute bit-identical doubles); the raw integer products
    # n*sxy / sx*sy would themselves overflow int64
    dn = F.col("n").cast("double")
    dsx, dsy = F.col("sx").cast("double"), F.col("sy").cast("double")
    dsxy = F.col("sxy").cast("double")
    dsxx, dsyy = F.col("sxx").cast("double"), F.col("syy").cast("double")
    r = (dn * dsxy - dsx * dsy) / F.sqrt(
        (dn * dsxx - dsx * dsx) * (dn * dsyy - dsy * dsy)
    )
    return mom.select(
        "event_type",
        F.col("lag").cast("bigint").alias("lag"),
        F.col("n").alias("n_pairs"),
        F.floor(r * 1e6 + 0.5).cast("bigint").alias("acf_x1e6"),
    )


@register(
    "ts_anomaly_seasonal_residual",
    oracle="""
    WITH hourly AS (
      SELECT event_type,
             CAST(date_trunc('hour', CAST(ts AS TIMESTAMP)) AS TIMESTAMP) AS h,
             CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    ),
    trend AS (
      SELECT event_type, h, cents,
             CAST(sum(cents) OVER w AS BIGINT) AS wsum,
             CAST(count(*) OVER w AS BIGINT) AS wn
      FROM hourly
      WINDOW w AS (PARTITION BY event_type ORDER BY h
                   ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
    ),
    resid AS (
      SELECT event_type, h,
             cents - CAST((2 * wsum + wn) // (2 * wn) AS BIGINT) AS r
      FROM trend WHERE wn = 25
    ),
    rmad AS (
      SELECT event_type,
             CAST(2 * median(r) AS BIGINT) AS rmed2
      FROM resid GROUP BY event_type
    ),
    dev AS (
      SELECT r.event_type, r.h, r.r, abs(2 * r.r - m.rmed2) AS d2
      FROM resid r JOIN rmad m ON m.event_type = r.event_type
    ),
    dmad AS (
      SELECT event_type, CAST(2 * median(d2) AS BIGINT) AS mad4
      FROM dev GROUP BY event_type
    )
    SELECT d.event_type, d.h, d.r AS residual_cents
    FROM dev d JOIN dmad a ON a.event_type = d.event_type
    WHERE 2 * d.d2 > 6 * a.mad4
    """,
    doc="Seasonal-residual anomaly detection — the composition the "
    "individual kernels exist FOR: detrend with the centered moving "
    "average (ts_ma_decompose's trend), then flag hours whose residual "
    "deviates from the residual median by more than 6x the residual "
    "MAD (ts_outlier_mad's doubled-units integer discipline, threshold "
    "doubled vs the raw-value screen because residuals are already "
    "centered).  This is the production anomaly detector shape "
    "(decompose -> robust threshold) that neither raw z-scores (trend "
    "pollutes) nor raw MAD (seasonality pollutes) gets right.  One "
    "window pass + two grouped medians + broadcast joins of 5-row "
    "tables; all arithmetic exact integers.",
)
def ts_anomaly_seasonal_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir)
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")).alias("cents"))
    w = W.partitionBy("event_type").orderBy("h").rowsBetween(-12, 12)
    trend = hourly.select(
        "event_type",
        "h",
        "cents",
        F.sum("cents").over(w).alias("wsum"),
        F.count(F.lit(1)).over(w).alias("wn"),
    ).filter(F.col("wn") == 25)
    # resid feeds THREE consumers (rmad -> dev -> dmad -> final filter).
    # The scan + hourly regrain runs once: every consumer reads its
    # exchange back (ReusedExchange), and only the window over the
    # hourly-sized table is repeated per consumer.
    resid = trend.select(
        "event_type",
        "h",
        (F.col("cents") - F.expr("(2 * wsum + wn) div (2 * wn)")).alias("r"),
    )
    rmad = resid.groupBy("event_type").agg(
        (2 * F.median("r")).cast("bigint").alias("rmed2")
    )
    dev = resid.join(F.broadcast(rmad), "event_type").select(
        "event_type", "h", "r", F.abs(2 * F.col("r") - F.col("rmed2")).alias("d2")
    )
    dmad = dev.groupBy("event_type").agg(
        (2 * F.median("d2")).cast("bigint").alias("mad4")
    )
    return (
        dev.join(F.broadcast(dmad), "event_type")
        .filter(2 * F.col("d2") > 6 * F.col("mad4"))
        .select("event_type", "h", F.col("r").alias("residual_cents"))
    )


@register(
    "ts_liveness_check",
    oracle="""
    WITH pts AS (
      SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS t_us
      FROM events WHERE user_id % 4 = 2 AND ts IS NOT NULL
    ),
    gaps AS (
      SELECT user_id, t_us,
             t_us - lag(t_us) OVER (PARTITION BY user_id ORDER BY t_us) AS g
      FROM pts
    ),
    stats AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(max(t_us) AS BIGINT) AS last_us,
             CAST(2 * median(g) AS BIGINT) AS med_gap2
      FROM gaps GROUP BY user_id HAVING count(*) >= 3
    ),
    anchor AS (SELECT CAST(max(t_us) AS BIGINT) AS now_us FROM pts)
    SELECT user_id, n_events,
           CAST(now_us - last_us AS BIGINT) AS silence_us,
           med_gap2,
           2 * (now_us - last_us) > 5 * med_gap2 AS presumed_dead
    FROM stats CROSS JOIN anchor
    """,
    doc="Liveness / dead-man-switch check — ABSENCE detection, the "
    "monitoring question windowed aggregation never asks (an alert on "
    "what DIDN'T arrive): each reporter's expected cadence is its own "
    "median inter-event gap (robust — a reporter that was always "
    "hourly is judged hourly), and a reporter whose current silence "
    "exceeds 2.5x its median cadence is flagged presumed_dead.  The "
    "comparison 2*silence > 5*med_gap2/... is carried in exact doubled "
    "units (median of integer gaps is a half-integer).  One window "
    "pass for gaps + one grouped median + a broadcast anchor; in "
    "streaming this becomes the event-time timer of "
    "transformWithState — the batch form is the nightly sweep.",
)
def ts_liveness_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = (
        _events_on_axis(spark, sf_dir)
        .filter(F.col("user_id") % 4 == 2)
        .select("user_id", F.unix_micros(F.col("ts").cast("timestamp")).alias("t_us"))
    )
    w = W.partitionBy("user_id").orderBy("t_us")
    gaps = pts.withColumn("g", F.col("t_us") - F.lag("t_us").over(w))
    stats = (
        gaps.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("t_us").alias("last_us"),
            (2 * F.median("g")).cast("bigint").alias("med_gap2"),
        )
        .filter(F.col("n_events") >= 3)
    )
    anchor = pts.agg(F.max("t_us").alias("now_us"))
    return stats.crossJoin(F.broadcast(anchor)).select(
        "user_id",
        "n_events",
        (F.col("now_us") - F.col("last_us")).alias("silence_us"),
        "med_gap2",
        (2 * (F.col("now_us") - F.col("last_us")) > 5 * F.col("med_gap2")).alias(
            "presumed_dead"
        ),
    )


@register(
    "ts_holt_linear",
    oracle=f"""
    WITH RECURSIVE {_DUCK_HOURLY},
    hr AS (
      SELECT event_type, h, cents,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM hourly
    ),
    holt AS (
      SELECT event_type, h, cents, rn,
             CAST(cents AS DOUBLE) AS l, CAST(0 AS DOUBLE) AS b
      FROM hr WHERE rn = 1
      UNION ALL
      SELECT n.event_type, n.h, n.cents, n.rn,
             0.5 * n.cents + 0.5 * (p.l + p.b) AS l,
             0.5 * ((0.5 * n.cents + 0.5 * (p.l + p.b)) - p.l) + 0.5 * p.b AS b
      -- null-safe series identity: a NULL event_type is ONE series (the
      -- impl's groupBy semantics); a bare = would strand it at its anchor
      FROM holt p JOIN hr n ON n.event_type IS NOT DISTINCT FROM p.event_type
                           AND n.rn = p.rn + 1
    )
    SELECT event_type, h, cents,
           CAST(floor(l / 100.0 * 1e4 + 0.5) AS BIGINT) AS level_x10k,
           CAST(floor(b / 100.0 * 1e4 + 0.5) AS BIGINT) AS trend_x10k,
           CAST(floor((l + b) / 100.0 * 1e4 + 0.5) AS BIGINT) AS forecast_next_x10k
    FROM holt
    """,
    doc="Holt DOUBLE exponential smoothing (level + linear trend, "
    "alpha=beta=1/2) per event-type hourly series, with the one-step-ahead "
    "forecast l_t + b_t — the forecasting sibling of ts_ewma (which has no "
    "trend term).  The recurrence l_t = x_t/2 + (l+b)/2, b_t = "
    "(l_t - l_{{t-1}})/2 + b_{{t-1}}/2 is inherently SEQUENTIAL per series "
    "— no finite lag-window rewrite exists (unlike EWMA's 10-term "
    "truncation) — so the Spark side runs it as an applyInPandas grouped "
    "recursion: parallel ACROSS series, O(1) state within one, over rows "
    "pre-reduced to (series, hour) by a partial-aggregated groupBy.  The "
    "oracle replays the identical recurrence as a DuckDB RECURSIVE CTE "
    "stepping rn -> rn+1.  Cross-engine float parity: both engines execute "
    "the SAME IEEE op sequence (0.5*x exact scaling, one rounded add per "
    "term, b_t's l_t inlined as the identical expression), so every level/"
    "trend double is bit-identical and the x10k fixed-point projection "
    "cannot straddle a rounding boundary.  At 100 TB: the heavy work is "
    "the hourly pre-reduction (one shuffle of partial-agg state); the "
    "recursion touches one tiny row-per-bucket table with bounded "
    "per-series state — the same shape transformWithState runs "
    "incrementally in streaming.",
)
def ts_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math

    import pandas as pd

    def holt(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("h").reset_index(drop=True)
        x = pdf["cents"].astype("float64").to_numpy()
        n = len(x)
        lv = [0.0] * n
        tr = [0.0] * n
        if n:
            lv[0] = float(x[0])
            tr[0] = 0.0
        for t in range(1, n):
            lt = 0.5 * float(x[t]) + 0.5 * (lv[t - 1] + tr[t - 1])
            bt = 0.5 * (lt - lv[t - 1]) + 0.5 * tr[t - 1]
            lv[t] = lt
            tr[t] = bt
        q = lambda v: math.floor(v / 100.0 * 1e4 + 0.5)  # noqa: E731
        return pd.DataFrame(
            {
                "event_type": pdf["event_type"],
                "h": pdf["h"],
                "cents": pdf["cents"],
                "level_x10k": [q(v) for v in lv],
                "trend_x10k": [q(v) for v in tr],
                "forecast_next_x10k": [q(lv[i] + tr[i]) for i in range(n)],
            }
        )

    hourly = _hourly_cents(spark, sf_dir)
    return hourly.groupBy("event_type").applyInPandas(
        holt,
        schema="event_type string, h timestamp, cents bigint, level_x10k bigint, "
        "trend_x10k bigint, forecast_next_x10k bigint",
    )


@register(
    "ts_theil_sen",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
    ),
    pts AS (
      SELECT event_type,
             CAST(date_diff('day', DATE '1970-01-01', d) AS BIGINT) AS x,
             CAST(y AS DOUBLE) AS y
      FROM daily
    ),
    slopes AS (
      SELECT a.event_type, (b.y - a.y) / CAST(b.x - a.x AS DOUBLE) AS v
      FROM pts a JOIN pts b ON a.event_type = b.event_type AND b.x > a.x
    ),
    ranked AS (
      SELECT event_type, v,
             row_number() OVER (PARTITION BY event_type ORDER BY v) AS rn,
             count(*)    OVER (PARTITION BY event_type)             AS n
      FROM slopes
    ),
    med AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_pairs,
             floor((sum(CASE WHEN rn = (n + 1) // 2 THEN v END)
                    + sum(CASE WHEN rn = n // 2 + 1 THEN v END)) / 2
                   * 1e9 + 0.5) / 1e9 AS slope
      FROM ranked GROUP BY event_type
    ),
    resid AS (
      SELECT p.event_type, p.y - m.slope * p.x AS r
      FROM pts p JOIN med m ON m.event_type = p.event_type
    ),
    rranked AS (
      SELECT event_type, r,
             row_number() OVER (PARTITION BY event_type ORDER BY r) AS rn,
             count(*)    OVER (PARTITION BY event_type)             AS n
      FROM resid
    ),
    icept AS (
      SELECT event_type, CAST(max(n) AS BIGINT) AS n_points,
             floor((sum(CASE WHEN rn = (n + 1) // 2 THEN r END)
                    + sum(CASE WHEN rn = n // 2 + 1 THEN r END)) / 2
                   * 1e9 + 0.5) / 1e9 AS intercept
      FROM rranked GROUP BY event_type
    )
    SELECT m.event_type, i.n_points, m.n_pairs,
           CAST(floor(m.slope * 1e9 + 0.5) AS BIGINT)     AS slope_x1e9,
           CAST(floor(i.intercept * 1e9 + 0.5) AS BIGINT) AS intercept_x1e9
    FROM med m JOIN icept i ON i.event_type = m.event_type
    """,
    doc="THEIL-SEN ROBUST TREND over per-type daily event counts — the "
    "estimator monitoring systems prefer to least squares because a 29% "
    "outlier fraction (incident spikes, backfill bursts) cannot move it: "
    "slope = MEDIAN of all pairwise (y_j-y_i)/(x_j-x_i), intercept = "
    "median residual at that slope (complements agg_stats_regression's "
    "OLS fit and ts_outlier_mad, which shares its breakdown-point "
    "philosophy).  Medians are rank-picked from a row_number window — "
    "never a percentile builtin, whose even-count interpolation "
    "(a+(b-a)/2 vs (a+b)/2) differs across engines — and the slope is "
    "micro-quantized before it feeds the residual pass so both engines "
    "run the identical second median.  Scale: the fact table reduces to "
    "per-(type, day) counts FIRST (partial-agg), so the quadratic "
    "pairwise join is over the bounded calendar (30 points -> 435 "
    "pairs), never the raw events; both windows partition by type.  At "
    "longer horizons the pair join stays calendar-bounded (a year is "
    "66k pairs per series) and types parallelize independently.",
)
def ts_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir)
    daily = (
        ev.select("event_type", F.col("ts").cast("date").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    pts = daily.select(
        "event_type",
        F.datediff("d", F.lit("1970-01-01").cast("date")).cast("bigint").alias("x"),
        F.col("y").cast("double").alias("y"),
    )
    a = pts.select("event_type", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = pts.select(F.col("event_type").alias("et2"), F.col("x").alias("x2"), F.col("y").alias("y2"))
    slopes = a.join(
        b, (F.col("et2") == F.col("event_type")) & (F.col("x2") > F.col("x1"))
    ).select(
        "event_type",
        ((F.col("y2") - F.col("y1")) / (F.col("x2") - F.col("x1")).cast("double")).alias("v"),
    )

    def rank_median(df: DataFrame, col: str, n_alias: str, out: str) -> DataFrame:
        wp = W.partitionBy("event_type")
        ranked = df.select(
            "event_type",
            F.col(col),
            F.row_number().over(wp.orderBy(col)).alias("rn"),
            F.count(F.lit(1)).over(wp).alias("n"),
        )
        lo = F.sum(F.when(F.col("rn") == F.expr("(n + 1) div 2"), F.col(col)))
        hi = F.sum(F.when(F.col("rn") == F.expr("n div 2 + 1"), F.col(col)))
        return ranked.groupBy("event_type").agg(
            F.max("n").cast("bigint").alias(n_alias),
            (F.floor((lo + hi) / 2 * 1e9 + 0.5) / 1e9).alias(out),
        )

    med = rank_median(slopes, "v", "n_pairs", "slope")
    resid = pts.join(med, "event_type").select(
        "event_type", (F.col("y") - F.col("slope") * F.col("x")).alias("r")
    )
    icept = rank_median(resid, "r", "n_points", "intercept")
    return med.join(icept, "event_type").select(
        "event_type",
        "n_points",
        "n_pairs",
        F.floor(F.col("slope") * 1e9 + 0.5).cast("bigint").alias("slope_x1e9"),
        F.floor(F.col("intercept") * 1e9 + 0.5).cast("bigint").alias("intercept_x1e9"),
    )


@register(
    "ts_seasonal_strength",
    oracle="""
    WITH hourly AS (
      SELECT event_type, CAST(ts AS DATE) AS d, hour(CAST(ts AS TIMESTAMP)) AS h,
             CAST(count(*) AS DOUBLE) AS x
      FROM events WHERE ts IS NOT NULL GROUP BY event_type, d, h
    ),
    trend AS (
      SELECT event_type, d, sum(x) / count(*) AS m
      FROM hourly GROUP BY event_type, d
    ),
    det AS (
      SELECT h.event_type, h.d, h.h,
             floor((h.x - t.m) * 1e9 + 0.5) / 1e9 AS dt
      FROM hourly h JOIN trend t ON t.event_type = h.event_type AND t.d = h.d
    ),
    seas AS (
      SELECT event_type, h, floor(sum(dt) / count(*) * 1e9 + 0.5) / 1e9 AS s
      FROM det GROUP BY event_type, h
    ),
    resid AS (
      SELECT d.event_type, d.dt,
             floor((d.dt - s.s) * 1e9 + 0.5) / 1e9 AS r
      FROM det d JOIN seas s ON s.event_type = d.event_type AND s.h = d.h
    ),
    strength AS (
      SELECT event_type, CAST(count(*) AS BIGINT) AS n_obs,
             CAST(floor(greatest(0.0, 1.0 - sum(r * r) / sum(dt * dt)) * 1e6 + 0.5)
                  AS BIGINT) AS strength_ppm
      FROM resid GROUP BY event_type
    ),
    peak AS (
      SELECT event_type,
             CAST(min(CASE WHEN s = m THEN h END) AS BIGINT) AS peak_hour
      FROM (SELECT event_type, h, s, max(s) OVER (PARTITION BY event_type) AS m
            FROM seas)
      GROUP BY event_type
    )
    SELECT s.event_type, s.n_obs, s.strength_ppm, p.peak_hour
    FROM strength s JOIN peak p ON p.event_type = s.event_type
    """,
    doc="SEASONAL STRENGTH (the STL feature F_s = max(0, 1 - "
    "Var(remainder)/Var(detrended)), Hyndman's forecastability score) "
    "per event type over the hour-of-day cycle: daily means detrend, "
    "per-hour means across days extract the seasonal profile, and the "
    "variance ratio says how much of the detrended variation the "
    "profile explains — the one number that decides whether "
    "ts_seasonal_profile's cycle is signal or noise, and whether "
    "ts_anomaly_seasonal_residual's residual basis is trustworthy.  "
    "Every intermediate component is micro-quantized before the next "
    "stage (the graph_pagerank discipline), divisions are identical "
    "two-operand ops on both engines, and the peak seasonal hour ties "
    "break to the earliest hour.  Scale: three stacked partial "
    "aggregates over (type, day, hour) — calendar-bounded after the "
    "first reduction; no window over raw events.",
)
def ts_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir).select("event_type", "ts")

    def quant(col):
        return F.floor(col * 1e9 + 0.5) / 1e9

    hourly = (
        ev.select("event_type", F.col("ts").cast("date").alias("d"), F.hour("ts").alias("h"))
        .groupBy("event_type", "d", "h")
        .agg(F.count(F.lit(1)).cast("double").alias("x"))
    )
    trend = hourly.groupBy("event_type", "d").agg(
        (F.sum("x") / F.count(F.lit(1))).alias("m")
    )
    det = hourly.join(trend, ["event_type", "d"]).select(
        "event_type", "d", "h", quant(F.col("x") - F.col("m")).alias("dt")
    )
    seas = det.groupBy("event_type", "h").agg(
        quant(F.sum("dt") / F.count(F.lit(1))).alias("s")
    )
    resid = det.join(seas, ["event_type", "h"]).select(
        "event_type", "dt", quant(F.col("dt") - F.col("s")).alias("r")
    )
    strength = resid.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_obs"),
        F.floor(
            F.greatest(
                F.lit(0.0), 1.0 - F.sum(F.col("r") * F.col("r")) / F.sum(F.col("dt") * F.col("dt"))
            )
            * 1e6
            + 0.5
        )
        .cast("bigint")
        .alias("strength_ppm"),
    )
    mx = seas.withColumn("m", F.max("s").over(W.partitionBy("event_type")))
    peak = mx.groupBy("event_type").agg(
        F.min(F.when(F.col("s") == F.col("m"), F.col("h"))).cast("bigint").alias("peak_hour")
    )
    return strength.join(peak, "event_type").select(
        "event_type", "n_obs", "strength_ppm", "peak_hour"
    )


@register(
    "ts_interval_subtract_sla",
    oracle="""
    WITH pres AS (
      SELECT event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS s,
             epoch_us(CAST(ts AS TIMESTAMP) + INTERVAL '30 minutes') AS e,
             CAST(ts AS DATE) AS d
      FROM events
      WHERE ts IS NOT NULL
    ),
    cand AS (
      SELECT p.*, epoch_us(CAST(p.d + o.o AS TIMESTAMP) + INTERVAL '3 hours') AS ms,
                  epoch_us(CAST(p.d + o.o AS TIMESTAMP) + INTERVAL '4 hours') AS me
      FROM pres p CROSS JOIN (VALUES (0), (1)) o(o)
    ),
    raw AS (
      SELECT event_type, CAST(sum(e - s) AS BIGINT) AS raw_us
      FROM pres GROUP BY event_type
    ),
    msk AS (
      SELECT event_type,
             CAST(sum(greatest(0, least(e, me) - greatest(s, ms))) AS BIGINT) AS masked_us
      FROM cand GROUP BY event_type
    )
    SELECT r.event_type,
           r.raw_us,
           r.raw_us - m.masked_us AS effective_us,
           -- ppm via 128-bit floor division: effective_us * 1e6 overflows
           -- INT64 once a type's uptime exceeds ~107 days of microseconds
           -- (the r14 skewed-VOLUME sweep hit it at sf0.1; DuckDB errors,
           -- Spark would wrap silently) — HUGEINT here, exact decimal
           -- floor-division on the Spark side
           CAST((CAST(r.raw_us - m.masked_us AS HUGEINT) * 1000000)
                // r.raw_us AS BIGINT) AS sla_ppm
    FROM raw r JOIN msk m ON r.event_type = m.event_type
    """,
    doc="INTERVAL SUBTRACTION for SLA ACCOUNTING — uptime minus "
    "scheduled-maintenance windows, the calculation every availability "
    "contract requires ('downtime during the maintenance window does "
    "not count'): each 30-min presence interval is clipped against the "
    "recurring daily 03:00-04:00 window via the "
    "greatest(0, least(ends) - greatest(starts)) overlap identity over "
    "candidate days — interval DIFFERENCE, the missing third of the "
    "algebra after intersection (join_interval_overlap) and union "
    "(sessionization).  All arithmetic in exact integer microseconds "
    "(epoch_us / unix_micros); per-type SLA attainment as an exact "
    "integer ppm ratio.  raw_us and masked_us are INDEPENDENT per-type "
    "partial aggregates (raw over presence rows, masked over the "
    "exploded candidates) joined at type grain — duplicate "
    "(event_type, ts) rows each count independently, with no per-event "
    "or per-(s,e) regroup that could collapse or overcount them "
    "(ADVICE r5 item 3).  Scale: the mask is a synthetic broadcast "
    "(two day-offsets per row, no table), clipping is codegen min/max "
    "arithmetic, both rollups are map-side partial aggs to a bounded "
    "type grain — the same plan clips against real maintenance-"
    "calendar dims by swapping the VALUES for a broadcast table.",
)
def ts_interval_subtract_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir).select("event_type", "ts")
    pres = ev.select(
        "event_type",
        F.unix_micros("ts").alias("s"),
        F.unix_micros(F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("e"),
        F.col("ts").cast("date").alias("d"),
    )
    offs = spark.range(2).select(F.col("id").cast("int").alias("o"))
    cand = pres.crossJoin(F.broadcast(offs)).select(
        "event_type",
        "s",
        "e",
        F.unix_micros(
            F.date_add(F.col("d"), F.col("o")).cast("timestamp") + F.expr("INTERVAL 3 HOURS")
        ).alias("ms"),
        F.unix_micros(
            F.date_add(F.col("d"), F.col("o")).cast("timestamp") + F.expr("INTERVAL 4 HOURS")
        ).alias("me"),
    )
    raw = pres.groupBy("event_type").agg(
        F.sum(F.col("e") - F.col("s")).alias("raw_us")
    )
    msk = cand.groupBy("event_type").agg(
        F.sum(
            F.greatest(F.lit(0).cast("bigint"), F.least("e", "me") - F.greatest("s", "ms"))
        ).alias("masked_us")
    )
    # ppm via exact decimal floor division (the oracle's HUGEINT twin):
    # numer - numer % raw is divisible, so the decimal divide is exact and
    # Spark's round-at-result-scale behavior can never bump the quotient.
    numer = "CAST(raw_us - masked_us AS DECIMAL(38, 0)) * 1000000"
    return raw.join(msk, "event_type").select(
        "event_type",
        "raw_us",
        (F.col("raw_us") - F.col("masked_us")).alias("effective_us"),
        F.expr(
            f"CAST((({numer}) - (({numer}) % raw_us)) / raw_us AS BIGINT)"
        ).alias("sla_ppm"),
    )


@register(
    "ts_forecast_mase",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS d, CAST(count(*) AS BIGINT) AS y
      FROM events WHERE ts IS NOT NULL GROUP BY event_type, d
    ),
    lagged AS (
      SELECT event_type, d, y,
             lag(y, 7) OVER w AS y7,
             lag(y, 1) OVER w AS y1
      FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY d)
    ),
    scored AS (
      SELECT event_type, abs(y - y7) AS e_model, abs(y - y1) AS e_naive
      FROM lagged WHERE y7 IS NOT NULL AND y1 IS NOT NULL
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT)       AS n_scored,
           CAST(sum(e_model) AS BIGINT)   AS sum_abs_err_seasonal,
           CAST(sum(e_naive) AS BIGINT)   AS sum_abs_err_naive,
           CAST(sum(e_model) * 1000000 // sum(e_naive) AS BIGINT) AS mase_ppm
    FROM scored GROUP BY event_type
    """,
    doc="FORECAST BACKTEST with MASE (mean absolute SCALED error, "
    "Hyndman's scale-free accuracy metric): the seasonal-naive model "
    "(predict last week's same weekday) is scored against the one-step "
    "naive baseline over per-type daily counts, and their error RATIO "
    "in exact ppm is the verdict — MASE < 1e6 means the weekly-"
    "seasonality model beats naive persistence, the go/no-go check "
    "run before any fancier model (ts_holt_linear, ts_ewma) earns a "
    "slot.  Absolute errors of integer counts are integers; the ratio "
    "is integer division — the entire metric is float-free, unlike "
    "MAPE (divides by y, explodes at zeros) or RMSE (units-bound).  "
    "Scale: one (type, day) partial agg, one window pass over the "
    "calendar-bounded daily table, bounded output.",
)
def ts_forecast_mase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events_on_axis(spark, sf_dir).select("event_type", "ts")
    daily = (
        ev.select("event_type", F.col("ts").cast("date").alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = W.partitionBy("event_type").orderBy("d")
    lagged = daily.select(
        "event_type",
        "y",
        F.lag("y", 7).over(w).alias("y7"),
        F.lag("y", 1).over(w).alias("y1"),
    ).filter(F.col("y7").isNotNull() & F.col("y1").isNotNull())
    scored = lagged.select(
        "event_type",
        F.abs(F.col("y") - F.col("y7")).alias("e_model"),
        F.abs(F.col("y") - F.col("y1")).alias("e_naive"),
    )
    return scored.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_scored"),
        F.sum("e_model").alias("sum_abs_err_seasonal"),
        F.sum("e_naive").alias("sum_abs_err_naive"),
        F.expr("sum(e_model) * 1000000 div sum(e_naive)").alias("mase_ppm"),
    )
