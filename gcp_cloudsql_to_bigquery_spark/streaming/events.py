"""Structured Streaming slice over ``events``: tumbling/sliding/session
windows, watermark, streaming dedup.

The reference's streaming analog is its event-driven GCS chain (SURVEY.md
§2A #18/#22, ``csv-cleaner.tf:53-56``) — object-finalize events drive
per-file processing, cron drives the batch.  Here the real thing: file
source → event-time windows with watermark → memory sink, driven to
completion with ``availableNow`` so results are deterministic and
oracle-comparable (batch-equivalent SQL, SURVEY.md §5.4).

At scale: the same code points at a Kafka/file-stream source; watermark
bounds state, ``foreachBatch`` gives exactly-once sinks.  Each query below
runs a genuine StreamingQuery (incremental state, not a batch rewrite).
"""

from __future__ import annotations

import os
import shutil

# Checkpoint root is a deployment parameter: durable storage (HDFS/S3) on a
# real cluster, memory-backed tmpfs for local runs — the state store writes
# delta/commit files per shuffle partition per micro-batch, so putting the
# throwaway local checkpoint on spinning /tmp just benchmarks the disk.
_CKPT_DIR = "/dev/shm" if os.path.isdir("/dev/shm") else None

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import events_physical_schema, normalize_events_ts
from ..registry import register
from ..tmputil import tmp_dir

_MEMSINK_SEQ = 0


def read_events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source readStream over the events parquet.

    The reader schema comes from the batch-side footer resolver
    (``catalog.events_physical_schema``) — NOT a hardcoded struct — so a
    generator-side change to the physical ``ts`` encoding cannot silently
    desynchronize batch and streaming reads (the round-3 failure mode:
    micros read as nanos collapsed every event into ~10 windows)."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    raw = (
        spark.readStream.schema(events_physical_schema(spark, sf_dir))
        .format("parquet")
        .option("pathGlobFilter", "events.parquet")  # file source needs a dir
        .load(sf_dir)
    )
    return normalize_events_ts(raw)


def run_to_completion(
    stream_df: DataFrame,
    spark: SparkSession,
    output_mode: str = "complete",
    state_partitions: int = 2,
) -> DataFrame:
    """Drive a streaming aggregation through a real StreamingQuery with an
    availableNow trigger + memory sink; return the result as a (batch)
    DataFrame.

    The stateful shuffle is pinned to ``state_partitions``: the state store
    creates one HDFS-backed store + delta/commit files PER shuffle partition
    PER micro-batch, so an oversized setting turns into pure checkpoint-I/O
    overhead (measured at sf0.1: 32→8 partitions saved ~0.5 s/query, 8→4
    another ~0.25 s, 4→2 ~0.1 s; 2→1 re-measured in round 5 with an
    interleaved fresh-start A/B — no gain beyond noise, the remaining
    floor is addBatch + queryPlanning + WAL/offsets, not store count).
    (The number is baked into the checkpoint at first
    start and cannot change on resume, so it is a deliberate parameter, not
    the session-wide shuffle setting; on a real cluster size it to total
    state / executor-memory, not to CPU count.)
    """
    global _MEMSINK_SEQ
    _MEMSINK_SEQ += 1
    name = f"stream_out_{_MEMSINK_SEQ}"
    # allocate the checkpoint BEFORE touching session conf: if mkdtemp
    # raises (e.g. /dev/shm full) the shuffle-partition override must not
    # leak past this call — conf.set only happens once there is a matching
    # finally to restore it
    ckpt = tmp_dir("ckpt_", _CKPT_DIR)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    # COMPLETE-mode drains skip the trailing no-data micro-batch (r16):
    # that batch exists to advance the watermark for append/update state
    # eviction and final-window flushes (see stream_stream_left_outer's
    # docstring — append NEEDS it); complete mode re-emits the FULL
    # aggregation state after every data batch and never evicts, so the
    # extra batch is a pure planning+commit round-trip (~0.1-0.2 s of the
    # per-run micro-batch floor at bench scale).  Scoped to this start and
    # restored, exactly like the shuffle-partition override.
    prev_ndb = spark.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    if output_mode == "complete":
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try:
        q = (
            stream_df.writeStream.outputMode(output_mode)
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
        spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prev_ndb)
    # the MEMORY sink holds the rows; the per-invocation checkpoint (offsets
    # + per-partition state store) is dead weight once the query terminates
    # — remove it instead of leaking RAM-backed /dev/shm per invocation
    # (round 11; ignore_errors covers a straggling state-store maintenance
    # write)
    shutil.rmtree(ckpt, ignore_errors=True)
    return spark.table(name)


@register(
    "stream_tumbling_window",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS win_start,
           event_type,
           count(*)             AS n,
           round(sum(value), 2) AS total_value
    FROM events
    WHERE ts IS NOT NULL  -- NULL event time is unwindowable (contract)
    GROUP BY win_start, event_type
    """,
    doc="Tumbling 1 h event-time window × event_type, via a real StreamingQuery "
    "(file source → window agg → availableNow → memory sink). Oracle is the "
    "batch-equivalent time_bucket SQL.",
)
def stream_tumbling_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event time cannot be windowed — the engine would silently drop
    # such rows at the watermark; exclude EXPLICITLY (null-KEYS contract,
    # stated in the oracle's WHERE)
    ev = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = run_to_completion(agg, spark)
    return out.select(
        F.col("window.start").alias("win_start"), "event_type", "n", "total_value"
    )


@register(
    "stream_sliding_window",
    oracle="""
    SELECT win_start, count(*) AS n, round(sum(value), 2) AS total_value
    FROM (
      SELECT time_bucket(INTERVAL '30 minutes', CAST(ts AS TIMESTAMP))
               - k.i * INTERVAL '30 minutes' AS win_start,
             value
      FROM events CROSS JOIN (VALUES (0), (1)) k(i)
      WHERE ts IS NOT NULL
    )
    GROUP BY win_start
    """,
    doc="Sliding window 1 h / 30 min slide: each event lands in 2 windows. "
    "Oracle expands event→windows with a 2-row cross join on the slide index.",
)
def stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event time excluded — see stream_tumbling_window
    ev = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour", "30 minutes"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    out = run_to_completion(agg, spark)
    return out.select(F.col("window.start").alias("win_start"), "n", "total_value")


@register(
    "stream_session_window",
    oracle="""
    WITH marked AS (
      -- >= not >: session_window treats an event arriving EXACTLY gap
      -- after the previous one as a NEW session (merge requires next
      -- start strictly before current end)
      SELECT user_id, CAST(ts AS TIMESTAMP) ts,
             CASE WHEN lag(CAST(ts AS TIMESTAMP)) OVER w IS NULL
                       OR CAST(ts AS TIMESTAMP) - lag(CAST(ts AS TIMESTAMP)) OVER w
                          >= INTERVAL '30 minutes'
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WHERE ts IS NOT NULL
      WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ),
    sess AS (
      SELECT user_id, ts,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id, min(ts) AS sess_start, count(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """,
    doc="Session window (30 min gap) per user via session_window() in a "
    "streaming agg; oracle is the batch gaps-and-islands rewrite (lag + "
    "cumulative sum).",
)
def stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event time cannot be sessionized — see stream_tumbling_window
    ev = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_completion(agg, spark)
    return out.select(
        "user_id", F.col("session_window.start").alias("sess_start"), "n_events"
    )


@register(
    "stream_stream_join",
    oracle="""
    SELECT c.event_id AS click_id, v.event_id AS view_id, c.user_id,
           CAST(date_diff('microsecond', v.ts, c.ts) AS BIGINT)
             AS view_to_click_us
    FROM (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts FROM events
          WHERE event_type = 'click') c
    JOIN (SELECT event_id, user_id, CAST(ts AS TIMESTAMP) ts FROM events
          WHERE event_type = 'view') v
      ON c.user_id = v.user_id
     AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL '10 minutes'
    """,
    doc="Stream-stream inner join: clicks ⋈ views per user within a 10-minute "
    "attribution window, both sides watermarked (bounds the join state). "
    "availableNow drains fully, so the result equals the batch time-range "
    "join (the oracle).",
)
def stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select(
        "click_id",
        "view_id",
        "user_id",
        # exact integer microseconds on both sides — no float rounding, so
        # no .5-boundary divergence class at any fixture or scale
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("view_to_click_us"),
    )
    out = run_to_completion(joined, spark, output_mode="append")
    return out


@register(
    "stream_processing_time_trigger",
    oracle="""
    SELECT event_type, count(*) AS n, round(sum(value), 2) AS total_value
    FROM events
    GROUP BY event_type
    """,
    doc="The reference's cron cadence (main.tf:46-56 schedules the pipeline "
    "every 24 h) mapped to Spark's in-engine analog: a long-running "
    "StreamingQuery with trigger(processingTime=...) re-polling the source "
    "on a wall-clock cadence.  Bounded for test determinism: poll progress "
    "until a micro-batch reports zero new input (source drained), then "
    "stop — at that point the complete-mode aggregate equals the batch "
    "GROUP BY, which is the oracle.",
)
def stream_processing_time_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    ev = read_events_stream(spark, sf_dir)
    agg = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value")
    )
    global _MEMSINK_SEQ
    _MEMSINK_SEQ += 1
    name = f"stream_out_{_MEMSINK_SEQ}"
    # mkdtemp before conf.set — same conf-leak guard as run_to_completion
    ckpt = tmp_dir("ckpt_", _CKPT_DIR)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="250 milliseconds")
            .start()
        )
        try:
            # drain: the file source lists on every trigger tick; once a
            # completed batch reports zero new rows the aggregate is final
            deadline = time.time() + 60
            drained = False
            while time.time() < deadline and not drained:
                time.sleep(0.25)
                progress = q.recentProgress or []
                zero_ticks = sum(1 for p in progress if p["numInputRows"] == 0)
                has_data = any(p["numInputRows"] > 0 for p in progress)
                # data seen + a zero tick => listing caught up and drained.
                # NO data after several listing ticks => PROBABLY an empty
                # pre-written feed (day-one pipeline) — but file-source
                # listing can lag the first ticks on a slow filesystem, so
                # confirm with a cheap batch count before accepting the
                # empty exit; a non-empty feed keeps waiting for the rows
                # to arrive through the stream (ADVICE r12).
                drained = has_data and zero_ticks >= 1
                if not drained and not has_data and zero_ticks >= 3:
                    batch_n = (
                        spark.read.schema(events_physical_schema(spark, sf_dir))
                        .format("parquet")
                        .option("pathGlobFilter", "events.parquet")
                        .load(sf_dir)
                        .limit(1)
                        .count()
                    )
                    drained = batch_n == 0
            if not drained:
                raise TimeoutError(
                    "stream_processing_time_trigger: source not drained within "
                    "60 s — refusing to return a partial aggregate"
                )
        finally:
            q.stop()
            q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    shutil.rmtree(ckpt, ignore_errors=True)  # memory sink holds the rows
    return spark.table(name)


@register(
    "stream_dedup_watermark",
    oracle="""
    SELECT event_type, count(*) AS n_unique_users
    FROM (SELECT DISTINCT event_type, user_id FROM events)
    GROUP BY event_type
    """,
    doc="Streaming dedup: dropDuplicates on (event_type, user_id) under a "
    "watermark, then count — the stateful streaming dedup pattern; batch "
    "oracle is DISTINCT.",
)
def stream_dedup_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    dedup = ev.withWatermark("ts", "2 hours").dropDuplicates(["event_type", "user_id"])
    agg = dedup.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_unique_users"))
    out = run_to_completion(agg, spark)
    return out


@register(
    "stream_static_enrich",
    oracle="""
    WITH profile AS (
      SELECT user_id,
             CAST(floor(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) * 100.0
                        / count(*) + 0.5) AS BIGINT) AS avg_value_x10k,
             count(*) AS n_hist
      FROM events GROUP BY user_id
    )
    SELECT e.event_id, e.user_id, e.event_type,
           p.avg_value_x10k, p.n_hist
    FROM events e JOIN profile p ON p.user_id = e.user_id
    """,
    doc="Stream-static join: the live event stream enriched with a static "
    "per-user profile table (batch aggregate at rest) — the reference "
    "lookup/enrichment every streaming pipeline needs.  Stateless on the "
    "stream side (no watermark required for stream-static inner joins); "
    "the static side is just a DataFrame, re-resolved per micro-batch.  At "
    "scale the profile is a broadcast or bucketed dim; the stream never "
    "buffers.",
)
def stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load

    ev = read_events_stream(spark, sf_dir)
    # profile average in exact integer cents (value is 2dp): integer sums
    # are accumulation-order independent, so the 4dp mean is bit-identical
    # across engines (see oracle-parity notes — a double avg diverges in
    # the last rounded digit once a user has enough events)
    cents = F.floor(F.col("value") * 100 + 0.5).cast("bigint")
    profile = (
        load(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.floor(F.sum(cents) * 100.0 / F.count(F.lit(1)) + 0.5)
            .cast("bigint")
            .alias("avg_value_x10k"),
            F.count(F.lit(1)).alias("n_hist"),
        )
    )
    joined = ev.join(profile, "user_id").select(
        "event_id", "user_id", "event_type", "avg_value_x10k", "n_hist"
    )
    return run_to_completion(joined, spark, output_mode="append")


@register(
    "stream_stream_left_outer",
    oracle="""
    WITH c AS (SELECT event_id AS click_id, user_id, CAST(ts AS TIMESTAMP) ts
               FROM events WHERE event_type = 'click'),
    v AS (SELECT event_id AS view_id, user_id AS v_user_id, CAST(ts AS TIMESTAMP) ts
          FROM events WHERE event_type = 'view'),
    wm AS (SELECT least((SELECT date_trunc('milliseconds', max(CAST(ts AS TIMESTAMP)))
                         FROM events WHERE event_type = 'click'),
                        (SELECT date_trunc('milliseconds', max(CAST(ts AS TIMESTAMP)))
                         FROM events WHERE event_type = 'view'))
                  - INTERVAL '1 hour' AS w)
    SELECT click_id, view_id, user_id, view_to_click_us FROM (
      SELECT c.click_id, v.view_id, c.user_id,
             CAST(date_diff('microsecond', v.ts, c.ts) AS BIGINT)
               AS view_to_click_us,
             c.ts AS cts, v.view_id AS m
      FROM c LEFT JOIN v
        ON c.user_id = v.v_user_id
       AND v.ts <= c.ts AND v.ts >= c.ts - INTERVAL '10 minutes'
    ) WHERE m IS NOT NULL OR cts < (SELECT w FROM wm)
    """,
    doc="Stream-stream LEFT OUTER join with watermark-driven NULL emission: "
    "clicks with no view in the 10-minute attribution window surface with "
    "NULL view columns — but only once the global watermark (min of both "
    "streams' max event time, minus the 1 h delay) passes their state-"
    "eviction point; later clicks stay in state and are NOT emitted when "
    "the availableNow drain ends.  The oracle replicates exactly that "
    "semantics: batch left join + 'matched OR evictable' filter on the "
    "final watermark — including Spark's MILLISECOND truncation of max "
    "event time (EventTimeStats carries ms, not the micros in the data), "
    "which the oracle mirrors with date_trunc.  The no-data flush micro-batch "
    "(spark.sql.streaming.noDataMicroBatches.enabled) is what advances "
    "the watermark after the last file — without it no NULL row would "
    "ever appear in a drain.  At 100 TB the outer-join state is bounded "
    "by watermark × arrival rate per key, same as the inner variant.",
)
def stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    views = (
        ev.filter(F.col("event_type") == "view")
        .select(
            F.col("event_id").alias("view_id"),
            F.col("user_id").alias("v_user_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    joined = clicks.join(
        views,
        (F.col("user_id") == F.col("v_user_id"))
        & (F.col("view_ts") <= F.col("click_ts"))
        & (F.col("view_ts") >= F.col("click_ts") - F.expr("INTERVAL 10 MINUTES")),
        "left_outer",
    ).select(
        "click_id",
        "view_id",
        "user_id",
        (F.unix_micros("click_ts") - F.unix_micros("view_ts")).alias("view_to_click_us"),
    )
    return run_to_completion(joined, spark, output_mode="append")


@register(
    "stream_dedup_redelivery",
    oracle="""
    SELECT event_type, CAST(count(*) AS BIGINT) AS n_events
    FROM events GROUP BY event_type
    """,
    doc="Exactly-once counts under AT-LEAST-ONCE delivery: the input stream "
    "is deliberately self-unioned (every event delivered twice — the "
    "redelivery the reference's duplicate-delivery guard, SURVEY §2A "
    "op #10, worries about) and dropDuplicatesWithinWatermark(event_id) "
    "restores exact per-type counts, proven by the oracle counting the "
    "ORIGINAL table once.  Unlike plain dropDuplicates, the "
    "WithinWatermark variant EVICTS dedup state once an id's event time "
    "falls behind the watermark — bounded state at 100 TB, the "
    "difference between a dedup that runs forever and one that OOMs; "
    "redeliveries only need to be deduped within the delay window, "
    "matching real redelivery semantics (Pub/Sub redelivers within "
    "minutes, not days).  Runs through a real StreamingQuery "
    "(availableNow, memory sink, checkpointed state).",
)
def stream_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    redelivered = ev.union(ev)  # every event arrives twice
    dedup = redelivered.withWatermark("ts", "2 hours").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    agg = dedup.groupBy("event_type").agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    return run_to_completion(agg, spark)


@register(
    "stream_session_window_dynamic_gap",
    oracle="""
    WITH g AS (
      SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
             CAST(ts AS TIMESTAMP)
               + CASE WHEN event_type = 'click' THEN INTERVAL '5 minutes'
                      ELSE INTERVAL '20 minutes' END AS ev_end
      FROM events
      WHERE ts IS NOT NULL
    ),
    marked AS (
      SELECT user_id, ts, ev_end,
             CASE WHEN max(ev_end) OVER prior IS NULL
                       OR ts >= max(ev_end) OVER prior
                  THEN 1 ELSE 0 END AS new_sess
      FROM g
      WINDOW prior AS (PARTITION BY user_id ORDER BY ts, ev_end
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    ),
    sess AS (
      SELECT user_id, ts, ev_end,
             sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, ev_end
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM marked
    )
    SELECT user_id, min(ts) AS sess_start, max(ev_end) AS sess_end,
           count(*) AS n_events
    FROM sess GROUP BY user_id, sess_id
    """,
    doc="DYNAMIC-GAP session window: each event extends its user's session "
    "by an EVENT-DEPENDENT gap (clicks 5 min — a click mid-browse holds "
    "the session briefly; other events 20 min), via session_window(ts, "
    "CASE ...) with a gap EXPRESSION — the Spark-native form of "
    "per-event-type session policies that fixed-gap sessionization "
    "(stream_session_window) cannot express.  Spark merges the per-event "
    "windows [ts, ts+gap) transitively; the oracle replays that as the "
    "generalized gaps-and-islands rewrite — a session breaks exactly "
    "where ts >= running max of prior (ts + gap) (running MAX, not lag: "
    "a long-gap event can outlive several short-gap successors) — and "
    "checks start, END (max ts+gap, the merged-window upper bound), and "
    "size of every session.  availableNow drains fully so the streaming "
    "result equals the batch closure.  Scale: state is one open session "
    "window per active user (same bound as fixed-gap), watermark-evicted; "
    "the gap expression is evaluated per event, no extra shuffle.",
)
def stream_session_window_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL event time cannot be sessionized — see stream_tumbling_window
    ev = read_events_stream(spark, sf_dir).filter(F.col("ts").isNotNull())
    # gap must be CalendarIntervalType: make_interval, not ANSI day-time
    # interval literals (those are DayTimeIntervalType and are rejected)
    gap = F.when(
        F.col("event_type") == "click", F.expr("make_interval(0,0,0,0,0,5,0)")
    ).otherwise(F.expr("make_interval(0,0,0,0,0,20,0)"))
    agg = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.session_window("ts", gap), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_completion(agg, spark)
    return out.select(
        "user_id",
        F.col("session_window.start").alias("sess_start"),
        F.col("session_window.end").alias("sess_end"),
        "n_events",
    )


@register(
    "stream_late_data_audit",
    oracle="""
    WITH mx AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '2 hours' AS wm FROM events
    )
    SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS win_start,
           event_type,
           count(*)                     AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    GROUP BY win_start, event_type
    HAVING win_start + INTERVAL '6 hours' <= (SELECT wm FROM mx)
    """,
    doc="WATERMARK LATE-DATA AUDIT — proves the watermark actually DROPS "
    "and the emission frontier is exactly where the contract says: the "
    "events table is replayed as three chronological parquet arrivals "
    "(one micro-batch each, mtime-ordered) followed by a STRAGGLER file "
    "that re-delivers ~1/7 of the first five days' events — duplicates "
    "arriving weeks past the 2 h watermark.  The append-mode 6 h window "
    "aggregate emits exactly the windows whose end precedes the final "
    "watermark (max event time - 2 h, replicated in the oracle's HAVING) "
    "and must count every original event ONCE: if the watermark failed "
    "to drop the straggler batch, n and the event-id checksum inflate "
    "and the oracle catches it; if emission leaked past the frontier, "
    "extra windows appear.  Complements stream_dedup_redelivery (which "
    "dedupes INSIDE the watermark horizon) with the beyond-horizon "
    "case.  Scale: state is bounded by windows inside the watermark "
    "horizon regardless of replay depth — exactly why the watermark "
    "exists; the straggler file costs one scan and zero state.",
)
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    import time

    from ..catalog import load

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    base_day = F.lit("2024-01-01").cast("date")
    day = F.datediff(F.col("ts").cast("date"), base_day)
    watch = tmp_dir("late_watch_", _CKPT_DIR)
    shards = [
        ("shard_1", day < 10),
        ("shard_2", (day >= 10) & (day < 20)),
        ("shard_3", day >= 20),
        # weeks-late redelivery: duplicates, must be dropped by watermark
        ("shard_4", (day < 5) & (F.col("event_id") % 7 == 0)),
    ]
    for i, (name, pred) in enumerate(shards):
        path = os.path.join(watch, name)
        ev.filter(pred).coalesce(1).write.parquet(path)
        # FileStreamSource admits oldest-mtime first: pin strictly
        # increasing mtimes so arrival order is deterministic, not
        # filesystem-timing luck
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (1_700_000_000 + i, 1_700_000_000 + i))

    schema = spark.read.parquet(os.path.join(watch, "shard_1")).schema
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "*.parquet")
        .parquet(os.path.join(watch, "shard_*"))
    )
    agg = (
        raw.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("id_sum"))
    )
    out = run_to_completion(agg, spark, output_mode="append")
    # the memory sink holds the emitted windows — the RAM-backed watch-dir
    # event shards are dead weight once the stream drains (round 11)
    shutil.rmtree(watch, ignore_errors=True)
    return out.select(
        F.col("window.start").alias("win_start"), "event_type", "n", "id_sum"
    )


@register(
    "stream_checkpoint_resume",
    oracle="""
    WITH mx AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '2 hours' AS wm FROM events
    )
    SELECT time_bucket(INTERVAL '6 hours', CAST(ts AS TIMESTAMP)) AS win_start,
           event_type,
           count(*)                     AS n,
           CAST(sum(event_id) AS BIGINT) AS id_sum
    FROM events
    GROUP BY win_start, event_type
    HAVING win_start + INTERVAL '6 hours' <= (SELECT wm FROM mx)
    """,
    doc="CHECKPOINT RESUME / EXACTLY-ONCE RESTART WITNESS — the property "
    "the reference's requeue-on-failure batches (SURVEY §2A #8) only "
    "approximate: run an append-mode windowed aggregate to a PARQUET "
    "file sink over the first 20 days, let the query TERMINATE, then "
    "start a SECOND StreamingQuery on the SAME checkpoint after 10 "
    "more days of files arrive.  The checkpoint's offset log makes the "
    "restart process only the new files and the state store carries "
    "open windows across the restart; the file sink's transaction log "
    "commits each batch once.  If restart re-processed old files, "
    "counts double; if state were lost, windows straddling the restart "
    "split — either way the per-window event-id checksum diverges from "
    "the single-pass batch oracle.  (A sentinel re-delivery of the "
    "max-ts event rides in the final batch to advance emission to the "
    "final watermark; its window ends past the watermark, so it is "
    "never emitted — invisible to the oracle by construction.)  Scale: "
    "this is precisely how a production job survives deploys — state "
    "and offsets in the checkpoint, sink idempotent via its commit "
    "log; nothing here is test-only shape.",
)
def stream_checkpoint_resume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import load

    ev = load(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    day = F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
    watch = tmp_dir("resume_watch_", _CKPT_DIR)
    ckpt = tmp_dir("resume_ckpt_", _CKPT_DIR)
    sink = tmp_dir("resume_sink_", _CKPT_DIR)

    def write_shard(df: DataFrame, name: str, mtime: int) -> None:
        path = os.path.join(watch, name)
        df.coalesce(1).write.parquet(path)
        for f in os.listdir(path):
            os.utime(os.path.join(path, f), (mtime, mtime))

    def run_once() -> None:
        schema = spark.read.parquet(os.path.join(watch, "shard_1")).schema
        raw = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .option("pathGlobFilter", "*.parquet")
            .parquet(os.path.join(watch, "shard_*"))
        )
        agg = (
            raw.withWatermark("ts", "2 hours")
            .groupBy(F.window("ts", "6 hours"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("event_id").alias("id_sum"))
        )
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", "2")
        try:
            q = (
                agg.writeStream.outputMode("append")
                .format("parquet")
                .option("path", sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)

    # deployment 1: first 20 days land, job runs and terminates
    write_shard(ev.filter(day < 10), "shard_1", 1_700_000_000)
    write_shard(ev.filter((day >= 10) & (day < 20)), "shard_2", 1_700_000_001)
    run_once()
    # 10 more days arrive (plus the emission sentinel), job RESUMES on the
    # same checkpoint — only the new files may be processed
    write_shard(ev.filter(day >= 20), "shard_3", 1_700_000_002)
    sentinel = ev.orderBy(F.col("ts").desc()).limit(1)
    write_shard(sentinel, "shard_4", 1_700_000_003)
    run_once()

    # resume is over: the watch shards and the checkpoint are dead weight;
    # the parquet SINK is what the returned DataFrame lazily reads — it
    # stays in the temp home until interpreter exit
    shutil.rmtree(watch, ignore_errors=True)
    shutil.rmtree(ckpt, ignore_errors=True)
    out = spark.read.parquet(sink)
    return out.select(
        F.col("window.start").alias("win_start"), "event_type", "n", "id_sum"
    )


@register(
    "stream_chained_stateful_aggs",
    oracle="""
    WITH mx AS (
      SELECT max(CAST(ts AS TIMESTAMP)) - INTERVAL '1 hour' AS wm FROM events
    ),
    hourly AS (
      SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS h,
             event_type, count(*) AS n
      FROM events GROUP BY h, event_type
    )
    SELECT time_bucket(INTERVAL '6 hours', h) AS win_start,
           event_type,
           CAST(max(n) AS BIGINT)   AS peak_hourly,
           CAST(count(*) AS BIGINT) AS n_hours
    FROM hourly
    GROUP BY win_start, event_type
    HAVING win_start + INTERVAL '6 hours' <= (SELECT wm FROM mx)
    """,
    doc="CHAINED STATEFUL STREAMING AGGREGATIONS (Spark 3.4+ multi-"
    "stateful pipeline): hourly tumbling counts feed a SECOND windowed "
    "aggregate (6 h peak-hourly-rate per type) inside ONE StreamingQuery "
    "— the two-level rollup (minute->hour->day) that previously forced "
    "either two jobs with an intermediate sink or a batch re-read.  The "
    "downstream window groups on window_time() of the upstream window "
    "(the event-time column a finalized window carries), and both "
    "operators share the 1 h watermark, so a 6 h window finalizes "
    "exactly when its last hourly input does — the oracle states that "
    "frontier in its HAVING.  Scale: upstream state is hours x types, "
    "downstream 6h-buckets x types — both bounded by the watermark "
    "horizon; the chain saves a full sink round-trip and re-shuffle at "
    "every level of a metrics rollup pyramid.",
)
def stream_chained_stateful_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = read_events_stream(spark, sf_dir)
    hourly = (
        ev.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    six = (
        hourly.groupBy(
            F.window(F.window_time("window"), "6 hours"), "event_type"
        )
        .agg(F.max("n").alias("peak_hourly"), F.count(F.lit(1)).alias("n_hours"))
    )
    out = run_to_completion(six, spark, output_mode="append")
    return out.select(
        F.col("window.start").alias("win_start"),
        "event_type",
        "peak_hourly",
        "n_hours",
    )
