"""Late-data semantics: the watermark persisted in the checkpoint drops
late rows on the next incremental run (the production shape: periodic
availableNow runs over a growing directory).

Nuance found while building this: within a SINGLE availableNow run split
into multiple batches via maxFilesPerTrigger, Spark 4.1 does NOT filter
late rows (watermark advances but numRowsDroppedByWatermark stays 0);
across checkpointed RUNS it does. The test pins the cross-run behavior.
SURVEY.md §5.4: deterministic fixed input sets, no wall clock.
"""

import os

from pyspark.sql import functions as F


def _write(spark, path, rows):
    df = spark.createDataFrame(rows, "event_id long, ts string, value double")
    df.withColumn("ts", F.col("ts").cast("timestamp")).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def _run(spark, src, out, ck):
    stream = spark.readStream.schema("event_id long, ts timestamp, value double").parquet(
        src + "/*"
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
        .select(F.col("window.start").alias("win_start"), "n", "v")
    )
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ck)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q.recentProgress


def test_watermark_drops_late_rows_across_runs(spark, tmp_path):
    src = str(tmp_path / "src")
    os.makedirs(src)
    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    # run 1: events up to 10:00 → checkpointed watermark 09:00 (1 h delay)
    _write(spark, os.path.join(src, "f1"),
           [(1, "2024-01-01 08:00:00", 1.0), (2, "2024-01-01 10:00:00", 1.0)])
    _run(spark, src, out, ck)

    # run 2: one on-time row + one row far below the watermark (05:00)
    _write(spark, os.path.join(src, "f2"),
           [(3, "2024-01-01 10:30:00", 1.0), (4, "2024-01-01 05:00:00", 99.0)])
    progress = _run(spark, src, out, ck)

    dropped = sum(
        o.get("numRowsDroppedByWatermark", 0)
        for p in progress
        for o in p.get("stateOperators", [])
    )
    assert dropped == 1, f"expected the 05:00 row dropped, progress={progress}"

    results = {r.win_start.hour: (r.n, r.v) for r in spark.read.parquet(out).collect()}
    # only the closed 08:00 window is emitted; the late row's value (99.0)
    # appears nowhere
    assert results == {8: (1, 1.0)}, results


def test_processing_time_trigger_drains_and_stops(spark):
    # the cron-cadence analog: a processingTime-trigger query must drain the
    # bounded source, stop cleanly, and equal the batch aggregate
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    out = queries()["stream_processing_time_trigger"](spark, "/root/testdata/sf0.001")
    batch = (
        load(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("total_value"))
    )
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))
    assert not any(q.isActive for q in spark.streams.active)


def test_tws_never_in_registry():
    """stream_tws_type_totals is explicitly OUT of the registry (VERDICT r5
    item 4): the operator has never executed in this container (protobuf
    absent), and an unexercised operator must not enter the driver gate —
    even in an environment where the dependency happens to import."""
    from gcp_cloudsql_to_bigquery_spark.workload import REGISTRY

    assert "stream_tws_type_totals" not in REGISTRY


def test_tws_executes_against_batch_oracle(spark):
    """Runs transformWithStateInPandas end-to-end where protobuf exists;
    reported as XFAIL (loud, counted) — not a silent skip — where it does
    not.  This is the promotion gate: once this test passes in a target
    environment, the operator may re-enter the registry there."""
    import pytest

    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.streaming.stateful import (
        _tws_available,
        stream_tws_type_totals,
    )

    if not _tws_available():
        pytest.xfail("protobuf not installed: transformWithStateInPandas cannot run here")
    out = stream_tws_type_totals(spark, "/root/testdata/sf0.001")
    batch = (
        load(spark, "/root/testdata/sf0.001", "events")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(F.floor(F.col("value") * 100 + 0.5).cast("bigint")) / 100.0).alias(
                "total_value"
            ),
        )
    )
    assert sorted(map(tuple, out.select("event_type", "n", "total_value").collect())) == sorted(
        map(tuple, batch.collect())
    )
