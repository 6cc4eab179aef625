"""End-to-end continuous streaming ELT chain (streaming/elt.py): file
arrivals are processed in separate micro-batches, sentinel NULLs survive
the trip, and the loaded table matches the pre-export source."""

import glob
import os
import tempfile

from pyspark.sql import functions as F

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.streaming.elt import (
    _ARRIVAL_SCHEMA,
    run_streaming_elt,
    write_arrival_files,
)

SF = "/root/testdata/sf0.001"


def test_streaming_elt_chain(spark):
    base = tempfile.mkdtemp(prefix="test_stream_elt_")
    watch, sink = os.path.join(base, "watch"), os.path.join(base, "loaded")
    write_arrival_files(spark, SF, watch, n_files=3)
    # one job wrote all three shards, still one file each
    parts = glob.glob(os.path.join(watch, "arrival=*", "part-*"))
    assert sorted(os.path.basename(os.path.dirname(p)) for p in parts) == [f"arrival={k}" for k in range(3)]
    n_batches = run_streaming_elt(spark, watch, sink)
    # one arrival file per micro-batch — the chain is incremental, not a
    # single batch rewrite
    assert n_batches == 3

    loaded = spark.read.schema(_ARRIVAL_SCHEMA).parquet(sink)
    src = load(spark, SF, "customer")
    assert loaded.count() == src.count()
    # sentinel-encoded NULLs came back as real NULLs, exactly where the
    # source had segment == BUILDING
    n_null = loaded.filter(F.col("segment_or_null").isNull()).count()
    assert n_null == src.filter(F.col("c_mktsegment") == "BUILDING").count()
    assert n_null > 0
    # non-null rows carry the original segment values
    got = {
        (r["c_custkey"], r["segment_or_null"])
        for r in loaded.filter(F.col("segment_or_null").isNotNull()).collect()
    }
    want = {
        (r["c_custkey"], r["c_mktsegment"])
        for r in src.filter(F.col("c_mktsegment") != "BUILDING").collect()
    }
    assert got == want


def test_streaming_elt_resume_is_exactly_once(spark):
    # a second availableNow run over the SAME checkpoint must load nothing
    # new (the reference needs an HTTP-409 duplicate guard for this;
    # Spark's checkpoint provides it)
    base = tempfile.mkdtemp(prefix="test_stream_elt2_")
    watch, sink = os.path.join(base, "watch"), os.path.join(base, "loaded")
    write_arrival_files(spark, SF, watch, n_files=2)

    ckpt = os.path.join(base, "ckpt")
    raw = spark.readStream.option("maxFilesPerTrigger", 1).text(watch + "/arrival=*")
    parsed = raw.select(
        F.from_csv(
            F.regexp_replace(F.col("value"), r'(?:(?<=^)|(?<=,))"N(?=,|$)', ""),
            _ARRIVAL_SCHEMA,
            {"nullValue": "", "escape": '"'},
        ).alias("r")
    ).select("r.*")

    def run_once():
        q = (
            parsed.writeStream.outputMode("append")
            .format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run_once()
    n1 = spark.read.schema(_ARRIVAL_SCHEMA).parquet(sink).count()
    run_once()
    n2 = spark.read.schema(_ARRIVAL_SCHEMA).parquet(sink).count()
    assert n1 == n2 == load(spark, SF, "customer").count()
