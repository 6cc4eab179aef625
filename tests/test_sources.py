"""Source/sink tests: JDBC against embedded Derby (live) + option assembly,
partition pruning on the date layout, streaming foreachBatch sink."""

import pytest
from pyspark.sql import functions as F

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.sources.files import write_date_partitioned
from gcp_cloudsql_to_bigquery_spark.sources.jdbc import (
    JdbcSource,
    derby_create_nation,
    derby_source,
)

SF = "/root/testdata/sf0.001"


def _src():
    return JdbcSource(url="jdbc:mysql://db:3306/default", user="u", password="p")


def test_jdbc_options_partitioned():
    opts = _src().options_for("orders", partition_column="o_orderkey",
                              lower_bound=0, upper_bound=1_000_000)
    assert opts["partitionColumn"] == "o_orderkey"
    assert opts["numPartitions"] == "32"
    assert opts["fetchsize"] == "10000"


def test_jdbc_partition_requires_bounds():
    with pytest.raises(ValueError):
        _src().options_for("orders", partition_column="o_orderkey")


def test_jdbc_catalog_query_matches_reference_shape():
    # reference default (variables.tf:72-75) + prod example (README.md:27)
    q = _src().catalog_tables_query("default")
    assert "table_schema = 'default'" in q and "LIKE" not in q
    q2 = _src().catalog_tables_query("prod", like="user__field%", include=("users",))
    assert "table_name LIKE 'user__field%'" in q2
    assert "table_name IN ('users')" in q2
    assert q2.startswith("(SELECT table_name FROM information_schema.tables")


@pytest.fixture(scope="module")
def derby_db(spark):
    return derby_create_nation(spark, SF)


def test_jdbc_derby_roundtrip_matches_parquet(spark, derby_db):
    got = sorted(
        (r["N_NATIONKEY"], r["N_NAME"], r["N_REGIONKEY"])
        for r in derby_source(derby_db).read(spark, "nation").collect()
    )
    want = sorted(
        (r["n_nationkey"], r["n_name"], r["n_regionkey"])
        for r in load(spark, SF, "nation").collect()
    )
    assert got == want


def test_jdbc_derby_partitioned_range_scan(spark, derby_db):
    df = derby_source(derby_db).read(
        spark, "nation", partition_column="n_nationkey", lower_bound=0, upper_bound=25
    )
    # 8 requested range partitions execute as parallel JDBC queries
    assert df.rdd.getNumPartitions() == 8
    assert df.count() == 25


def test_jdbc_derby_catalog_enumeration(spark, derby_db):
    # the reference's table-list query (#1) as a pushdown subquery, against
    # Derby's system catalog (its information_schema analog)
    cat = derby_source(derby_db).read(
        spark, "(SELECT tablename FROM SYS.SYSTABLES WHERE tabletype='T') AS cat"
    )
    assert [r[0] for r in cat.collect()] == ["NATION"]


def test_jdbc_derby_filter_pushdown(spark, derby_db):
    df = derby_source(derby_db).read(spark, "nation")
    f = df.filter(F.col("N_NATIONKEY") < 5)
    plan = f._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan" in plan, plan
    assert f.count() == 5


def test_partition_pruning_in_plan(spark, tmp_path):
    out = str(tmp_path / "orders_by_month")
    write_date_partitioned(load(spark, SF, "orders"), out, "o_orderdate", "month")
    back = spark.read.parquet(out).filter(F.col("export_date") == "1996-01-01")
    from gcp_cloudsql_to_bigquery_spark.plans.inspect import formatted_plan

    plan = formatted_plan(back)
    assert "PartitionFilters" in plan
    # the pruned scan must not enumerate every partition
    n_total = spark.read.parquet(out).select("export_date").distinct().count()
    n_files_read = back.rdd.getNumPartitions()
    assert n_files_read < n_total


def test_dynamic_partition_overwrite_leaves_session_conf_static(spark):
    """``elt_dynamic_partition_overwrite`` scopes dynamic mode to its one
    correction write with the writer option: every day survives the
    overwrite (static mode would keep only the corrected one), and the
    session conf is the same after the query."""
    from gcp_cloudsql_to_bigquery_spark.sources.files import (
        elt_dynamic_partition_overwrite,
    )

    key = "spark.sql.sources.partitionOverwriteMode"
    before = spark.conf.get(key)
    days = elt_dynamic_partition_overwrite(spark, SF).select("d").collect()
    assert spark.conf.get(key) == before
    n_days = load(spark, SF, "events").select(F.to_date("ts")).distinct().count()
    assert len(days) == n_days > 1


def test_foreach_batch_sink(spark, tmp_path):
    """Streaming foreachBatch: the exactly-once custom-sink surface
    (SURVEY.md §2B streaming row) — micro-batches land as parquet."""
    from gcp_cloudsql_to_bigquery_spark.streaming.events import read_events_stream

    out = str(tmp_path / "sink")
    seen = []

    def write_batch(df, epoch_id: int) -> None:
        seen.append(epoch_id)
        df.write.mode("append").parquet(out)

    q = (
        read_events_stream(spark, SF)
        .writeStream.foreachBatch(write_batch)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    assert seen, "at least one micro-batch"
    n = spark.read.parquet(out).count()
    assert n == load(spark, SF, "events").count()


def test_parquet_compression_codecs(spark, tmp_path):
    """Sink options: zstd/snappy parquet writes both read back losslessly;
    codec choice is a write option, not a schema concern."""
    df = load(spark, SF, "nation")
    for codec in ("snappy", "zstd"):
        out = str(tmp_path / f"nation_{codec}")
        df.write.mode("overwrite").option("compression", codec).parquet(out)
        back = spark.read.parquet(out)
        assert sorted(map(tuple, back.collect())) == sorted(map(tuple, df.collect()))


def test_pysource_pushfilters_splits_supported_unsupported():
    """Numeric comparisons are absorbed into the reader's predicate list;
    anything else must be yielded back for Spark to evaluate post-scan."""
    from pyspark.sql.datasource import LessThan, StringStartsWith

    from gcp_cloudsql_to_bigquery_spark.sources.pysource import SentinelCsvReader

    r = SentinelCsvReader({"path": "/nonexistent"})
    unsupported = list(
        r.pushFilters([LessThan(("nation",), 10), StringStartsWith(("segment_or_null",), "A")])
    )
    assert len(unsupported) == 1 and isinstance(unsupported[0], StringStartsWith)
    assert len(r.predicates) == 1


def test_pysource_partition_per_file_and_sentinel_nulls(tmp_path):
    """One InputPartition per export file; '"N' fields surface as NULL and
    pushed predicates drop rows inside read()."""
    from pyspark.sql.datasource import GreaterThanOrEqual

    from gcp_cloudsql_to_bigquery_spark.sources.pysource import SentinelCsvReader

    d = tmp_path / "exports"
    d.mkdir()
    (d / "a.txt").write_text('1,7,"N,10.5\n2,3,BUILDING,2.0\n')
    (d / "b.txt").write_text("3,9,AUTOMOBILE,0.25\n")
    r = SentinelCsvReader({"path": str(d)})
    parts = r.partitions()
    assert len(parts) == 2
    list(r.pushFilters([GreaterThanOrEqual(("nation",), 7)]))
    rows = [row for p in parts for row in r.read(p)]
    assert rows == [(1, 7, None, 10.5), (3, 9, "AUTOMOBILE", 0.25)]


def test_compaction_hits_target_file_count_and_sizes(spark, tmp_path):
    """compact_small_files must (a) produce the byte-derived file count,
    (b) keep every row, and (c) leave files near the target size."""
    import glob
    import os

    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.sources.files import (
        compact_small_files,
        dir_parquet_bytes,
    )

    li = load(spark, "/root/testdata/sf0.01", "lineitem")
    frag = str(tmp_path / "frag")
    packed = str(tmp_path / "packed")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    assert len(glob.glob(os.path.join(frag, "part-*.parquet"))) == 64

    total = dir_parquet_bytes(frag)
    target = 1 << 20
    n = compact_small_files(spark, frag, packed, target_file_bytes=target)
    files = glob.glob(os.path.join(packed, "part-*.parquet"))
    assert len(files) == n == -(-total // target)
    assert len(files) < 64 / 4  # a real consolidation, not a rename
    # round-robin repartition balances: no output file beyond 2x target
    assert max(os.path.getsize(f) for f in files) < 2 * target
    # nothing lost, nothing duplicated
    a = li.groupBy().agg(F.count(F.lit(1)), F.sum("l_extendedprice")).collect()
    b = (
        spark.read.parquet(packed)
        .groupBy()
        .agg(F.count(F.lit(1)), F.sum("l_extendedprice"))
        .collect()
    )
    assert a[0][0] == b[0][0] and abs(a[0][1] - b[0][1]) < 1e-4


def test_sentinel_csv_writer_two_phase_commit(spark, tmp_path):
    """The custom writer must leave only committed .txt files (no .tmp
    stragglers) and encode NULLs back to the \"N sentinel."""
    import os

    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.sources.pysource import (
        SentinelCsvDataSource,
        read_sentinel_csv_source,
    )

    spark.dataSource.register(SentinelCsvDataSource)
    out = str(tmp_path / "exports")
    src = (
        load(spark, "/root/testdata/sf0.001", "customer")
        .limit(40)
        .select(
            F.col("c_custkey").cast("bigint"),
            F.col("c_nationkey").cast("bigint").alias("nation"),
            F.nullif(F.col("c_mktsegment"), F.lit("MACHINERY")).alias("segment_or_null"),
            F.col("c_acctbal").cast("double").alias("acctbal"),
        )
    )
    src.write.format("sentinel_csv").option("path", out).mode("append").save()
    names = os.listdir(out)
    assert names and not [n for n in names if n.endswith(".tmp")], names
    raw = "".join(open(os.path.join(out, n)).read() for n in names)
    assert '"N' in raw, "NULL segment must be sentinel-encoded"
    back = read_sentinel_csv_source(spark, out)
    assert back.count() == src.count()
    assert back.filter("segment_or_null IS NULL").count() == src.filter(
        "segment_or_null IS NULL"
    ).count()


def test_pysource_pushdown_conf_is_action_time(spark, tmp_path):
    """Pins WHY read_sentinel_csv_source does not try/finally-restore
    spark.sql.python.filterPushdown.enabled (ADVICE r5 item 2): the conf is
    consulted when an ACTION plans the read, and a reader implementing
    pushFilters() hard-fails with DATA_SOURCE_PUSHDOWN_DISABLED if it is
    false at that point — a restore would break every lazy DataFrame the
    source returned.  The conf is an engine default in session.DEFAULT_CONFS
    instead."""
    import pytest as _pytest

    from gcp_cloudsql_to_bigquery_spark.sources.pysource import read_sentinel_csv_source
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import write_arrival_files

    watch = str(tmp_path / "exports")
    write_arrival_files(spark, "/root/testdata/sf0.001", watch, n_files=1)
    df = read_sentinel_csv_source(spark, watch)
    assert spark.conf.get("spark.sql.python.filterPushdown.enabled") == "true"
    try:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "false")
        with _pytest.raises(Exception, match="PUSHDOWN_DISABLED|PYTHON_DATA_SOURCE_ERROR"):
            df.count()
    finally:
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    assert df.count() > 0
