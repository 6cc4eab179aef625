"""End-to-end pipeline tests (FIXTURES.md B4): export → clean → load,
truncate idempotence, row-count verification — the reference 4-stage chain
on sf0.001."""

from pyspark.sql import functions as F

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.ingest.pipeline import (
    export_table,
    load_table,
    roundtrip,
    verify_rowcount,
)


def test_roundtrip_preserves_rows_and_values(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "supplier")
    out = roundtrip(spark, src, str(tmp_path), "supplier")
    n_src, n_out = verify_rowcount(src, out)
    assert n_src == n_out == 10
    # values survive the five-type trip (ints widen to bigint)
    a = sorted((r.s_suppkey, r.s_name, round(r.s_acctbal, 2)) for r in src.collect())
    b = sorted((r.s_suppkey, r.s_name, round(r.s_acctbal, 2)) for r in out.collect())
    assert a == b


def test_truncate_idempotence(spark, sf_dir, tmp_path):
    # B4: loading twice equals the second load (WRITE_TRUNCATE semantics)
    src = load(spark, sf_dir, "region")
    d1, s1 = export_table(src, str(tmp_path), "region", export_date="2026-08-13")
    first = load_table(spark, d1, s1).collect()
    d2, s2 = export_table(src, str(tmp_path), "region", export_date="2026-08-13")
    assert (d1, s1) == (d2, s2)  # same date-partitioned path → overwritten
    second = load_table(spark, d2, s2).collect()
    assert sorted(map(tuple, first)) == sorted(map(tuple, second))


def test_nulls_survive_pipeline(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "orders").select(
        "o_orderkey", F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("st")
    )
    n_null_src = src.filter(F.col("st").isNull()).count()
    assert n_null_src > 0
    out = roundtrip(spark, src, str(tmp_path), "orders_st")
    assert out.filter(F.col("st").isNull()).count() == n_null_src


def test_date_partitioned_layout(spark, sf_dir, tmp_path):
    src = load(spark, sf_dir, "region")
    data_path, schema_path = export_table(src, str(tmp_path), "region", export_date="2026-01-02")
    assert "/exports/2026-01-02/region.csv" in data_path
    assert "/schemas/2026-01-02/region.schema.json" in schema_path


def test_full_catalog_pipeline(spark, sf_dir, tmp_path):
    """Reference work-queue analog: every catalog table through
    export→clean→load, row counts preserved (SURVEY.md §3 entry 2)."""
    from gcp_cloudsql_to_bigquery_spark.catalog import TABLES, load as cat_load

    for t in TABLES:
        if t == "events":
            continue  # timestamp(nanos) → CSV round-trip is lossy by design
        src = cat_load(spark, sf_dir, t)
        out = roundtrip(spark, src, str(tmp_path), t)
        n_src, n_out = verify_rowcount(src, out)
        assert n_src == n_out, t


def test_csv_parse_modes(spark, tmp_path):
    """PERMISSIVE (reference-like tolerance) vs FAILFAST on malformed rows."""
    import os

    from pyspark.sql import functions as F

    p = os.path.join(tmp_path, "bad.csv")
    with open(p, "w") as fh:
        fh.write("1,alice\n2,bob\nnot_an_int,carol\n")
    schema = "id bigint, name string"
    permissive = spark.read.schema(schema).csv(p)  # default PERMISSIVE
    rows = {r.name: r.id for r in permissive.collect()}
    assert rows["carol"] is None  # malformed field → NULL, row kept
    failfast = spark.read.schema(schema).option("mode", "FAILFAST").csv(p)
    import pytest as _pytest

    with _pytest.raises(Exception, match="(?i)malformed|FAILFAST"):
        failfast.collect()
    dropmalformed = (
        spark.read.schema(schema).option("mode", "DROPMALFORMED").csv(p)
    )
    assert dropmalformed.filter(F.col("id").isNotNull()).count() == 2


def test_warehouse_write_saveastable_roundtrip(spark, sf_dir):
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.ingest.pipeline import warehouse_write

    n = load(spark, sf_dir, "nation")
    warehouse_write(n, "wh_nation_test")
    assert spark.table("wh_nation_test").count() == n.count()
    warehouse_write(n.limit(5), "wh_nation_test")  # WRITE_TRUNCATE semantics
    assert spark.table("wh_nation_test").count() == 5
    spark.sql("DROP TABLE wh_nation_test")


def test_warehouse_write_bigquery_branch_reaches_datasource_loader(spark, sf_dir):
    # the connector jar is absent here; the branch must still be wired all
    # the way into Spark's datasource resolution (proving format/options
    # plumbing), which surfaces as the DATA_SOURCE_NOT_FOUND error class
    import pytest
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.ingest.pipeline import warehouse_write

    n = load(spark, sf_dir, "nation")
    with pytest.raises(Exception, match="(?i)bigquery|DATA_SOURCE_NOT_FOUND|Failed to find"):
        warehouse_write(n, "proj.dataset.nation", fmt="bigquery",
                        options={"temporaryGcsBucket": "staging"})


def test_warehouse_write_config_driven_bigquery_options(spark, sf_dir):
    """ADVICE r7: a purely config-driven caller must be able to pass every
    documented connector option through `options` — including the ones
    bigquery_write_options sets itself (createDisposition /
    intermediateFormat, re-routed to keyword args instead of raising
    'already set by an explicit argument'); and a contradictory
    writeMethod=direct + temporaryGcsBucket raises instead of silently
    dropping the bucket."""
    import pytest
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.ingest.pipeline import warehouse_write

    n = load(spark, sf_dir, "nation")
    # createDisposition + intermediateFormat via options: accepted, and the
    # write proceeds all the way to the (absent-jar) datasource lookup
    with pytest.raises(Exception, match="(?i)bigquery|DATA_SOURCE_NOT_FOUND|Failed to find"):
        warehouse_write(
            n, "proj.dataset.nation", fmt="bigquery",
            options={"temporaryGcsBucket": "staging",
                     "createDisposition": "CREATE_NEVER",
                     "intermediateFormat": "orc"},
        )
    with pytest.raises(ValueError, match="direct does not stage"):
        warehouse_write(
            n, "proj.dataset.nation", fmt="bigquery",
            options={"writeMethod": "direct", "temporaryGcsBucket": "staging"},
        )
    # same contradiction class (ADVICE r8): intermediateFormat only applies
    # to the indirect staging file — direct must raise, not silently pass
    # a meaningless option through to the connector
    with pytest.raises(ValueError, match="never writes an intermediate"):
        warehouse_write(
            n, "proj.dataset.nation", fmt="bigquery",
            options={"writeMethod": "direct", "intermediateFormat": "orc"},
        )


def test_load_table_observed_single_pass_qa(spark, sf_dir, tmp_path):
    # op #21 upgrade: QA metrics ride the load action itself (no second
    # scan); the observation must match a direct recount
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.catalog import load as cat_load
    from gcp_cloudsql_to_bigquery_spark.ingest.pipeline import (
        export_table,
        load_table_observed,
    )

    src = (
        cat_load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 500)
        .select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
        )
    )
    base = str(tmp_path)
    data_path, schema_path = export_table(src, base, "orders_obs")
    observed, obs = load_table_observed(spark, data_path, schema_path)
    n = observed.count()  # the "load" action — metrics ride along
    got = obs.get
    assert got["n_rows"] == n == src.count()
    assert got["nulls_status_or_null"] == src.filter(
        F.col("status_or_null").isNull()
    ).count()
    assert got["nulls_o_orderkey"] == 0


def test_single_file_export_loads_on_several_cores(spark, tmp_path):
    """A table arrives as ONE CSV file.  Under Spark's 4 MiB
    ``openCostInBytes`` a file of up to about 8 MB scans as one task;
    the session's 1 MiB floor splits a 3 MB sentinel export over several
    tasks, and every row and sentinel still loads."""
    import json

    from pyspark.sql import types as T

    from gcp_cloudsql_to_bigquery_spark.ingest.schema_io import struct_to_bq_schema

    data = tmp_path / "export.csv"
    n = 50_000
    with open(data, "w") as fh:
        for i in range(n):
            fh.write(f'{i},"N,name-{i:08d}-{"x" * 90}\n' if i % 2 else f"{i},{i},\"N\n")
    assert data.stat().st_size >= 3 * 1024 * 1024
    schema = tmp_path / "export.schema.json"
    struct = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("v", T.LongType()),
            T.StructField("name", T.StringType()),
        ]
    )
    schema.write_text(json.dumps(struct_to_bq_schema(struct)))
    df = load_table(spark, str(data), str(schema))
    assert df.rdd.getNumPartitions() >= 2
    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.count("v").alias("v"),
        F.count("name").alias("name"),
    ).first()
    assert (row.n, row.v, row.name) == (n, n // 2, n // 2)


def test_small_parquet_file_scans_as_one_split(spark):
    """A parquet file of 1 MiB or less (here one row group, 1,042,463
    bytes) keeps one split under the 1 MiB floor: its row group cannot be
    split, so more splits would be empty tasks."""
    import os

    from tests.conftest import SF001

    path = os.path.join(SF001, "lineitem.parquet")
    assert os.path.getsize(path) <= 1024 * 1024
    assert spark.read.parquet(path).rdd.getNumPartitions() == 1
