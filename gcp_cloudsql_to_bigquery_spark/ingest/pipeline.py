"""The four-stage reference pipeline collapsed into Spark jobs.

Reference chain (SURVEY.md §3): catalog query → per-table CSV export to a
date-partitioned staging layout → NULL-sentinel clean + schema JSON →
schema-applied WRITE_TRUNCATE load → row-count check.  Spark replaces each
process/bucket boundary with a DataFrame stage; idempotence comes from
``mode("overwrite")`` (the file-sink commit protocol) instead of 409
dup-guards and truncate dispositions.

At 100 TB: ``export_table`` writes partitioned CSV in parallel (one task
per input partition — no 540 s wall limit, no batch requeue), and
``load_table`` is a distributed schema-applied read; neither stage touches
the driver with data.
"""

from __future__ import annotations

import datetime as _dt
import os

from pyspark.sql import DataFrame, SparkSession

from .nulls import read_csv_with_sentinel
from .sanitize import sanitize_columns
from .schema_io import bq_schema_to_struct, struct_to_bq_schema
from .types import BQ_TO_SPARK


def export_table(
    df: DataFrame,
    base_dir: str,
    table: str,
    export_date: str | None = None,
) -> tuple[str, str]:
    """Stage 2 analog (``cloud-sql-exporter``): dump a table to CSV under the
    reference's date-partitioned layout ``{base}/exports/{date}/{table}.csv``
    plus its schema at ``{base}/schemas/{date}/{table}.schema.json``.

    NULLs are written as empty fields — the *cleaned* representation the
    reference's csv-cleaner produces (its BigQuery load reads empty as NULL).
    The raw-MySQL sentinel form ('"N') is a read-side concern handled by
    ``read_csv_with_sentinel``; Spark's writer would quote-escape the
    sentinel, which is not MySQL's byte format.  Returns (data_path,
    schema_path)."""
    export_date = export_date or _dt.date.today().isoformat()
    data_path = os.path.join(base_dir, "exports", export_date, f"{table}.csv")
    schema_path = os.path.join(base_dir, "schemas", export_date, f"{table}.schema.json")
    # CSV cannot carry complex types; the reference's five-type system maps
    # everything unknown to STRING (datatype_to_bq.py fallback) — serialize
    # array/map/struct columns to JSON text, which round-trips as STRING.
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    complex_names = {
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType))
    }
    if complex_names:  # projected only then: each column costs py4j calls
        df = df.select(
            [F.to_json(c).alias(c) if c in complex_names else F.col(c) for c in df.columns]
        )
    df.write.mode("overwrite").options(header=False, emptyValue='""').csv(data_path)
    os.makedirs(os.path.dirname(schema_path), exist_ok=True)
    import json

    with open(schema_path, "w") as fh:
        json.dump(struct_to_bq_schema(df.schema), fh)
    return data_path, schema_path


def load_table(
    spark: SparkSession,
    data_path: str,
    schema_path: str,
    table: str | None = None,
    mode: str = "csv-aware",
) -> DataFrame:
    """Stages 3+4 analog (``csv-cleaner`` + ``bq-importer``): schema-applied
    CSV read with NULL-sentinel handling; optionally registered as a view
    (the 'load'); WRITE_TRUNCATE semantics are the overwrite of that view."""
    import json

    with open(schema_path) as fh:
        struct = bq_schema_to_struct(json.load(fh))
    df = read_csv_with_sentinel(spark, data_path, struct, mode=mode)
    df = sanitize_columns(df)
    if table:
        df.createOrReplaceTempView(table)
    return df


def roundtrip(
    spark: SparkSession,
    df: DataFrame,
    base_dir: str,
    table: str,
    mode: str = "csv-aware",
) -> DataFrame:
    """Full pipeline: export → clean → schema-applied load.  The loaded frame
    goes through the five-type system, so e.g. int columns come back BIGINT
    and floats come back DOUBLE — reference-lossy by design."""
    data_path, schema_path = export_table(df, base_dir, table)
    return load_table(spark, data_path, schema_path, table=None, mode=mode)


def verify_rowcount(source: DataFrame, loaded: DataFrame) -> tuple[int, int]:
    """Reference op #21 (``bq-importer/main.py:41-43``): post-load row count."""
    return source.count(), loaded.count()


def warehouse_write(
    df: DataFrame,
    table: str,
    fmt: str | None = None,
    options: dict[str, str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Stage-4 warehouse load — the ``bq-importer`` analog
    (``/root/reference/app/bq-importer/main.py:27-39``, WRITE_TRUNCATE +
    autodetect-off load job).

    ``fmt="bigquery"`` (or env ``SPARK_GRAFT_WAREHOUSE_FORMAT=bigquery``)
    writes through the spark-bigquery-connector on a deployment that ships
    the jar — ``mode("overwrite")`` is the connector's WRITE_TRUNCATE, and
    the applied schema replaces autodetect.  The connector is not in this
    container, so the default branch is the session-catalog ``saveAsTable``
    stand-in with identical truncate-then-load semantics; the bigquery
    branch is config-gated, not dead code — tests assert it reaches Spark's
    datasource loader.
    """
    fmt = fmt or os.environ.get("SPARK_GRAFT_WAREHOUSE_FORMAT")
    if fmt == "bigquery":
        # validated connector option assembly (sources/bigquery.py): the
        # reference's WRITE_TRUNCATE load job is mode("overwrite") + the
        # documented option set; a bucket in `options` selects the
        # reference-faithful indirect (stage-to-GCS) method.
        from ..sources.bigquery import bigquery_writer

        opts = dict(options or {})
        bucket = opts.pop("temporaryGcsBucket", None)
        method = opts.pop("writeMethod", "indirect" if bucket else "direct")
        if method == "direct" and bucket:
            # previously the bucket was silently dropped; direct (Storage
            # Write API) never stages, so this is a config contradiction
            raise ValueError(
                "writeMethod=direct does not stage via GCS — drop "
                "temporaryGcsBucket or use writeMethod=indirect"
            )
        if method == "direct" and "intermediateFormat" in opts:
            # same contradiction class (ADVICE r8): intermediateFormat only
            # applies to the indirect staging file; passing it through to
            # the connector as a meaningless option hides the misconfig
            raise ValueError(
                "writeMethod=direct streams via the Storage Write API and "
                "never writes an intermediate file — drop "
                "intermediateFormat or use writeMethod=indirect"
            )
        # options bigquery_write_options always sets itself must ride the
        # keyword arguments, not extra (extra refuses to override them)
        kw = {}
        if "createDisposition" in opts:
            kw["create_disposition"] = opts.pop("createDisposition")
        if "intermediateFormat" in opts:
            kw["intermediate_format"] = opts.pop("intermediateFormat")
        bigquery_writer(
            df, table, mode=mode, write_method=method,
            temporary_gcs_bucket=bucket, extra=opts, **kw,
        ).save()
        return
    if fmt and fmt != "hive":
        writer = df.write.format(fmt).mode(mode)
        for k, v in (options or {}).items():
            writer = writer.option(k, v)
        writer.option("table", table).save()
        return
    df.write.mode(mode).saveAsTable(table)


def load_table_observed(
    spark: SparkSession,
    data_path: str,
    schema_path: str,
    table: str | None = None,
    mode: str = "csv-aware",
):
    """Reference op #21 (post-load row-count check, ``bq-importer/main.py:
    41-43``) upgraded for scale: the reference re-queries the loaded table
    to count rows — a second full scan.  ``df.observe`` attaches the QA
    aggregates (row count, per-column null counts) to the load job itself,
    so they materialize as a side channel of whatever action performs the
    load — ONE pass over 100 TB, not two.

    Returns ``(df, observation)``; read ``observation.get`` after the first
    action on ``df`` (it blocks until then)."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    df = load_table(spark, data_path, schema_path, table=None, mode=mode)
    obs = Observation("load_qa")
    observed = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        *[
            F.count(F.when(F.col(f.name).isNull(), 1)).alias(f"nulls_{f.name}")
            for f in df.schema.fields
        ],
    )
    if table:
        observed.createOrReplaceTempView(table)
    return observed, obs
