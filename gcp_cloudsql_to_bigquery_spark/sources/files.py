"""File sources & sinks: JSON/CSV round-trips with explicit schemas,
date-partitioned parquet layout with partition pruning.

SURVEY.md §2B "Scans/sources" / "Sinks" + §2A #25 (date-partitioned layout).
Partition pruning is the point: a date-partitioned 100 TB table answers a
one-day query by listing one directory — asserted via plan inspection in
tests/test_sources.py.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register
from ..tmputil import tmp_dir


def write_date_partitioned(
    df: DataFrame, path: str, date_col: str, granularity: str = "day"
) -> None:
    """Reference op #25 as a real partitioned layout: one directory per
    day/month (``export_date=.../``) instead of path-string interpolation.

    Granularity is a partition-count knob: partitions must be large enough
    to matter (thousands of tiny directories make listing the bottleneck —
    measured 32 s vs 3 s on the fixture) and few enough to prune."""
    part = F.to_date(F.date_trunc(granularity, F.col(date_col)))
    df.withColumn("export_date", part).write.mode("overwrite").partitionBy(
        "export_date"
    ).parquet(path)


@register(
    "src_json_roundtrip",
    oracle="""
    SELECT event_id, event_type, round(value, 2) AS value,
           CASE WHEN json_valid(props)
                THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
           END AS k
    FROM events WHERE event_id < 300
    """,
    doc="JSON sink → schema-applied JSON source round-trip (no inference — "
    "schema inference is a full extra pass at 100 TB).",
)
def src_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load(spark, sf_dir, "events")
        .filter(F.col("event_id") < 300)
        .select(
            "event_id",
            "event_type",
            F.round("value", 2).alias("value"),
            F.get_json_object("props", "$.k").cast("bigint").alias("k"),
        )
    )
    out = os.path.join(tmp_dir("src_json_"), "events_json")
    e.write.mode("overwrite").json(out)
    return spark.read.schema("event_id bigint, event_type string, value double, k bigint").json(out)


@register(
    "src_partitioned_parquet_pruning",
    oracle="""
    SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS export_date,
           count(*) AS n, round(sum(o_totalprice), 2) AS total
    FROM orders
    WHERE CAST(date_trunc('month', o_orderdate) AS DATE)
          BETWEEN DATE '1996-01-01' AND DATE '1996-06-30'
    GROUP BY export_date
    """,
    doc="Date-partitioned parquet write (reference op #25) + partition-pruned "
    "read: the H1-1996 filter prunes to 6 of ~79 month-directories before "
    "any file is opened (PartitionFilters, asserted in tests/test_sources.py).",
)
def src_partitioned_parquet_pruning(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = os.path.join(tmp_dir("src_part_"), "orders_by_month")
    write_date_partitioned(load(spark, sf_dir, "orders"), out, "o_orderdate", "month")
    back = spark.read.parquet(out)
    return (
        back.filter(
            F.col("export_date").between(F.lit("1996-01-01"), F.lit("1996-06-30"))
        )
        .groupBy("export_date")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total"))
    )


@register(
    "src_csv_schema_applied",
    oracle="""
    SELECT p_partkey, p_brand, CAST(p_size AS BIGINT) AS p_size,
           round(p_retailprice, 2) AS price
    FROM part WHERE p_size >= 25
    """,
    doc="CSV sink → schema-applied CSV source with a pushed filter (the "
    "reference's whole load stage as two lines, SURVEY.md §3 entry 3).",
)
def src_csv_schema_applied(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select(
        "p_partkey", "p_brand", "p_size", F.round("p_retailprice", 2).alias("price")
    )
    out = os.path.join(tmp_dir("src_csv_"), "part_csv")
    p.write.mode("overwrite").options(header=True).csv(out)
    back = spark.read.options(header=True).schema(
        "p_partkey bigint, p_brand string, p_size bigint, price double"
    ).csv(out)
    return back.filter(F.col("p_size") >= 25)


@register(
    "src_orc_roundtrip",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_returnflag,
           round(l_extendedprice, 2) AS price
    FROM lineitem WHERE l_orderkey < 500
    """,
    doc="ORC sink → ORC source round-trip: the second columnar format the "
    "engine speaks natively (warehouse interchange with Hive/Trino stacks). "
    "Same pushdown/pruning machinery as parquet — predicate and projection "
    "reach the ORC reader.",
)
def src_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        load(spark, sf_dir, "lineitem")
        .filter(F.col("l_orderkey") < 500)
        .select(
            "l_orderkey",
            "l_linenumber",
            "l_returnflag",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )
    out = os.path.join(tmp_dir("src_orc_"), "lineitem_orc")
    li.write.mode("overwrite").orc(out)
    return spark.read.orc(out)


@register(
    "src_schema_evolution",
    oracle="""
    WITH merged AS (
      SELECT doc_id, lang, CAST(NULL AS BIGINT) AS n_chars
      FROM documents WHERE doc_id % 2 = 0
      UNION ALL
      SELECT doc_id, lang, n_chars
      FROM documents WHERE doc_id % 2 = 1
    )
    SELECT lang,
           count(*)        AS n_docs,
           count(n_chars)  AS n_with_chars,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM merged GROUP BY lang
    """,
    doc="Schema evolution across ingestion batches: a v1 batch (doc_id, "
    "lang) and a widened v2 batch (+ n_chars) land in the same dataset; "
    "mergeSchema=true reads reconcile the union schema with NULL padding "
    "for pre-evolution files — the long-lived-table reality at 100 TB "
    "where footers disagree by design.  The merge cost is per-FOOTER at "
    "planning time, not per-row; on a real deployment the reconciled "
    "schema lives in the metastore and per-read mergeSchema stays off.",
)
def src_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    base = tmp_dir("schema_evo_")
    d.filter(F.col("doc_id") % 2 == 0).select("doc_id", "lang").write.parquet(
        os.path.join(base, "batch=1")
    )
    d.filter(F.col("doc_id") % 2 == 1).select("doc_id", "lang", "n_chars").write.parquet(
        os.path.join(base, "batch=2")
    )
    merged = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(base, "batch=1"), os.path.join(base, "batch=2")
    )
    return merged.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.count("n_chars").alias("n_with_chars"),
        F.sum("n_chars").alias("sum_chars"),
    )


def _spread_bits(col):
    """Interleave-ready bit spread: map a 32-bit value's bits to the even
    bit positions of a 64-bit value (classic Morton-code magic-mask
    sequence) — five shift/mask rounds, all JVM-side expressions."""
    x = col.bitwiseAND(F.lit(0xFFFFFFFF))
    for shift, mask in (
        (16, 0x0000FFFF0000FFFF),
        (8, 0x00FF00FF00FF00FF),
        (4, 0x0F0F0F0F0F0F0F0F),
        (2, 0x3333333333333333),
        (1, 0x5555555555555555),
    ):
        x = x.bitwiseOR(F.shiftleft(x, shift)).bitwiseAND(F.lit(mask))
    return x


def zorder_index(a, b):
    """64-bit Morton (Z-order) code interleaving two 32-bit keys: points
    close in BOTH dimensions land close on the curve, so range-partitioning
    + sorting by this index clusters rows for multi-dimensional min/max
    data skipping."""
    return _spread_bits(F.col(a) if isinstance(a, str) else a).bitwiseOR(
        F.shiftleft(_spread_bits(F.col(b) if isinstance(b, str) else b), 1)
    )


def write_zordered(df: DataFrame, path: str, a: str, b: str, n_files: int = 8) -> None:
    """Z-order-clustered parquet layout: normalize both keys to a 16-bit
    grid, range-partition on the Morton code, sort within each file by it,
    write.

    Normalization is load-bearing, not cosmetic: interleaving RAW values
    lets the wider dimension dominate the curve (epoch seconds carry ~31
    significant bits vs a user id's ~8, so the 'z' order degenerates to
    plain time order and the second column gets zero clustering).  Mapping
    each key to its min/max-scaled 16-bit cell first — the same per-column
    range-id trick Delta/Iceberg OPTIMIZE ZORDER uses — gives both
    dimensions equal bit significance.  The min/max pass is a footer-stats
    aggregate broadcast to every task (the bounds-scan pattern of
    ts_gapfill).

    Why this matters at 100 TB: a single-column sort gives perfect min/max
    skipping on ONE predicate column and none on the other; the space-
    filling curve trades a little of each for useful skipping on BOTH —
    parquet footer stats per file/row-group become tight rectangles in
    (a, b) space, so a selective predicate on either column prunes most
    files before any IO (asserted on real footer stats in
    tests/test_scale.py)."""
    bounds = df.agg(
        F.min(a).alias("_alo"),
        F.max(a).alias("_ahi"),
        F.min(b).alias("_blo"),
        F.max(b).alias("_bhi"),
    )

    def cell(c: str, lo: str, hi: str):
        span = F.col(hi) - F.col(lo)
        return (
            F.when(span > 0, ((F.col(c) - F.col(lo)) * 65535 / span).cast("long"))
            .otherwise(F.lit(0))
        )

    keyed = df.crossJoin(F.broadcast(bounds)).withColumn(
        "_z", zorder_index(cell(a, "_alo", "_ahi"), cell(b, "_blo", "_bhi"))
    )
    (
        keyed.repartitionByRange(n_files, "_z")
        .sortWithinPartitions("_z")
        .drop("_z", "_alo", "_ahi", "_blo", "_bhi")
        .write.mode("overwrite")
        .parquet(path)
    )


@register(
    "src_xml_roundtrip",
    oracle="""
    SELECT CAST(s_suppkey AS BIGINT) AS s_suppkey, s_name,
           CAST(s_nationkey AS BIGINT) AS s_nationkey,
           round(s_acctbal, 2) AS bal
    FROM supplier
    """,
    doc="XML sink → schema-applied XML source round-trip (XML is a "
    "BUILT-IN data source since Spark 4.0 — no spark-xml jar).  Explicit "
    "rowTag + schema: XML inference is a full extra pass at 100 TB, and "
    "tag-per-row layouts split cleanly across tasks like any text "
    "format.  Oracle states the expected rows from the base table, "
    "proving the trip is lossless.",
)
def src_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("s_suppkey"),
        "s_name",
        F.col("s_nationkey").cast("bigint").alias("s_nationkey"),
        F.round("s_acctbal", 2).alias("bal"),
    )
    out = os.path.join(tmp_dir("src_xml_"), "supplier_xml")
    s.write.mode("overwrite").option("rowTag", "supplier").format("xml").save(out)
    return (
        spark.read.option("rowTag", "supplier")
        .schema("s_suppkey bigint, s_name string, s_nationkey bigint, bal double")
        .format("xml")
        .load(out)
    )


def dir_parquet_bytes(path: str) -> int:
    """Total bytes of part files under a parquet directory — a driver-side
    filesystem listing (metadata only, no Spark job)."""
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in names
            if f.startswith("part-") and f.endswith(".parquet")
        )
    return total


def retention_sweep(
    spark: SparkSession,
    base_path: str,
    max_age_days: int,
    as_of,
    dry_run: bool = True,
    partition_col: str = "export_date",
) -> list[dict]:
    """TTL enforcement over a date-partitioned layout (SURVEY.md §2A #26).

    The reference delegates this to a GCS lifecycle rule
    (``/root/reference/main.tf:72-79``: ``action {type = "Delete"},
    condition {age = 32}``); ``elt_storage_tiering_plan`` already covers
    the DECISION half (which partitions are hot/warm/expired).  This is
    the enforcement half: delete ``<partition_col>=YYYY-MM-DD`` partition
    directories at least ``max_age_days`` old relative to ``as_of``
    (a ``datetime.date`` — explicit, so runs are reproducible and
    testable; lifecycle rules evaluate against "now" implicitly).
    ``age >= max_age_days`` matches GCS lifecycle semantics exactly —
    ``condition {age = 32}`` fires once an object is 32 days old, so a
    partition exactly ``max_age_days`` old IS deleted (r8; previously
    strictly-older, a deliberate-looking but undiscussed off-by-one vs
    the reference).

    Safety model, in order:

    - **dry-run first is the default** — ``dry_run=True`` only reports;
      the caller re-invokes with ``dry_run=False`` after reviewing.
    - deletion is PARTITION-granular (whole directories whose key parses
      as a date); unparseable directory names are reported with action
      ``"skipped_unparseable"`` and never deleted — a malformed layout
      degrades to a report, not data loss.
    - everything goes through the Hadoop ``FileSystem`` API resolved from
      ``base_path`` itself, so the same code sweeps ``file:``, ``hdfs:``
      or object-store (``gs:``/``s3a:``) layouts on a real cluster.

    Returns one report dict per partition: ``partition`` (dir name),
    ``age_days``, ``bytes``, ``action`` in ``{"kept", "deleted",
    "would_delete", "delete_failed", "skipped_unparseable",
    "error:<msg>"}`` — the audit trail a lifecycle rule never gives you.
    Per-partition faults (a directory vanishing between list and stat, a
    permission failure) are RECORDED, not raised, so the report of what
    was already deleted earlier in the sweep survives; ``fs.delete``'s
    boolean is honored, so a filesystem that reports failure by return
    value yields ``delete_failed``, never a phantom ``deleted``.
    """
    import datetime

    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    base = jvm.org.apache.hadoop.fs.Path(base_path)
    fs = base.getFileSystem(hconf)
    out: list[dict] = []
    for st in fs.listStatus(base):
        if not st.isDirectory():
            continue
        name = st.getPath().getName()
        if not name.startswith(partition_col + "="):
            continue
        key = name.split("=", 1)[1]
        try:
            day = datetime.date.fromisoformat(key)
        except ValueError:
            out.append(
                {"partition": name, "age_days": None, "bytes": None,
                 "action": "skipped_unparseable"}
            )
            continue
        age = (as_of - day).days
        try:
            nbytes = fs.getContentSummary(st.getPath()).getLength()
            if age >= max_age_days:
                if dry_run:
                    action = "would_delete"
                else:
                    action = "deleted" if fs.delete(st.getPath(), True) else "delete_failed"
            else:
                action = "kept"
        except Exception as e:  # noqa: BLE001 — report, never lose the audit trail
            out.append(
                {"partition": name, "age_days": age, "bytes": None,
                 "action": f"error:{type(e).__name__}"}
            )
            continue
        out.append(
            {"partition": name, "age_days": age, "bytes": nbytes, "action": action}
        )
    return sorted(out, key=lambda r: r["partition"])


def compact_small_files(
    spark: SparkSession, src: str, dst: str, target_file_bytes: int
) -> int:
    """Table-maintenance compaction: rewrite a fragmented parquet directory
    into ceil(total_bytes / target) files.  Returns the target file count.

    The small-file problem is THE silent 100 TB killer: a day of streaming
    micro-batches leaves millions of KB-sized files, and every downstream
    scan pays one task + one open + one footer parse per file.  Compaction
    sizes output files from the SOURCE's actual bytes (driver-side listing,
    no data read), then round-robin ``repartition(n)`` — a full shuffle,
    deliberately: ``coalesce`` would be shuffle-free but can only merge
    co-located files, inheriting any skew in the input layout, and at this
    file-count ratio the shuffle is the cheap part.  Idempotent overwrite
    (reference op #10's guard applies to maintenance jobs too)."""
    n_files = max(1, -(-dir_parquet_bytes(src) // target_file_bytes))
    spark.read.parquet(src).repartition(n_files).write.mode("overwrite").parquet(dst)
    return n_files


@register(
    "elt_compact_small_files",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CAST(floor(l_quantity * 100 + 0.5) AS BIGINT)) AS BIGINT) AS qty_cents
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="End-to-end small-file compaction: fragment lineitem into 64 "
    "micro-files (the streaming-sink arrival pattern), compact to "
    "target-sized files via compact_small_files (source-bytes-driven file "
    "count, round-robin repartition), then audit the compacted table "
    "against the original — identical row counts and cent-exact content "
    "hash per group prove the rewrite lost and duplicated nothing.  File "
    "counts and sizes are pinned in tests/test_sources.py.",
)
def elt_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    base = tmp_dir("compact_")
    frag, packed = os.path.join(base, "frag"), os.path.join(base, "packed")
    li.repartition(64).write.mode("overwrite").parquet(frag)
    compact_small_files(spark, frag, packed, target_file_bytes=4 << 20)
    back = spark.read.parquet(packed)
    return back.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.floor(F.col("l_quantity") * 100 + 0.5).cast("bigint")).alias("qty_cents"),
    )


@register(
    "elt_dynamic_partition_overwrite",
    oracle="""
    SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
           count(*) AS n,
           CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)
                    * CASE WHEN CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE)
                           = DATE '2024-01-15' THEN 2 ELSE 1 END) AS BIGINT) AS cents
    FROM events
    GROUP BY d
    """,
    doc="Dynamic partition overwrite — the daily-reload idiom the "
    "reference's WRITE_TRUNCATE (bq-importer/main.py:29) approximates at "
    "whole-table grain, done right at PARTITION grain: load all days "
    "date-partitioned, then rewrite ONE day (a correction batch with "
    "doubled values) with partitionOverwriteMode=dynamic — only the "
    "partitions present in the incoming batch are replaced, every other "
    "day's files are untouched (static mode would drop them all).  The "
    "audit rollup proves exactly one day changed.  At 100 TB this is the "
    "difference between rewriting 3 TB and rewriting one day's 10 GB.  "
    "The mode is a writer option, so the session conf stays static.",
)
def elt_dynamic_partition_overwrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select(
        "event_id",
        F.to_date(F.date_trunc("day", F.col("ts"))).alias("d"),
        F.floor(F.col("value") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    base = tmp_dir("dynpart_") + "/events_by_day"
    ev.write.mode("overwrite").partitionBy("d").parquet(base)

    target = "2024-01-15"
    correction = ev.filter(F.col("d") == target).withColumn(
        "cents", F.col("cents") * 2
    )
    # the writer option scopes dynamic mode to this write; the session conf
    # (static by default) is never touched
    correction.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy("d").parquet(base)

    # explicit schema on the read-back (the 100 TB practice anyway): an
    # EMPTY source writes zero data files and schema inference then fails
    # outright, where the declared schema yields the correct empty frame
    back = spark.read.schema("event_id bigint, cents bigint, d date").parquet(base)
    return back.groupBy("d").agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
    )


@register(
    "src_files_metadata",
    oracle="""
    SELECT 'lineitem.parquet' AS file_name, count(*) AS n_rows,
           CAST(min(l_orderkey) AS BIGINT) AS min_key,
           CAST(max(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem
    UNION ALL
    SELECT 'orders.parquet', count(*),
           CAST(min(o_orderkey) AS BIGINT), CAST(max(o_orderkey) AS BIGINT)
    FROM orders
    """,
    doc="Hidden _metadata column on file scans: every parquet row exposes "
    "its source file (_metadata.file_name / file_path / file_size / "
    "row_index) with NO extra I/O — the lineage primitive behind "
    "per-file audits, bad-file quarantine, and exactly-once file-level "
    "reprocessing (the Spark-native version of the reference's "
    "filename→table routing, csv-cleaner/main.py:15).  Grouping by "
    "source file over a two-table union proves provenance survives the "
    "union; file sizes/paths are environment-specific so the oracle pins "
    "the stable projection (name, rows, key range).",
)
def src_files_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = (
        spark.read.parquet(os.path.join(sf_dir, "lineitem.parquet"))
        .select(F.col("_metadata.file_name").alias("file_name"), F.col("l_orderkey").alias("k"))
    )
    o = (
        spark.read.parquet(os.path.join(sf_dir, "orders.parquet"))
        .select(F.col("_metadata.file_name").alias("file_name"), F.col("o_orderkey").alias("k"))
    )
    return (
        li.unionByName(o)
        .groupBy("file_name")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("k").alias("min_key"),
            F.max("k").alias("max_key"),
        )
    )


@register(
    "src_csv_quoted_edges",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(CASE WHEN contains(p_name, ',') THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_comma,
           CAST(sum(CASE WHEN contains(p_name, '"') THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_quote,
           CAST(sum(CASE WHEN contains(p_name, chr(10)) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_newline,
           CAST(sum(octet_length(encode(p_name)) + octet_length(encode(p_type))) AS BIGINT)
             AS payload_bytes
    FROM (
      SELECT p_partkey,
             CASE
               WHEN p_partkey % 4 = 0 THEN p_name || ', with, commas'
               WHEN p_partkey % 4 = 1 THEN p_name || ' "quoted" middle'
               WHEN p_partkey % 4 = 2 THEN p_name || chr(10) || 'second line'
               ELSE p_name
             END AS p_name,
             p_type
      FROM part
    )
    """,
    doc="Quoted-CSV edge semantics, round-tripped: inject embedded commas, "
    "double quotes, and NEWLINES into part names, write real CSV with "
    "Spark's quoting, read it back with multiLine + escape handling, and "
    "audit content byte-for-byte against the pre-export closed form.  "
    "This is the exact failure class the reference's byte-level NULL "
    "rewrite corrupts (SURVEY §7 hard parts: a literal pattern inside a "
    "quoted field) — proving the engine's CSV path handles what the "
    "reference cannot.  Note multiLine=true makes a CSV file unsplittable "
    "(a quoted newline could straddle a split boundary): correct, and "
    "the reason 100 TB pipelines move quoted text in parquet instead.",
)
def src_csv_quoted_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(F.col("p_partkey") % 4 == 0, F.concat("p_name", F.lit(", with, commas")))
        .when(F.col("p_partkey") % 4 == 1, F.concat("p_name", F.lit(' "quoted" middle')))
        .when(F.col("p_partkey") % 4 == 2, F.concat("p_name", F.lit("\nsecond line")))
        .otherwise(F.col("p_name"))
        .alias("p_name"),
        "p_type",
    )
    out = tmp_dir("csv_edges_") + "/part_csv"
    p.write.mode("overwrite").option("header", "true").option("escape", '"').csv(out)
    back = (
        spark.read.option("header", "true")
        .option("multiLine", "true")
        .option("escape", '"')
        .schema("p_partkey bigint, p_name string, p_type string")
        .csv(out)
    )
    return back.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("p_name").contains(","), 1).otherwise(0)).alias("n_with_comma"),
        F.sum(F.when(F.col("p_name").contains('"'), 1).otherwise(0)).alias("n_with_quote"),
        F.sum(F.when(F.col("p_name").contains("\n"), 1).otherwise(0)).alias("n_with_newline"),
        F.sum(
            F.octet_length(F.col("p_name").cast("binary"))
            + F.octet_length(F.col("p_type").cast("binary"))
        ).alias("payload_bytes"),
    )


@register(
    "src_binary_file",
    oracle="""
    WITH payload AS (
      SELECT n_nationkey,
             'blob:' || n_name || ':' || CAST(n_regionkey AS VARCHAR) || ':'
               || repeat(n_name || '|', CAST(n_nationkey AS INT) + 3) AS body
      FROM nation
    )
    SELECT 'nation_' || CAST(n_nationkey AS VARCHAR) || '.bin' AS fname,
           CAST(length(body) AS BIGINT) AS n_bytes,
           md5(body) AS digest
    FROM payload
    """,
    doc="Whole-file binary ingestion via the binaryFile data source — the "
    "scan path for opaque media payloads (images/audio/model shards) "
    "where each FILE is the record: spark.read.format('binaryFile') "
    "yields (path, modificationTime, length, content) with one row per "
    "file, split across tasks by file.  The fixture stages one "
    "deterministic payload per nation (driver-side staging of 25 tiny "
    "files — fixture setup, not the scan path), then the query proves "
    "byte-exact ingestion by length + md5 of content against the oracle's "
    "reconstruction of the same payloads from the base table.  Scale: "
    "binaryFile parallelizes per file and never splits one (required for "
    "format-opaque blobs); pair it with maxPartitionBytes-aware bin-"
    "packing of small files (see elt_compact_small_files) at 100 TB.",
)
def src_binary_file(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = (
        load(spark, sf_dir, "nation")
        .select("n_nationkey", "n_name", "n_regionkey")
        .collect()
    )
    stage = tmp_dir("src_binfile_")
    for r in rows:
        body = "blob:%s:%d:%s" % (
            r["n_name"],
            r["n_regionkey"],
            ("%s|" % r["n_name"]) * (int(r["n_nationkey"]) + 3),
        )
        with open(os.path.join(stage, "nation_%d.bin" % r["n_nationkey"]), "wb") as fh:
            fh.write(body.encode("utf-8"))
    scanned = spark.read.format("binaryFile").load(stage)
    return scanned.select(
        F.element_at(F.split(F.col("path"), "/"), -1).alias("fname"),
        F.col("length").alias("n_bytes"),
        F.md5("content").alias("digest"),
    )


@register(
    "elt_range_partition_layout",
    oracle="""
    WITH b AS (
      SELECT quantile_disc(o_totalprice, 0.25) AS p25,
             quantile_disc(o_totalprice, 0.5)  AS p50,
             quantile_disc(o_totalprice, 0.75) AS p75
      FROM orders
    ),
    assigned AS (
      SELECT CASE WHEN o_totalprice <= p25 THEN 0
                  WHEN o_totalprice <= p50 THEN 1
                  WHEN o_totalprice <= p75 THEN 2
                  ELSE 3 END AS pid,
             o_totalprice
      FROM orders CROSS JOIN b
    )
    SELECT pid, CAST(count(*) AS BIGINT) AS n,
           round(min(o_totalprice), 2) AS lo,
           round(max(o_totalprice), 2) AS hi
    FROM assigned GROUP BY pid
    """,
    doc="Range-partitioned layout with EXACT quantile boundaries — the "
    "deterministic cousin of repartitionByRange (whose boundaries come "
    "from reservoir sampling and vary run-to-run, so they cannot be "
    "oracle-checked or reproduced across engines).  percentile_disc "
    "picks real data values as cut points (identical element choice in "
    "Spark and DuckDB, unlike interpolated quantiles whose float "
    "arithmetic may differ in the last ulp), every row is routed by a "
    "broadcast boundary compare, and the per-partition (count, min, max) "
    "profile proves the ranges are disjoint, ordered, and ~25% balanced.  "
    "This is the write-side layout that makes downstream range predicates "
    "prune files at 100 TB; the quantile pass itself is the distributed "
    "rank machinery (scale.global_order_stats), never a value-buffering "
    "percentile aggregate — over a high-cardinality column the exact "
    "percentile's value->count buffer approaches the column itself, "
    "merged on one reducer (r16 buffer-agg scan).  All three cut points "
    "fall out of ONE rank pass as integer-exact conditional minima "
    "(percentile_disc(p) == the smallest value whose exact rank r has "
    "r >= p*n, cross-multiplied to avoid the double compare).",
)
def elt_range_partition_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.scale import global_order_stats

    o = load(spark, sf_dir, "orders").select("o_totalprice")
    ranked = global_order_stats(
        o.filter(F.col("o_totalprice").isNotNull()), ["o_totalprice"]
    )
    b = ranked.agg(
        F.min(F.when(F.col("_rn") * 4 >= F.col("_n_total"), F.col("o_totalprice"))).alias("p25"),
        F.min(F.when(F.col("_rn") * 2 >= F.col("_n_total"), F.col("o_totalprice"))).alias("p50"),
        F.min(F.when(F.col("_rn") * 4 >= F.col("_n_total") * 3, F.col("o_totalprice"))).alias("p75"),
    )
    assigned = o.crossJoin(F.broadcast(b)).select(
        F.when(F.col("o_totalprice") <= F.col("p25"), 0)
        .when(F.col("o_totalprice") <= F.col("p50"), 1)
        .when(F.col("o_totalprice") <= F.col("p75"), 2)
        .otherwise(3)
        .alias("pid"),
        "o_totalprice",
    )
    return assigned.groupBy("pid").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.min("o_totalprice"), 2).alias("lo"),
        F.round(F.max("o_totalprice"), 2).alias("hi"),
    )


@register(
    "elt_format_migration_chain",
    oracle="""
    WITH base AS (
      SELECT s_suppkey AS k,
             CAST(s_nationkey AS BIGINT) AS nat,
             CAST(floor(s_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM supplier
    ),
    dig AS (
      -- explicit NULL encoding in the digest: bare || returns NULL on a
      -- null field (row silently leaves the checksum) while concat_ws
      -- silently SKIPS it (field vanishes from the digest) — both wrong
      -- for reconciliation; a sentinel keeps every row and field counted
      SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CAST('0x' || substr(md5(
                      coalesce(CAST(k AS VARCHAR), 'null') || '|' ||
                      coalesce(CAST(nat AS VARCHAR), 'null') || '|' ||
                      coalesce(CAST(cents AS VARCHAR), 'null')), 1, 10)
                      AS BIGINT)) AS BIGINT)
               AS rowhash_sum
      FROM base
    )
    SELECT 'csv' AS fmt, n_rows, rowhash_sum FROM dig
    UNION ALL SELECT 'parquet', n_rows, rowhash_sum FROM dig
    UNION ALL SELECT 'orc', n_rows, rowhash_sum FROM dig
    """,
    doc="Format-migration chain with per-hop reconciliation: the same "
    "relation is written and re-read through csv -> parquet -> orc (each "
    "hop reads the PREVIOUS hop's files, not the base table — a real "
    "staged migration), and every hop emits the order-independent "
    "40-bit row-digest SUM (dq_reconciliation_rowhash's commutative "
    "fingerprint).  All three rows must carry the identical (count, "
    "digest) pair — the oracle states exactly that from the base table "
    "— so any hop that drops, duplicates, or mangles a row (CSV type "
    "coercion is the classic offender) fails the hash.  This is the "
    "audit loop for the reference's own CSV staging hop, generalized "
    "to a multi-format chain.  Digest columns are integer-normalized "
    "BEFORE the first write so float-text round-trips cannot flip "
    "bits.  Scale: each hop is one distributed write + scan; digests "
    "are per-partition partial sums.",
)
def elt_format_migration_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = load(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").cast("bigint").alias("k"),
        F.col("s_nationkey").cast("bigint").alias("nat"),
        F.floor(F.col("s_acctbal") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    root = tmp_dir("fmt_chain_")
    schema = "k bigint, nat bigint, cents bigint"

    def digest(df: DataFrame, fmt: str) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        F.coalesce(F.col("k").cast("string"), F.lit("null")),
                        F.coalesce(F.col("nat").cast("string"), F.lit("null")),
                        F.coalesce(F.col("cents").cast("string"), F.lit("null")),
                    ).cast("binary")
                ),
                1,
                10,
            ),
            16,
            10,
        ).cast("bigint")
        return df.agg(
            F.lit(fmt).alias("fmt"),
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(h).alias("rowhash_sum"),
        )

    csv_dir = os.path.join(root, "hop1_csv")
    base.write.option("header", "true").csv(csv_dir)
    hop1 = spark.read.schema(schema).option("header", "true").csv(csv_dir)

    pq_dir = os.path.join(root, "hop2_parquet")
    hop1.write.parquet(pq_dir)
    hop2 = spark.read.schema(schema).parquet(pq_dir)

    orc_dir = os.path.join(root, "hop3_orc")
    hop2.write.orc(orc_dir)
    hop3 = spark.read.schema(schema).orc(orc_dir)

    return (
        digest(hop1, "csv")
        .unionByName(digest(hop2, "parquet"))
        .unionByName(digest(hop3, "orc"))
    )


def parse_fixed_width_feed(files: DataFrame) -> DataFrame:
    """Read side of the fixed-width feed, pure narrow SQL over (shard,
    content) blobs: split lines, parse D records at their fixed offsets,
    parse each shard's T trailer, and verify the trailer's declared
    count/checksum against the parsed body — every output row carries
    its shard's audit verdict, so a tampered or truncated shard flags
    count_ok/checksum_ok=false on its rows instead of poisoning the
    load.  (The verdict is row-grain by design: a shard stripped of ALL
    its D records has no rows to carry a verdict and contributes
    nothing — detecting whole-shard loss is the caller's
    completeness-check concern, e.g. verify_rowcount, not this
    parser's.)  A shard truncated BEFORE its T trailer (no trailer line at
    all) is the same verdict, not a silent drop: stats joins the trailer
    LEFT and the null comparisons coalesce to false (ADVICE r8), so the
    body rows survive with both flags false.  A shard carrying MORE than
    one trailer is equally tampered: trailers aggregate to one audit row
    per shard (never fanning the body join out into duplicate rows) and
    n_trailers != 1 fails both verdicts.  Module-level so the tamper
    paths are testable with crafted feeds the consistent producer can
    never emit."""
    lines = files.select(
        "shard", F.explode(F.split("content", "\n")).alias("line")
    )
    body = lines.filter(F.substring("line", 1, 1) == "D").select(
        "shard",
        F.substring("line", 2, 9).cast("bigint").alias("custkey"),
        F.rtrim(F.substring("line", 11, 18)).alias("name"),
        (
            F.when(F.substring("line", 29, 1) == "-", -1).otherwise(1)
            * F.substring("line", 30, 11).cast("bigint")
        ).alias("bal_cents"),
        F.rtrim(F.substring("line", 41, 10)).alias("segment"),
    )
    trailer = lines.filter(F.substring("line", 1, 1) == "T").select(
        "shard",
        F.substring("line", 2, 9).cast("bigint").alias("n_declared"),
        (
            F.when(F.substring("line", 11, 1) == "-", -1).otherwise(1)
            * F.substring("line", 12, 15).cast("bigint")
        ).alias("sum_declared"),
    )
    stats = body.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_parsed"), F.sum("bal_cents").alias("sum_parsed")
    )
    # Trailers are aggregated per shard BEFORE the audit join: a tampered
    # feed carrying two T lines for one shard would otherwise fan the
    # audit out to two rows and DUPLICATE every body row through the join
    # below — poisoning the load in the one way the verdict columns can't
    # even signal.  Exactly-one is part of the verdict: n_trailers != 1
    # fails both checks.
    trailer_agg = trailer.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n_trailers"),
        F.min("n_declared").alias("n_declared"),
        F.min("sum_declared").alias("sum_declared"),
    )
    # LEFT join + coalesce-to-false: a shard with body rows but no trailer
    # (truncated mid-feed) must flag its rows, not drop them — the inner
    # join silently discarded exactly the shards most in need of the audit.
    # Every shard with >=1 body row has a stats row, so audit still covers
    # every body row and the body join below can stay inner.
    one = F.col("n_trailers") == 1
    audit = F.broadcast(
        stats.join(trailer_agg, "shard", "left").select(
            "shard",
            F.coalesce(
                one & (F.col("n_parsed") == F.col("n_declared")), F.lit(False)
            ).alias("count_ok"),
            F.coalesce(
                one & (F.col("sum_parsed") == F.col("sum_declared")), F.lit(False)
            ).alias("checksum_ok"),
        )
    )
    return body.join(audit, "shard").select(
        "custkey",
        "name",
        "bal_cents",
        "segment",
        F.col("shard").cast("bigint").alias("shard"),
        "count_ok",
        "checksum_ok",
    )


@register(
    "src_fixed_width_trailer",
    oracle="""
    SELECT c_custkey                                 AS custkey,
           -- fixed-width is space-padded: the format CANNOT round-trip
           -- trailing spaces, >width names, or NULLs; the oracle states
           -- the format's actual semantics (truncate to width, rtrim,
           -- NULL name -> '', NULL balance -> 0 cents)
           rtrim(substr(coalesce(c_name, ''), 1, 18)) AS name,
           CAST(floor(coalesce(c_acctbal, 0) * 100 + 0.5) AS BIGINT) AS bal_cents,
           rtrim(substr(coalesce(c_mktsegment, ''), 1, 10)) AS segment,
           -- NULL key: renders as an all-space key field (parses back to
           -- NULL) and routes to shard 0 (exporter hash-bucket contract)
           CAST(coalesce(c_custkey, 0) % 8 AS BIGINT) AS shard,
           TRUE                                      AS count_ok,
           TRUE                                      AS checksum_ok
    FROM customer
    """,
    doc="FIXED-WIDTH batch-feed ROUNDTRIP with header/trailer framing — "
    "the mainframe/banking export format every ELT tool must ingest: "
    "each of 8 shards renders customers into 50-char fixed-width D "
    "records (zero-padded key, space-padded name/segment, sign+11-digit "
    "cents) framed by an H header and a T trailer declaring the record "
    "COUNT and cents CHECKSUM of its shard (applyInPandas per shard — "
    "the write side is Python formatting, like a real feed producer).  "
    "The READ side is pure Spark-native narrow SQL: split lines, "
    "posexplode, classify by record type, substring/cast every field at "
    "its fixed offset, then verify each shard's trailer against the "
    "parsed body (count_ok / checksum_ok emitted per row) — a framing "
    "or offset bug mis-parses values or fails the trailer audit, and "
    "the oracle (the original customer columns) catches either.  "
    "Scale: shards parse independently (shard-keyed exchange only); "
    "trailer verification is a per-shard partial aggregate joined back "
    "broadcast — corrupt shards are isolated, not poison for the whole "
    "load.",
)
def src_fixed_width_trailer(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def render_shard(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("c_custkey")
        lines = [f"H{int(pdf['shard'].iloc[0]):09d}" if len(pdf) else "H000000000"]
        total = 0
        for _, r in pdf.iterrows():
            # fixed-width has NO null representation: a NULL name renders
            # as an all-space field (parses back to ''), a NULL balance as
            # zero cents — the format's lossy contract, mirrored by the
            # oracle's coalesce (null-tier find; None/NaN would crash the
            # f-string/int formatting here)
            cents = 0 if pd.isna(r["cents"]) else int(r["cents"])
            name = r["c_name"] if isinstance(r["c_name"], str) else ""
            seg = r["c_mktsegment"] if isinstance(r["c_mktsegment"], str) else ""
            # NULL key -> all-space key field: the one spelling the parse
            # side's CAST reads back as NULL (a zero-pad would alias key 0)
            key = (
                " " * 9
                if pd.isna(r["c_custkey"])
                else f"{int(r['c_custkey']):09d}"
            )
            total += cents
            sign = "-" if cents < 0 else "+"
            lines.append(
                "D"
                + key
                + f"{name:<18.18}"
                + sign
                + f"{abs(cents):011d}"
                + f"{seg:<10.10}"
            )
        tsign = "-" if total < 0 else "+"
        lines.append(f"T{len(pdf) - 0:09d}{tsign}{abs(total):015d}")
        return pd.DataFrame(
            {"shard": [int(pdf["shard"].iloc[0])], "content": ["\n".join(lines)]}
        )

    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("cents"),
        F.coalesce(F.col("c_custkey") % 8, F.lit(0)).cast("int").alias("shard"),
    )
    files = c.groupBy("shard").applyInPandas(
        render_shard, schema="shard int, content string"
    )
    return parse_fixed_width_feed(files)


_SNIFF_DELIMS = (",", "|", "\t")
_SNIFF_NAMES = ("comma", "pipe", "tab")


def sniff_and_parse_feed(feeds: DataFrame) -> DataFrame:
    """Read side of the delimiter-sniffed feed: detect each shard's
    separator by plurality count over the HEADER line (greatest over
    (count, name) structs — ties break to the lexicographically larger
    name, deterministic), then split every body line on the detected
    separator.  Module-level so detection is testable on ambiguous
    headers the fixture producer never emits."""
    # strip exactly ONE trailing newline (\\z = true end-of-input; a bare
    # $ would also eat the penultimate newline of a "\\n\\n" tail) before
    # splitting: a feed delivered with a final newline (the common real
    # delivery) must not parse a junk all-null row, but an INTERIOR blank
    # line is a corruption signal and must stay visible as an all-null row
    # rather than vanish silently (ADVICE r9: the r9 length-guard dropped
    # every empty line, losing that signal)
    lines = feeds.select(
        "shard",
        F.posexplode(
            F.split(F.regexp_replace("content", r"\n\z", ""), "\n")
        ).alias("ln", "line"),
    )
    header = lines.filter(F.col("ln") == 0)

    def n_occ(delim: str):
        return F.length("line") - F.length(F.replace(F.col("line"), F.lit(delim)))

    detected = header.select(
        "shard",
        F.greatest(
            *[
                F.struct(n_occ(d).alias("n"), F.lit(name).alias("nm"))
                for d, name in zip(_SNIFF_DELIMS, _SNIFF_NAMES)
            ]
        )["nm"].alias("detected"),
    )
    body = lines.filter(F.col("ln") > 0).join(F.broadcast(detected), "shard")
    delim_chr = (
        F.when(F.col("detected") == "comma", ",")
        .when(F.col("detected") == "pipe", r"\|")
        .otherwise("\t")
    )
    cells = F.split(F.col("line"), delim_chr)
    return body.select(
        cells.getItem(0).cast("bigint").alias("custkey"),
        cells.getItem(1).alias("name"),
        cells.getItem(2).alias("segment"),
        "detected",
    )


@register(
    "elt_delimiter_sniffing",
    oracle="""
    SELECT c_custkey AS custkey,
           -- an unquoted delimited feed has no NULL representation: a NULL
           -- field renders as the empty string (format contract, mirrored
           -- in the producer kernel)
           coalesce(c_name, '') AS name,
           coalesce(c_mktsegment, '') AS segment,
           -- a NULL key routes to shard 0 (exporter hash-bucket contract,
           -- mirrored in the producer's coalesce)
           CASE CAST(coalesce(c_custkey, 0) % 3 AS INT)
             WHEN 0 THEN 'comma' WHEN 1 THEN 'pipe' ELSE 'tab' END AS detected
    FROM customer
    """,
    doc="DELIMITER SNIFFING — the unglamorous ingest reality the "
    "reference's fixed-format exporter never faces: three upstream "
    "feeds deliver the same customer extract as CSV, PIPE and TSV "
    "(shard = key mod 3, rendered by a per-shard applyInPandas "
    "producer like a real partner feed), and the reader must DETECT "
    "each file's delimiter before it can parse — here by counting "
    "candidate separators in the HEADER LINE and taking the plurality "
    "(the csv.Sniffer heuristic, expressed as codegen "
    "length-difference arithmetic, no UDF).  Detection feeds a "
    "broadcast per-shard delimiter map; parsing is then one split() "
    "per line with the detected separator.  The oracle is the "
    "original table plus the known shard->delimiter truth, so a "
    "missniff or misparse of any row fails the gate.  (Fixture fields "
    "contain no candidate separators — the no-quoting assumption is "
    "stated, src_csv_quoted_edges covers quoting.)  Scale: sniffing "
    "reads one line per FILE (metadata-scale), parsing is narrow "
    "per-line codegen; each feed parses independently.",
)
def elt_delimiter_sniffing(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    def render(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        d = _SNIFF_DELIMS[shard]
        pdf = pdf.sort_values("c_custkey")
        lines = [d.join(["custkey", "name", "segment"])]
        lines += [
            # NULL fields render as '' — unquoted delimited text has no
            # null representation (see the oracle's coalesce)
            d.join(
                [
                    "" if pd.isna(r["c_custkey"]) else str(int(r["c_custkey"])),
                    r["c_name"] if isinstance(r["c_name"], str) else "",
                    r["c_mktsegment"] if isinstance(r["c_mktsegment"], str) else "",
                ]
            )
            for _, r in pdf.iterrows()
        ]
        return pd.DataFrame({"shard": [shard], "content": ["\n".join(lines)]})

    c = load(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_name",
        "c_mktsegment",
        # NULL key -> shard 0 (null-KEYS contract; oracle coalesces too)
        F.coalesce(F.col("c_custkey") % 3, F.lit(0)).cast("int").alias("shard"),
    )
    feeds = c.groupBy("shard").applyInPandas(render, schema="shard int, content string")
    return sniff_and_parse_feed(feeds)
