"""Registry queries exercising the ELT pipeline inside the correctness gate.

These run the actual export→clean→load chain on a temp dir, then return the
loaded table so the DuckDB oracle (reading the *original* parquet with the
equivalent lossy casts) verifies the pipeline end-to-end — the
sqllogictest-style check the reference never had (SURVEY.md §5).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register
from ..tmputil import tmp_dir
from .pipeline import roundtrip


@register(
    "elt_roundtrip_nation",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
    doc="Full pipeline on `nation`: CSV export (date-partitioned layout) → "
    "sentinel clean → BQ-JSON schema-applied load. Ints come back BIGINT "
    "(BQ INTEGER is 64-bit).",
)
def elt_roundtrip_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = load(spark, sf_dir, "nation")
    tmp = tmp_dir("elt_nation_")  # lives past return; removed at exit
    return roundtrip(spark, src, tmp, "nation")


@register(
    "elt_roundtrip_null_sentinel",
    oracle="""
    SELECT CAST(o_orderkey AS BIGINT)       AS o_orderkey,
           nullif(o_orderstatus, 'O')       AS status_or_null,
           round(o_totalprice, 2)           AS total
    FROM orders
    WHERE o_orderkey <= 1000
    """,
    doc="Pipeline with real NULLs: nullable column exported with the MySQL "
    '"N sentinel, cleaned CSV-aware, loaded with schema — NULLs survive '
    "the trip (the reference's known-issue fix, op #12).",
)
def elt_roundtrip_null_sentinel(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
            F.round("o_totalprice", 2).alias("total"),
        )
    )
    tmp = tmp_dir("elt_nulls_")
    return roundtrip(spark, src, tmp, "orders_nulls")


@register(
    "elt_pipeline_to_query",
    oracle="""
    SELECT n_name, count(*) AS n_supp, round(sum(s_acctbal), 2) AS total_bal
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    GROUP BY n_name
    """,
    doc="The whole reference chain feeding the query layer: export supplier "
    "+ nation through CSV → clean → schema-applied load → register views → "
    "run a join-aggregate on the LOADED tables. This is the reference's "
    "end-state ('analytics happen in BigQuery after load') in one job.",
)
def elt_pipeline_to_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = tmp_dir("elt_e2e_")
    from .pipeline import export_table, load_table

    for t in ("supplier", "nation"):
        data_path, schema_path = export_table(load(spark, sf_dir, t), base, t)
        load_table(spark, data_path, schema_path, table=f"{t}_loaded")
    return spark.sql(
        """
        SELECT n_name, count(*) AS n_supp, round(sum(s_acctbal), 2) AS total_bal
        FROM supplier_loaded JOIN nation_loaded ON s_nationkey = n_nationkey
        GROUP BY n_name
        """
    )


@register(
    "elt_merge_upsert",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 0 THEN 'U' ELSE o_orderstatus END AS status,
           CASE WHEN o_orderkey % 10 = 0 THEN round(o_totalprice, 2) + 1000.0
                ELSE round(o_totalprice, 2) END AS total
    FROM orders
    """,
    doc="MERGE-equivalent upsert (ingest/merge.py): a 10% delta overwrites "
    "its keys, everything else passes through — the incremental-load "
    "upgrade to the reference's WRITE_TRUNCATE full reload. Oracle applies "
    "the same delta as a CASE projection.",
)
def elt_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .merge import upsert

    target = load(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        F.round("o_totalprice", 2).alias("total"),
    )
    updates = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 10 == 0)
        .select(
            "o_orderkey",
            F.lit("U").alias("status"),
            # round-then-add: ×1.1 manufactures exact half-cent values where
            # Spark (HALF_UP) and DuckDB disagree — see oracle-parity rules
            (F.round("o_totalprice", 2) + 1000.0).alias("total"),
        )
    )
    return upsert(target, updates, "o_orderkey")


@register(
    "elt_schema_catalog",
    oracle="""
    SELECT table_name, column_name, CAST(ordinal_position AS BIGINT) AS ordinal_position
    FROM information_schema.columns
    WHERE table_name IN ('region', 'nation', 'supplier')
    """,
    doc="Catalog schema scan (reference ops #1/#4): enumerate columns with "
    "ordinal positions for selected tables — Spark's df.schema vs DuckDB's "
    "information_schema.columns.",
)
def elt_schema_catalog(spark: SparkSession, sf_dir: str) -> DataFrame:
    rows = []
    for t in ("region", "nation", "supplier"):
        for i, f in enumerate(load(spark, sf_dir, t).schema.fields, start=1):
            rows.append((t, f.name, i))
    return spark.createDataFrame(rows, "table_name string, column_name string, ordinal_position bigint")


@register(
    "elt_load_qa_metrics",
    oracle="""
    SELECT count(*) AS n_rows,
           count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS nulls_status,
           CAST(0 AS BIGINT) AS nulls_orderkey
    FROM orders WHERE o_orderkey <= 1000
    """,
    doc="Op #21 (post-load row-count check) as a FIRST-CLASS observed "
    "metric: the QA aggregates (row count, per-column null counts) ride "
    "the load action via df.observe — one pass over the data, vs the "
    "reference's second COUNT(*) scan of the loaded table "
    "(bq-importer/main.py:41-43).  The query returns the observation "
    "itself, so the oracle checks the metric channel end-to-end: NULLs "
    "manufactured through the sentinel pipeline must be COUNTED correctly "
    "by the in-flight observation.",
)
def elt_load_qa_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .pipeline import export_table, load_table_observed

    src = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") <= 1000)
        .select(
            "o_orderkey",
            F.nullif(F.col("o_orderstatus"), F.lit("O")).alias("status_or_null"),
        )
    )
    base = tmp_dir("elt_qa_")
    data_path, schema_path = export_table(src, base, "orders_qa")
    observed, obs = load_table_observed(spark, data_path, schema_path)
    observed.count()  # the load action; metrics ride along
    m = obs.get
    return spark.createDataFrame(
        [(m["n_rows"], m["nulls_status_or_null"], m["nulls_o_orderkey"])],
        "n_rows bigint, nulls_status bigint, nulls_orderkey bigint",
    )


@register(
    "elt_bad_records_quarantine",
    oracle="""
    -- a NULL key is NOT corruption: it exports as an empty field and
    -- loads back as a typed NULL (good row) — only the planted %97 text
    -- corruption quarantines (null-KEYS contract)
    SELECT CAST(count(CASE WHEN c_custkey IS NULL OR c_custkey % 97 <> 0
                      THEN 1 END) AS BIGINT) AS n_good,
           CAST(count(CASE WHEN c_custkey % 97 = 0 THEN 1 END) AS BIGINT)  AS n_quarantined,
           CAST(sum(CASE WHEN c_custkey IS NULL OR c_custkey % 97 <> 0
                         THEN CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) END)
                AS BIGINT) AS good_bal_cents
    FROM customer
    """,
    doc="Bad-record quarantine on load (PERMISSIVE mode + "
    "columnNameOfCorruptRecord): a corrupted export — every 97th row "
    "carries unparseable text in a numeric field — loads WITHOUT killing "
    "the batch; malformed rows surface with NULL typed columns and the "
    "raw line preserved in the corrupt-record column for reprocessing, "
    "clean rows load normally.  This is the robustness layer the "
    "reference's load cannot express (a bad row fails the whole BigQuery "
    "job, bq-importer/main.py:27-39) and the row-level complement of "
    "fn_try_arithmetic's cell-level NULLs.  Counts and the clean-row "
    "balance total are closed-form checked against the uncorrupted "
    "source.  At 100 TB: quarantine is a filter on the corrupt column — "
    "the load stays single-pass, and the quarantined lines are replayable "
    "bytes, not lost data.",
)
def elt_bad_records_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:

    c = load(spark, sf_dir, "customer")
    # concat_ws SKIPS null fields (shortening the line and shifting
    # columns) — encode NULL as an empty field instead, which PERMISSIVE
    # reads back as a typed NULL, not a corrupt record (null-KEYS find)
    line = F.concat_ws(
        ",",
        F.coalesce(F.col("c_custkey").cast("string"), F.lit("")),
        F.coalesce(F.col("c_nationkey").cast("string"), F.lit("")),
        # the balance field needs the same coalesce as the key fields: a
        # row with NULL c_custkey AND NULL c_acctbal takes the otherwise()
        # branch, yields NULL, and concat_ws would drop the field — a
        # 2-field line PERMISSIVE flags corrupt while the oracle counts
        # the row good (ADVICE r13, latent: no tier plants both NULLs)
        F.coalesce(
            F.when(F.col("c_custkey") % 97 == 0, F.lit("XXX")).otherwise(
                F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").cast("string")
            ),
            F.lit(""),
        ),
    )
    out = tmp_dir("quarantine_") + "/export"
    c.select(line.alias("value")).write.mode("overwrite").text(out)

    schema = "c_custkey bigint, c_nationkey bigint, bal_cents bigint, _corrupt string"
    back = (
        spark.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .csv(out)
    )
    return back.agg(
        F.count(F.when(F.col("_corrupt").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt").isNotNull(), 1)).alias("n_quarantined"),
        F.sum(F.when(F.col("_corrupt").isNull(), F.col("bal_cents"))).alias(
            "good_bal_cents"
        ),
    )


@register(
    "elt_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT o_orderkey AS k,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    b AS (
      SELECT k, cents + CASE WHEN k % 101 = 0 THEN 100 ELSE 0 END AS cents
      FROM a WHERE k % 97 <> 0
      UNION ALL
      SELECT k + 1000000000 AS k, cents FROM a WHERE k % 103 = 0
    ),
    classified AS (
      SELECT coalesce(a.k, b.k) AS k,
             CASE WHEN a.k IS NULL THEN 'added'
                  WHEN b.k IS NULL THEN 'removed'
                  WHEN a.cents <> b.cents THEN 'changed'
                  ELSE 'unchanged' END AS change_kind
      FROM a FULL OUTER JOIN b ON b.k = a.k
    )
    SELECT change_kind,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(k) AS BIGINT) AS key_checksum
    FROM classified GROUP BY change_kind
    """,
    doc="Snapshot differencing (table compare): classify every primary key "
    "across two snapshot versions as added / removed / changed / "
    "unchanged via ONE full outer join on the key, and emit per-class "
    "counts plus a key checksum — the audit primitive behind incremental "
    "replication validation (the reference's WRITE_TRUNCATE reload has "
    "no way to even ask 'what changed'; this is the engine-side answer). "
    "Snapshot B is derived deterministically from A (drop keys %97, "
    "perturb %101, insert shifted %103) so both engines construct the "
    "identical pair without extra fixtures.  At 100 TB: the outer join "
    "shuffles both snapshots once on the PK — the minimum possible — "
    "and the classification is a narrow projection; counts partial-"
    "aggregate before the final 4-row shuffle.  Works unchanged as the "
    "per-micro-batch compare in a streaming CDC audit.",
)
def elt_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    a = o.select(
        F.col("o_orderkey").alias("k"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    b = (
        a.filter(F.col("k") % 97 != 0)
        .select(
            "k",
            (F.col("cents") + F.when(F.col("k") % 101 == 0, 100).otherwise(0)).alias("cents"),
        )
        .unionAll(
            a.filter(F.col("k") % 103 == 0).select(
                (F.col("k") + 1000000000).alias("k"), "cents"
            )
        )
    )
    aa = a.select(F.col("k").alias("ka"), F.col("cents").alias("ca"))
    bb = b.select(F.col("k").alias("kb"), F.col("cents").alias("cb"))
    classified = aa.join(bb, aa.ka == bb.kb, "full_outer").select(
        F.coalesce("ka", "kb").alias("k"),
        F.when(F.col("ka").isNull(), "added")
        .when(F.col("kb").isNull(), "removed")
        .when(F.col("ca") != F.col("cb"), "changed")
        .otherwise("unchanged")
        .alias("change_kind"),
    )
    return classified.groupBy("change_kind").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("k").cast("bigint").alias("key_checksum"),
    )


@register(
    "elt_early_arriving_facts",
    oracle="""
    WITH dim_v1 AS (
      SELECT c_custkey, c_mktsegment FROM customer WHERE c_custkey % 3 <> 0
    ),
    facts AS (
      SELECT o_orderkey, o_custkey,
             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderdate >= TIMESTAMP '1998-01-01'
    ),
    phase1 AS (
      SELECT f.o_orderkey, f.o_custkey, f.cents, d.c_mktsegment
      FROM facts f LEFT JOIN dim_v1 d ON d.c_custkey = f.o_custkey
    ),
    parked AS (SELECT o_orderkey, o_custkey, cents FROM phase1 WHERE c_mktsegment IS NULL),
    resolved1 AS (SELECT * FROM phase1 WHERE c_mktsegment IS NOT NULL),
    retry AS (
      SELECT p.o_orderkey, p.o_custkey, p.cents, d.c_mktsegment
      FROM parked p LEFT JOIN customer d ON d.c_custkey = p.o_custkey
    )
    SELECT c_mktsegment AS segment, 'phase1' AS resolved_in,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(cents) AS BIGINT) AS cents
    FROM resolved1 GROUP BY c_mktsegment
    UNION ALL
    SELECT c_mktsegment, 'retry', count(*), CAST(sum(cents) AS BIGINT)
    FROM retry WHERE c_mktsegment IS NOT NULL GROUP BY c_mktsegment
    """,
    doc="Early-arriving facts / late-arriving dimension — the warehouse "
    "integration pattern the reference's fire-and-forget loads cannot "
    "express: facts whose dimension key has no match yet are PARKED "
    "(left join + null split), and when the completed dimension lands "
    "the parked set alone is retried — history is never rescanned, the "
    "retry touches exactly the unresolved rows.  Fixture: dim v1 is "
    "missing every third customer; the full table is v2.  Output "
    "reports per-segment resolution by phase, proving (a) phase1+retry "
    "partition the facts, (b) the retry resolves everything here.  "
    "Scale: two key-partitioned left joins, the second over the parked "
    "subset only; the parked table is the standard 'suspense' table of "
    "dimensional warehouses, bounded by dimension lag, not history.",
)
def elt_early_arriving_facts(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..catalog import load

    dim_full = load(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    dim_v1 = dim_full.filter(F.col("c_custkey") % 3 != 0)
    facts = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .select(
            "o_orderkey",
            "o_custkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint").alias("cents"),
        )
    )
    phase1 = facts.join(
        dim_v1, facts.o_custkey == dim_v1.c_custkey, "left_outer"
    ).select("o_orderkey", "o_custkey", "cents", "c_mktsegment")
    resolved1 = phase1.filter(F.col("c_mktsegment").isNotNull())
    parked = phase1.filter(F.col("c_mktsegment").isNull()).drop("c_mktsegment")
    retry = parked.join(
        dim_full, parked.o_custkey == dim_full.c_custkey, "left_outer"
    ).select("cents", "c_mktsegment")

    out1 = resolved1.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents")
    ).select("segment", F.lit("phase1").alias("resolved_in"), "n", "cents")
    out2 = (
        retry.filter(F.col("c_mktsegment").isNotNull())
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(F.count(F.lit(1)).alias("n"), F.sum("cents").alias("cents"))
        .select("segment", F.lit("retry").alias("resolved_in"), "n", "cents")
    )
    return out1.unionByName(out2)


@register(
    "elt_right_to_erasure",
    oracle="""
    WITH requests AS (
      SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0
    ),
    ev_after AS (
      SELECT e.* FROM events e
      WHERE NOT EXISTS (SELECT 1 FROM requests r WHERE r.user_id = e.user_id)
    ),
    ord_after AS (
      SELECT o.* FROM orders o
      WHERE NOT EXISTS (SELECT 1 FROM requests r WHERE r.user_id = o.o_custkey)
    )
    SELECT 'events' AS tbl,
           (SELECT CAST(count(*) AS BIGINT) FROM events) AS n_before,
           (SELECT CAST(count(*) AS BIGINT) FROM ev_after) AS n_after,
           (SELECT CAST(count(*) AS BIGINT) FROM events)
             - (SELECT CAST(count(*) AS BIGINT) FROM ev_after) AS n_erased,
           (SELECT CAST(count(*) AS BIGINT) FROM requests) AS n_requests
    UNION ALL
    SELECT 'orders',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM ord_after),
           (SELECT count(*) FROM orders) - (SELECT count(*) FROM ord_after),
           (SELECT count(*) FROM requests)
    """,
    doc="Right-to-erasure (GDPR Art.17) propagation — the compliance "
    "delete every user-data warehouse must run: a tombstone table of "
    "erasure requests is anti-joined against every table carrying the "
    "subject key (events by user_id, orders by custkey), and the audit "
    "row per table reports before/after/erased counts against the "
    "request count.  Scale shape: the tombstone set is tiny -> "
    "BROADCAST anti-join, so erasure is a scan-speed rewrite of each "
    "table, never a shuffle of history; on a table format the same "
    "anti-join drives MERGE DELETE + vacuum of dead files.  The audit "
    "(not the rewrite) is the query here — erased counts must "
    "reconcile exactly or the compliance job aborts.",
)
def elt_right_to_erasure(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..catalog import load

    ev = load(spark, sf_dir, "events")
    orders = load(spark, sf_dir, "orders")
    # the tombstone set feeds both anti-joins and the request count
    requests = ev.filter(F.col("user_id") % 13 == 0).select("user_id").distinct()
    ev_after = ev.join(F.broadcast(requests), "user_id", "left_anti")
    ord_after = orders.join(
        F.broadcast(requests.withColumnRenamed("user_id", "o_custkey")),
        "o_custkey",
        "left_anti",
    )

    n_req = requests.agg(F.count(F.lit(1)).alias("n_requests"))

    def audit(tbl: str, before, after):
        # fully declarative: three scalar aggregates broadcast-joined —
        # one lazy plan, no driver-side .count() actions
        return (
            before.agg(F.count(F.lit(1)).alias("n_before"))
            .crossJoin(F.broadcast(after.agg(F.count(F.lit(1)).alias("n_after"))))
            .crossJoin(F.broadcast(n_req))
            .select(
                F.lit(tbl).alias("tbl"),
                "n_before",
                "n_after",
                (F.col("n_before") - F.col("n_after")).alias("n_erased"),
                "n_requests",
            )
        )

    return audit("events", ev, ev_after).unionByName(audit("orders", orders, ord_after))


@register(
    "elt_write_audit_publish",
    oracle="""
    WITH loaded AS (
      SELECT o_orderpriority,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS cents
      FROM orders WHERE o_orderstatus <> 'P' AND o_orderkey IS NOT NULL
      GROUP BY o_orderpriority
    )
    SELECT o_orderpriority, n, cents,
           CAST(2 AS BIGINT) AS published_version,
           true AS audit_passed
    FROM loaded
    """,
    doc="Write-Audit-Publish — the lakehouse deployment pattern (Iceberg "
    "WAP / Delta shallow-clone promote): each load lands in an "
    "UNPUBLISHED versioned directory, a declarative audit runs against "
    "the staged version (row count > 0, no NULL keys, no duplicate "
    "primary keys — dq_data_contract rules), and only on audit success "
    "does the POINTER file atomically advance — readers resolve the "
    "pointer and can never observe a half-loaded or audit-failing "
    "version.  The fixture publishes v1 (full), then stages v2 (a "
    "filtered reload) which passes audit and publishes; a deliberately "
    "corrupt v3 (duplicated keys) FAILS audit and the pointer provably "
    "still serves v2 — the query returns v2's aggregate with the "
    "version stamp.  Atomicity via os.replace of the one-line pointer "
    "(POSIX rename) — the same contract a catalog commit provides.",
)
def elt_write_audit_publish(spark, sf_dir):
    import os

    from pyspark.sql import functions as F

    from ..catalog import load

    root = tmp_dir("wap_")
    pointer = os.path.join(root, "CURRENT")

    def publish(version: int) -> None:
        tmp = pointer + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, pointer)  # atomic pointer swap

    def audit(df) -> bool:
        checks = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.count(F.when(F.col("o_orderkey").isNull(), 1)).alias("null_keys"),
            (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_keys"),
        ).collect()[0]
        return checks["n"] > 0 and checks["null_keys"] == 0 and checks["dup_keys"] == 0

    def write_stage(df, version: int) -> None:
        df.write.mode("overwrite").parquet(os.path.join(root, f"v{version}"))

    def stage_audit_publish(df, version: int) -> bool:
        write_stage(df, version)
        staged = spark.read.parquet(os.path.join(root, f"v{version}"))
        if audit(staged):
            publish(version)
            return True
        return False  # pointer untouched — readers keep the old version

    # the loader stages the CLEAN slice: a NULL primary key is quarantined
    # before staging (otherwise the no-NULL-keys audit correctly rejects
    # every version and nothing ever publishes — null-KEYS tier find; the
    # oracle states the same exclusion).  The v3 duplicate-key corruption
    # still exercises the audit-failure path.
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey").isNotNull())
    ok1 = stage_audit_publish(o, 1)
    ok2 = stage_audit_publish(o.filter(F.col("o_orderstatus") != "P"), 2)
    corrupt = o.limit(500).unionAll(o.limit(500))  # duplicate keys on purpose
    ok3 = stage_audit_publish(corrupt, 3)
    if not (ok1 and ok2) or ok3:
        raise RuntimeError(f"WAP protocol violated: {ok1}, {ok2}, {ok3}")

    with open(pointer) as fh:
        current = int(fh.read().strip())
    published = spark.read.parquet(os.path.join(root, f"v{current}"))
    return published.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("bigint")).alias("cents"),
    ).select(
        "o_orderpriority",
        "n",
        "cents",
        F.lit(current).cast("bigint").alias("published_version"),
        F.lit(True).alias("audit_passed"),
    )


@register(
    "elt_storage_tiering_plan",
    oracle="""
    WITH days AS (
      SELECT CAST(date_trunc('day', CAST(ts AS TIMESTAMP)) AS DATE) AS d,
             CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(octet_length(CAST(props AS BLOB)) + 48) AS BIGINT) AS est_bytes
      FROM events GROUP BY d
    ),
    anchor AS (SELECT max(d) AS newest FROM days)
    SELECT CASE WHEN newest - d <= 7  THEN 'hot'
                WHEN newest - d <= 21 THEN 'warm'
                ELSE 'cold' END AS tier,
           CAST(count(*) AS BIGINT) AS n_partitions,
           CAST(sum(n_rows) AS BIGINT) AS n_rows,
           CAST(sum(est_bytes) AS BIGINT) AS est_bytes,
           CAST(min(d) AS DATE) AS oldest_day,
           CAST(max(d) AS DATE) AS newest_day
    FROM days CROSS JOIN anchor
    GROUP BY tier
    """,
    doc="Storage-tiering plan — the lifecycle policy the reference "
    "expresses as a blunt 32-day GCS delete rule (main.tf:72-79), "
    "upgraded to the hot/warm/cold layout decision every lakehouse "
    "makes: day partitions classified by age against the newest "
    "partition (hot <= 7d on NVMe/cache, warm <= 21d on standard, "
    "cold beyond to archive/infrequent-access), each tier reporting "
    "partition count, rows, and estimated bytes (per-row payload "
    "octet_length + fixed column overhead — the same arithmetic a "
    "catalog's stats would give).  The plan table drives the actual "
    "data movement (partition-level copy + pointer update); computing "
    "it is one partition-grain aggregate + a broadcast anchor.  Being "
    "DATA, the policy is auditable and replayable — the step up from "
    "fire-and-forget bucket lifecycle rules.",
)
def elt_storage_tiering_plan(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..catalog import load

    days = (
        load(spark, sf_dir, "events")
        .groupBy(F.date_trunc("day", F.col("ts")).cast("date").alias("d"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum(F.octet_length("props") + 48).cast("bigint").alias("est_bytes"),
        )
    )
    anchor = days.agg(F.max("d").alias("newest"))
    age = F.datediff(F.col("newest"), F.col("d"))
    tier = (
        F.when(age <= 7, "hot").when(age <= 21, "warm").otherwise("cold")
    )
    return (
        days.crossJoin(F.broadcast(anchor))
        .groupBy(tier.alias("tier"))
        .agg(
            F.count(F.lit(1)).alias("n_partitions"),
            F.sum("n_rows").alias("n_rows"),
            F.sum("est_bytes").cast("bigint").alias("est_bytes"),
            F.min("d").alias("oldest_day"),
            F.max("d").alias("newest_day"),
        )
    )


@register(
    "elt_incremental_bookmark_extract",
    oracle="""
    WITH bookmark AS (
      SELECT CAST(quantile_disc(o_orderkey, 0.6) AS BIGINT) AS hwm FROM orders
    ),
    pull1 AS (
      SELECT o.* FROM orders o CROSS JOIN bookmark b WHERE o.o_orderkey <= b.hwm
    ),
    pull2 AS (
      SELECT o.* FROM orders o CROSS JOIN bookmark b WHERE o.o_orderkey > b.hwm
    )
    SELECT 'pull1' AS pull,
           (SELECT CAST(count(*) AS BIGINT) FROM pull1) AS n_rows,
           (SELECT CAST(max(o_orderkey) AS BIGINT) FROM pull1) AS new_bookmark,
           (SELECT CAST(count(*) AS BIGINT) FROM pull1)
             + (SELECT CAST(count(*) AS BIGINT) FROM pull2)
             = (SELECT CAST(count(*) AS BIGINT) FROM orders) AS partitions_exactly
    UNION ALL
    SELECT 'pull2',
           (SELECT count(*) FROM pull2),
           (SELECT max(o_orderkey) FROM pull2),
           (SELECT count(*) FROM pull1) + (SELECT count(*) FROM pull2)
             = (SELECT count(*) FROM orders)
    """,
    doc="Incremental extraction with a high-water-mark BOOKMARK — the "
    "pattern that replaces the reference's nightly FULL re-export "
    "(cloud-sql-exporter dumps every table completely, every run): "
    "each pull takes only rows past the persisted bookmark (a "
    "monotonic key or commit timestamp), then advances the bookmark "
    "to max(key) of the pull — here two successive pulls split at a "
    "deterministic 60th-percentile mark, and the audit booleans prove "
    "the pulls PARTITION the table exactly (no gap, no overlap — the "
    "failure modes bookmark off-by-ones cause).  The JDBC source "
    "applies the bookmark as a pushed-down predicate (WHERE key > ?), "
    "so the source database scans only the delta — the difference "
    "between a 100 TB nightly copy and a GB-sized one.  Scale note "
    "(r16 buffer-agg scan): the 60th-percentile split mark is computed "
    "via scale.global_order_stats (range-partitioned exact ranks) "
    "instead of percentile_disc — over the all-distinct key column the "
    "percentile aggregate's value->count buffer IS the table, merged on "
    "one reducer; the rank form is the same smallest-value-with-"
    "cume_dist>=p semantics as an exact integer comparison (rank*10 >= "
    "n*6), shuffle-distributed.",
)
def elt_incremental_bookmark_extract(spark, sf_dir):
    from pyspark.sql import functions as F

    from ..catalog import load
    from ..operators.scale import global_order_stats

    o = load(spark, sf_dir, "orders")
    # percentile_disc(0.6) == the smallest key whose exact global rank r
    # satisfies r >= 0.6*n (NULL keys excluded, as the aggregate form
    # ignores them); integer cross-multiplication avoids the double
    # comparison entirely.  min() over the qualifying 40% is a partial-
    # aggregated scan of the checkpointed rank table, never a value-
    # buffering aggregate.  Each audit branch broadcasts the 1-row mark;
    # the range-partitioned keys behind it are materialized once, at
    # global_order_stats' fence, and every branch reads that one copy.
    ranked = global_order_stats(
        o.select("o_orderkey").filter(F.col("o_orderkey").isNotNull()),
        ["o_orderkey"],
    )
    hwm_df = (
        ranked.filter(F.col("_rn") * 10 >= F.col("_n_total") * 6)
        .agg(F.min("o_orderkey").alias("hwm"))
    )
    pull1 = o.crossJoin(F.broadcast(hwm_df)).filter(F.col("o_orderkey") <= F.col("hwm"))
    pull2 = o.crossJoin(F.broadcast(hwm_df)).filter(F.col("o_orderkey") > F.col("hwm"))
    total = o.agg(F.count(F.lit(1)).alias("n_total"))

    def audit(df, name):
        return (
            df.agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.max("o_orderkey").cast("bigint").alias("new_bookmark"),
            )
            .crossJoin(F.broadcast(total))
            .crossJoin(F.broadcast(pull1.agg(F.count(F.lit(1)).alias("n1"))))
            .crossJoin(F.broadcast(pull2.agg(F.count(F.lit(1)).alias("n2"))))
            .select(
                F.lit(name).alias("pull"),
                "n_rows",
                "new_bookmark",
                (F.col("n1") + F.col("n2") == F.col("n_total")).alias(
                    "partitions_exactly"
                ),
            )
        )

    return audit(pull1, "pull1").unionByName(audit(pull2, "pull2"))


@register(
    "elt_backfill_planner",
    oracle="""
    WITH days AS (
      SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
      FROM orders GROUP BY d
    ),
    bounds AS (SELECT min(d) AS lo, max(d) AS hi FROM days),
    spine AS (
      SELECT CAST(g AS DATE) AS d
      FROM bounds, LATERAL unnest(generate_series(CAST(lo AS TIMESTAMP),
                                                  CAST(hi AS TIMESTAMP),
                                                  INTERVAL 1 DAY)) AS t(g)
    ),
    present AS (
      SELECT d FROM days
      WHERE substr(md5('bf:' || strftime(d, '%Y-%m-%d')), 1, 1) <> '0'
    ),
    missing AS (
      SELECT s.d, COALESCE(days.n, 0) AS n
      FROM spine s
      LEFT JOIN days ON days.d = s.d
      WHERE s.d NOT IN (SELECT d FROM present)
    ),
    isl AS (
      SELECT d, n,
             d - CAST(row_number() OVER (ORDER BY d) AS INTEGER) AS grp
      FROM missing
    )
    SELECT min(d)                 AS start_date,
           max(d)                 AS end_date,
           CAST(count(*) AS BIGINT) AS n_days,
           CAST(sum(n) AS BIGINT)   AS est_rows
    FROM isl GROUP BY grp
    """,
    doc="BACKFILL PLANNER — the scheduling query every incremental "
    "warehouse load needs after an outage: diff the expected calendar "
    "(day spine from min to max order date) against the partitions that "
    "actually LANDED (simulated deterministically: a day is 'landed' "
    "when md5('bf:'||day) doesn't start with '0', dropping ~1/16 of days "
    "like a flaky upstream), then coalesce the missing days into "
    "CONTIGUOUS backfill jobs via gaps-and-islands (date minus "
    "row_number is constant within a run), each sized by the source row "
    "count it would re-pull — one job per range beats one job per day "
    "because scan setup amortizes over the range.  Extends "
    "dq_freshness_partition_audit (which flags staleness) into an "
    "actionable work list; complements elt_incremental_bookmark_extract "
    "(forward deltas) with the repair direction.  Scale: the fact table "
    "is touched ONCE by a partial-agg per-day count; everything after "
    "operates on the calendar-bounded day set (~2.4k rows for 7 years), "
    "so the single-partition island window is bounded by the calendar, "
    "never the data.",
)
def elt_backfill_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    days = (
        load(spark, sf_dir, "orders")
        .select(F.col("o_orderdate").cast("date").alias("d"))
        .groupBy("d")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    spine = days.agg(F.min("d").alias("lo"), F.max("d").alias("hi")).select(
        F.explode(F.expr("sequence(lo, hi, interval 1 day)")).alias("d")
    )
    present = days.filter(
        F.substring(
            F.md5(
                F.concat(F.lit("bf:"), F.date_format("d", "yyyy-MM-dd")).cast("binary")
            ),
            1,
            1,
        )
        != "0"
    ).select("d")
    missing = (
        spine.join(days, "d", "left")
        .join(present, "d", "left_anti")
        .select("d", F.coalesce("n", F.lit(0)).alias("n"))
    )
    isl = missing.withColumn(
        "grp", F.date_sub("d", F.row_number().over(W.orderBy("d")))
    )
    return (
        isl.groupBy("grp")
        .agg(
            F.min("d").alias("start_date"),
            F.max("d").alias("end_date"),
            F.count(F.lit(1)).alias("n_days"),
            F.sum("n").alias("est_rows"),
        )
        .drop("grp")
    )


@register(
    "elt_data_vault_model",
    oracle="""
    WITH hub_customer AS (
      SELECT DISTINCT md5('hub_c:' || CAST(c_custkey AS VARCHAR)) AS hk
      FROM customer
    ),
    hub_order AS (
      SELECT DISTINCT md5('hub_o:' || CAST(o_orderkey AS VARCHAR)) AS hk
      FROM orders
    ),
    link_placed AS (
      SELECT DISTINCT md5('lnk:' || CAST(o_custkey AS VARCHAR) || ':'
                          || CAST(o_orderkey AS VARCHAR)) AS hk
      FROM orders
    ),
    sat_customer AS (
      SELECT md5('hub_c:' || CAST(c_custkey AS VARCHAR)) AS hk,
             md5(c_name || '|' || c_mktsegment || '|'
                 || CAST(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS VARCHAR))
               AS hashdiff
      FROM customer
    )
    SELECT 'hub_customer' AS entity, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT hk) AS BIGINT) AS n_distinct_hk,
           count(*) = count(DISTINCT hk) AS keys_unique
    FROM hub_customer
    UNION ALL
    SELECT 'hub_order', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT hk) AS BIGINT),
           count(*) = count(DISTINCT hk)
    FROM hub_order
    UNION ALL
    SELECT 'link_placed', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT hk) AS BIGINT),
           count(*) = count(DISTINCT hk)
    FROM link_placed
    UNION ALL
    SELECT 'sat_customer', CAST(count(*) AS BIGINT),
           CAST(count(DISTINCT hashdiff) AS BIGINT),
           TRUE
    FROM sat_customer
    """,
    doc="DATA VAULT 2.0 MODEL BUILD — hubs (business keys -> md5 hash "
    "keys), a link (the customer-places-order relationship as its own "
    "keyed table) and a satellite (descriptive attributes with a "
    "HASHDIFF for change detection) derived from the staging tables: "
    "the warehouse-modeling methodology built for exactly the "
    "reference's situation (multiple upstream systems loading "
    "append-only into BigQuery), where hash keys make loads "
    "parallelizable and idempotent and hashdiffs make SCD detection "
    "O(1) per row (elt_scd2_dimension consumes what this layer "
    "produces; fn_uuid3_name_based is the same keying idea for single "
    "tables).  The audit emits per-entity row/distinct-key counts and "
    "uniqueness verdicts — the load-integrity contract of DV.  Scale: "
    "each entity is one distinct/aggregate over its own staging scan, "
    "all independent, all keyed by pre-computed hashes — the "
    "embarrassingly-parallel property IS the methodology's pitch.",
)
def elt_data_vault_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")

    def h(prefix: str, col):
        return F.md5(F.concat(F.lit(prefix), col.cast("string")).cast("binary"))

    hub_c = c.select(h("hub_c:", F.col("c_custkey")).alias("hk")).distinct()
    hub_o = o.select(h("hub_o:", F.col("o_orderkey")).alias("hk")).distinct()
    link = o.select(
        F.md5(
            F.concat(
                F.lit("lnk:"),
                F.col("o_custkey").cast("string"),
                F.lit(":"),
                F.col("o_orderkey").cast("string"),
            ).cast("binary")
        ).alias("hk")
    ).distinct()
    sat = c.select(
        h("hub_c:", F.col("c_custkey")).alias("hk"),
        F.md5(
            F.concat(
                F.col("c_name"),
                F.lit("|"),
                F.col("c_mktsegment"),
                F.lit("|"),
                F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").cast("string"),
            ).cast("binary")
        ).alias("hashdiff"),
    )

    def audit(df: DataFrame, name: str, key: str, check_unique: bool) -> DataFrame:
        return df.agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.count_distinct(F.col(key)).alias("n_distinct_hk"),
        ).select(
            F.lit(name).alias("entity"),
            "n_rows",
            "n_distinct_hk",
            (F.col("n_rows") == F.col("n_distinct_hk")).alias("keys_unique")
            if check_unique
            else F.lit(True).alias("keys_unique"),
        )

    return (
        audit(hub_c, "hub_customer", "hk", True)
        .unionByName(audit(hub_o, "hub_order", "hk", True))
        .unionByName(audit(link, "link_placed", "hk", True))
        .unionByName(audit(sat, "sat_customer", "hashdiff", False))
    )
