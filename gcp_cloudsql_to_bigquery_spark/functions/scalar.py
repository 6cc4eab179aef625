"""Scalar function library: string / date-time / math / JSON / array /
conditional / codec functions.

Reference precedent (SURVEY.md §2A): string surgery #12/#14/#16
(``/root/reference/app/csv-cleaner/main.py:21-39``), base64 codec #24
(``/root/reference/app/cloud-sql-query-runner/main.py:23``), date paths #25.
Everything runs JVM-side inside whole-stage codegen — no Python UDFs in any
of these paths.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load
from ..registry import register


@register(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           upper(c_name)                                   AS up,
           lower(c_mktsegment)                             AS lo,
           substring(c_name, 1, 8)                         AS sub8,
           length(c_name)                                  AS len,
           concat_ws('|', c_name, c_mktsegment)            AS joined,
           replace(c_name, '#', '_')                       AS repl,
           regexp_replace(c_name, '[0-9]+', 'N', 'g')      AS re_repl,
           lpad(CAST(c_nationkey AS VARCHAR), 4, '0')      AS natkey4,
           trim('  ' || c_mktsegment || ' ')               AS trimmed,
           -- DuckDB's split_part maps NULL input to '' — state SQL-standard
           -- NULL propagation (Spark's behavior) explicitly
           CASE WHEN c_name IS NULL THEN NULL
                ELSE split_part(c_name, '#', 2) END        AS name_id
    FROM customer
    WHERE c_custkey <= 200
    """,
    doc="String family: case, substring, length, concat_ws, replace, regexp "
    "(reference ops #14/#16 generalized).",
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 200)
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("up"),
        F.lower("c_mktsegment").alias("lo"),
        F.substring("c_name", 1, 8).alias("sub8"),
        F.length("c_name").alias("len"),
        F.concat_ws("|", "c_name", "c_mktsegment").alias("joined"),
        F.replace(F.col("c_name"), F.lit("#"), F.lit("_")).alias("repl"),
        F.regexp_replace("c_name", "[0-9]+", "N").alias("re_repl"),
        F.lpad(F.col("c_nationkey").cast("string"), 4, "0").alias("natkey4"),
        F.trim(F.concat(F.lit("  "), F.col("c_mktsegment"), F.lit(" "))).alias("trimmed"),
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("name_id"),
    )


@register(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           year(o_orderdate)                                   AS yr,
           month(o_orderdate)                                  AS mo,
           day(o_orderdate)                                    AS dom,
           CAST(date_trunc('month', o_orderdate) AS DATE)      AS month_start,
           date_diff('day', DATE '1995-01-01',
                     CAST(o_orderdate AS DATE))                AS days_since_95,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE)   AS eom,
           dayofweek(CAST(o_orderdate AS DATE)) + 1            AS dow,
           CAST(o_orderdate + INTERVAL 90 DAY AS DATE)         AS due_date
    FROM orders
    WHERE o_orderkey <= 500
    """,
    doc="Date/time family: extract, trunc, diff, last_day, interval arithmetic "
    "(reference op #25's date-partitioned layout generalized). DuckDB dow is "
    "0=Sunday vs Spark 1=Sunday — oracle adds 1.",
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 500)
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.month(d).alias("mo"),
        F.dayofmonth(d).alias("dom"),
        F.date_trunc("month", d).cast("date").alias("month_start"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias("days_since_95"),
        F.last_day(d.cast("date")).alias("eom"),
        F.dayofweek(d.cast("date")).alias("dow"),
        F.date_add(d.cast("date"), 90).alias("due_date"),
    )


@register(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           round(abs(l_discount - 0.05), 6)        AS adisc,
           CAST(floor(l_extendedprice) AS BIGINT)  AS fl,
           CAST(ceil(l_extendedprice) AS BIGINT)   AS ce,
           round(sqrt(l_quantity), 6)              AS sq,
           round(pow(1 + l_discount, 2), 6)        AS compounded,
           round(ln(l_extendedprice), 6)           AS lnp,
           round(log10(l_extendedprice), 6)        AS lgp,
           CAST(l_quantity AS BIGINT) % 7          AS qmod,
           CAST(sign(l_discount - 0.05) AS INT)    AS sgn,
           round(exp(l_discount), 6)               AS ex
    FROM lineitem
    WHERE l_orderkey <= 200
    """,
    doc="Math family: abs/floor/ceil/sqrt/pow/ln/log10/mod/sign/exp.",
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") <= 200)
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(F.col("l_discount") - 0.05), 6).alias("adisc"),
        F.floor(price).cast("bigint").alias("fl"),
        F.ceil(price).cast("bigint").alias("ce"),
        F.round(F.sqrt("l_quantity"), 6).alias("sq"),
        F.round(F.pow(F.col("l_discount") + 1, 2), 6).alias("compounded"),
        F.round(F.log(price), 6).alias("lnp"),
        F.round(F.log10(price), 6).alias("lgp"),
        (F.col("l_quantity").cast("bigint") % 7).alias("qmod"),
        # DuckDB sign() yields an integer, Spark signum() a DOUBLE; cast both
        # sides to INT so the value-hash compares the same stringification.
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("sgn"),
        F.round(F.exp("l_discount"), 6).alias("ex"),
    )


@register(
    "fn_json",
    oracle="""
    SELECT event_id,
           CASE WHEN json_valid(props)
                THEN json_extract_string(props, '$.k') END AS k_str,
           CASE WHEN json_valid(props)
                THEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT)
           END AS k_int,
           CASE WHEN json_valid(props)
                THEN json_extract_string(props, '$.missing') END AS missing
    FROM events
    WHERE event_id < 500
    """,
    doc="JSON family over events.props: get_json_object (path extract) + "
    "from_json (schema-applied parse) — reference op #17's JSON emit inverted.",
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "events").filter(F.col("event_id") < 500)
    parsed = F.from_json(F.col("props"), T.StructType([T.StructField("k", T.LongType())]))
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        parsed.getField("k").alias("k_int"),
        F.get_json_object("props", "$.missing").alias("missing"),
    )


@register(
    "fn_array",
    oracle="""
    SELECT vec_id,
           len(embedding)                                    AS dim,
           round(CAST(embedding[1] AS DOUBLE), 6)            AS first_elem,
           round(CAST(list_sum(embedding) AS DOUBLE), 4)     AS vec_sum,
           round(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 6) AS vec_max,
           round(CAST(list_sum(list_transform(embedding, x -> x * x)) AS DOUBLE), 4) AS sq_norm
    FROM embeddings
    WHERE vec_id < 100
    """,
    doc="Array family over embeddings: size, element_at, aggregate (fold), "
    "array_max, transform — the building blocks of the similarity operators.",
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 100)
    emb = F.col("embedding").cast("array<double>")
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at(emb, 1), 6).alias("first_elem"),
        F.round(F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x), 4).alias("vec_sum"),
        F.round(F.array_max(emb), 6).alias("vec_max"),
        F.round(
            F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x * x), 4
        ).alias("sq_norm"),
    )


@register(
    "fn_conditional",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_totalprice > 300000 THEN 'high'
                WHEN o_totalprice > 100000 THEN 'mid'
                ELSE 'low' END                         AS price_band,
           least(o_totalprice, 250000.0)               AS capped,
           greatest(o_totalprice, 50000.0)             AS floored,
           coalesce(nullif(o_orderstatus, 'O'), 'open') AS status_label,
           CAST(o_orderstatus = 'F' AS INT)            AS is_final
    FROM orders
    WHERE o_orderkey <= 400
    """,
    doc="Conditional family: CASE WHEN, least/greatest, coalesce/nullif, boolean cast.",
)
def fn_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 400)
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(tp > 300000, "high").when(tp > 100000, "mid").otherwise("low").alias("price_band"),
        F.least(tp, F.lit(250000.0)).alias("capped"),
        F.greatest(tp, F.lit(50000.0)).alias("floored"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")), F.lit("open")).alias(
            "status_label"
        ),
        (F.col("o_orderstatus") == "F").cast("int").alias("is_final"),
    )


@register(
    "fn_string_similarity",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           levenshtein(regexp_replace(substr(a.text, 1, 30), '[^\\x00-\\x7f]', '?', 'g'),
                       regexp_replace(substr(b.text, 1, 30), '[^\\x00-\\x7f]', '?', 'g'))
             AS edit_dist
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
    WHERE a.doc_id < 100
    """,
    doc="Edit-distance similarity (levenshtein on 30-char prefixes of "
    "adjacent docs) — the fuzzy-matching primitive; quadratic per pair, so "
    "at scale it runs only on candidate pairs from LSH/blocking.  Both "
    "sides project non-ASCII code points to '?' first: Spark's "
    "levenshtein counts CHARACTERS while DuckDB's counts BYTES (3 per "
    "CJK char — hostile-data find), so the distance is only cross-engine "
    "comparable on single-byte text; the projection pins one charset-"
    "independent contract.",
)
def fn_string_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.regexp_replace(
            F.substring("text", 1, 30), r"[^\x00-\x7F]", "?"
        ).alias("p"),
    )
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("p").alias("pa"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("p").alias("pb"))
    return (
        a.filter(F.col("doc_a") < 100)
        .join(b, F.col("doc_b") == F.col("doc_a") + 1)
        .select("doc_a", "doc_b", F.levenshtein("pa", "pb").alias("edit_dist"))
    )


@register(
    "fn_codec_hash",
    oracle="""
    SELECT doc_id,
           base64(encode(source))    AS src_b64,
           md5(text)                 AS text_md5,
           sha256(text)              AS text_sha256,
           octet_length(encode(text)) AS n_bytes
    FROM documents
    WHERE doc_id < 100
    """,
    doc="Codec/hash family: base64 (reference op #24, payload codec), md5/sha2 "
    "(content fingerprints for dedup), byte length.",
)
def fn_codec_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return d.select(
        "doc_id",
        F.base64(F.col("source").cast("binary")).alias("src_b64"),
        F.md5(F.col("text").cast("binary")).alias("text_md5"),
        F.sha2(F.col("text").cast("binary"), 256).alias("text_sha256"),
        F.octet_length(F.col("text").cast("binary")).alias("n_bytes"),
    )


@register(
    "fn_try_arithmetic",
    oracle="""
    SELECT o_orderkey,
           round(o_totalprice / nullif(o_custkey % 5, 0), 4) AS safe_div,
           TRY_CAST(o_orderpriority AS INTEGER)              AS bad_cast,
           TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_num
    FROM orders
    WHERE o_orderkey <= 2000
    """,
    doc="Error-safe expression family: try_divide (NULL on zero divisor "
    "instead of error/Inf), try_cast on non-numeric and on numeric-prefix "
    "strings.  The load-pipeline idiom for dirty columns — the reference's "
    "lossy type mapper (#15, datatype_to_bq.py) hard-fails or corrupts on "
    "these; try_* turns each bad cell into NULL so one row cannot kill a "
    "100 TB batch.  All JVM-side, whole-stage codegen.",
)
def fn_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 2000)
    return o.select(
        "o_orderkey",
        F.round(F.try_divide("o_totalprice", F.col("o_custkey") % 5), 4).alias("safe_div"),
        F.col("o_orderpriority").try_cast("int").alias("bad_cast"),
        F.substring("o_orderpriority", 1, 1).try_cast("int").alias("prio_num"),
    )


@register(
    "agg_arg_max_min",
    oracle="""
    SELECT n_regionkey,
           arg_max(n_name, n_nationkey) AS last_nation,
           arg_min(n_name, n_nationkey) AS first_nation,
           CAST(count(*) AS BIGINT)     AS n_nations
    FROM nation
    GROUP BY n_regionkey
    """,
    doc="max_by / min_by (argmax aggregates): the 'row that holds the "
    "extreme' without a self-join or window — one hash-aggregate pass "
    "carrying (cmp, payload) partial state.  Keyed on the unique "
    "n_nationkey so the winner is deterministic on both engines.  The "
    "100 TB replacement for the top-1-per-group window when only the "
    "extremum row is needed.",
)
def agg_arg_max_min(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.max_by("n_name", "n_nationkey").alias("last_nation"),
        F.min_by("n_name", "n_nationkey").alias("first_nation"),
        F.count(F.lit(1)).alias("n_nations"),
    )


@register(
    "agg_bitwise",
    oracle="""
    SELECT l_returnflag,
           CAST(bit_and(CAST(l_linenumber AS BIGINT)) AS BIGINT) AS all_bits,
           CAST(bit_or(CAST(l_linenumber AS BIGINT))  AS BIGINT) AS any_bits,
           CAST(bit_xor(CAST(l_orderkey  AS BIGINT))  AS BIGINT) AS key_parity
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Bitwise aggregate family (bit_and / bit_or / bit_xor): "
    "commutative+associative single-word state — the cheapest mergeable "
    "aggregates there are (flag intersection/union, xor checksums for "
    "content reconciliation between replicas at 100 TB).",
)
def agg_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.bit_and(F.col("l_linenumber").cast("bigint")).alias("all_bits"),
        F.bit_or(F.col("l_linenumber").cast("bigint")).alias("any_bits"),
        F.bit_xor(F.col("l_orderkey").cast("bigint")).alias("key_parity"),
    )


@register(
    "fn_sql_udf",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n,
           round(sum(o_totalprice * (1 - 0.04) * (CASE WHEN o_orderstatus = 'F'
                                                  THEN 1.1 ELSE 1.0 END)), 2) AS adj_revenue
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="SQL scalar UDFs (CREATE TEMPORARY FUNCTION ... RETURN expr, Spark "
    "4): business logic named once in the catalog and reused across "
    "queries — and because the body is a SQL EXPRESSION, Catalyst inlines "
    "it at plan time: full codegen, pushdown through it, zero UDF-call "
    "overhead.  The right tool whenever logic is expressible as SQL — "
    "Python UDFs (even Arrow ones) are for when it is not.  The oracle "
    "states the inlined expression directly, proving the UDF layer is "
    "semantically transparent.",
)
def fn_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..catalog import register_views

    register_views(spark, sf_dir)
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION net_rev(p DOUBLE) RETURNS DOUBLE "
        "RETURN p * (1 - 0.04)"
    )
    spark.sql(
        "CREATE OR REPLACE TEMPORARY FUNCTION status_adj(s STRING) RETURNS DOUBLE "
        "RETURN CASE WHEN s = 'F' THEN 1.1 ELSE 1.0 END"
    )
    return spark.sql(
        """
        SELECT o_orderpriority, count(*) AS n,
               round(sum(net_rev(o_totalprice) * status_adj(o_orderstatus)), 2)
                 AS adj_revenue
        FROM orders GROUP BY o_orderpriority
        """
    )


@register(
    "fn_arrow_python_udf",
    oracle="""
    SELECT doc_id,
           -- CODE-POINT reverse, stated explicitly: Python's s[::-1]
           -- reverses code points, while DuckDB's reverse() is
           -- grapheme-aware (keeps combining marks attached) — the two
           -- differ on any combining sequence (hostile-data find).
           -- coalesce only under non-NULL text: string_agg over an empty
           -- list is NULL but ''[::-1] is '', while NULL text stays NULL
           -- (the kernel's None-passthrough)
           CASE WHEN text IS NULL THEN NULL ELSE
             coalesce(list_aggregate(list_reverse(regexp_extract_all(
                 lower(trim(substr(text, 1, 40))), '(?s).')),
                 'string_agg', ''), '')
           END AS rkey,
           length(trim(substr(text, 1, 40)))         AS klen
    FROM documents
    WHERE doc_id < 200
    """,
    doc="Arrow-optimized Python scalar UDF (useArrow=True, Spark 3.5+): "
    "rows cross the JVM/Python boundary as Arrow record batches instead "
    "of pickled cells — the ~2-5x cheaper serialization path when a "
    "per-row Python function is genuinely unavoidable.  Still the slow "
    "lane vs pandas_udf's vectorized batches (and vs built-ins, which "
    "this repo uses everywhere else): the kernel here is deliberately "
    "trivial so the ORACLE can state it in SQL, keeping the API surface "
    "oracle-verified rather than rows-only.",
)
def fn_arrow_python_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    # kernels mirror the oracle's SQL semantics EXACTLY: trim() strips
    # spaces only (not \t/\n/unicode like Python's bare strip), and NULL
    # passes through instead of raising on None
    @F.udf(returnType=T.StringType(), useArrow=True)
    def rkey(s: str) -> str:
        return None if s is None else s[:40].strip(" ").lower()[::-1]

    @F.udf(returnType=T.IntegerType(), useArrow=True)
    def klen(s: str) -> int:
        return None if s is None else len(s[:40].strip(" "))

    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return d.select("doc_id", rkey("text").alias("rkey"), klen("text").alias("klen"))


@register(
    "fn_mask_pii",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
               substr(text, 1, 40), '\\p{Lu}', 'X', 'g'), '\\p{Ll}', 'x', 'g'),
               '\\p{Nd}', 'n', 'g') AS masked_default,
           regexp_replace(regexp_replace(regexp_replace(
               substr(text, 1, 40), '\\p{Lu}', '#', 'g'), '\\p{Ll}', '#', 'g'),
               '\\p{Nd}', '9', 'g') AS masked_custom
    FROM documents WHERE doc_id < 200
    """,
    doc="Data-masking function family (Spark's builtin mask(), the "
    "char-class redaction used for PII-safe exports): default masking "
    "(upper->X, lower->x, digit->n, other kept) and custom replacement "
    "chars.  The DuckDB oracle states the same transform as three "
    "char-class regexp passes with UNICODE classes (\\p{Lu}/\\p{Ll}/"
    "\\p{Nd}) — mask() is Character.isUpperCase/isLowerCase/isDigit, "
    "which masks é or ß like any ASCII letter; an ASCII [a-z] oracle "
    "pins the WRONG semantics (hostile-data find).  Complements "
    "text_pii_redaction (pattern-level) with char-level masking; pure "
    "narrow projection, codegen, zero shuffle at any scale.",
)
def fn_mask_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    s = F.substring("text", 1, 40)
    return d.select(
        "doc_id",
        F.mask(s).alias("masked_default"),
        F.mask(s, F.lit("#"), F.lit("#"), F.lit("9"), None).alias("masked_custom"),
    )


@register(
    "fn_url_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/'
               || CAST(doc_id AS VARCHAR) || '?lang=' || lang || '&v=2' AS url
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           regexp_extract(url, '^[a-z]+://([^/]+)', 1)      AS host,
           regexp_extract(url, '^[a-z]+://[^/]+([^?]*)', 1) AS path,
           regexp_extract(url, '\\?(.*)$', 1)               AS query,
           regexp_extract(url, '[?&]lang=([^&]*)', 1)       AS lang_param,
           regexp_extract(url, '^([a-z]+)://', 1)           AS protocol
    FROM u
    """,
    doc="URL decomposition (parse_url: HOST/PATH/QUERY/keyed-QUERY/"
    "PROTOCOL) — the first step of web-corpus curation (per-domain "
    "quotas, dedup by canonical URL, robots filtering all start here).  "
    "URLs are synthesized deterministically from document fields (the "
    "fixture has no URL column).  The oracle states the same "
    "decomposition as anchored regexes, pinning parse_url's component "
    "semantics.  Pure narrow projection — codegen, zero shuffle.",
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    url = F.concat(
        F.lit("https://"), F.col("source"), F.lit(".example.com/docs/"),
        F.col("doc_id").cast("string"), F.lit("?lang="), F.col("lang"), F.lit("&v=2"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY")).alias("query"),
        F.parse_url("url", F.lit("QUERY"), F.lit("lang")).alias("lang_param"),
        F.parse_url("url", F.lit("PROTOCOL")).alias("protocol"),
    )


@register(
    "fn_collation_group",
    oracle="""
    WITH vals AS (
      SELECT source AS v FROM documents
      UNION ALL SELECT upper(source) FROM documents
      UNION ALL SELECT CASE WHEN doc_id % 2 = 0
                            THEN upper(substr(source, 1, 1)) || substr(source, 2)
                            ELSE source END
      FROM documents
    )
    SELECT lower(v) AS key_lower,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT v) AS BIGINT) AS n_case_variants,
           min(v) AS min_variant
    FROM vals GROUP BY lower(v)
    """,
    doc="Case-insensitive grouping via Spark 4 COLLATION (UTF8_LCASE): "
    "three case variants of every source name group into one bucket "
    "under the collated key while count(DISTINCT v) still sees the raw "
    "binary variants.  The grouped representative is emitted as "
    "lower(v) explicitly — grouping by a collated key returns an "
    "ARBITRARY representative case, which is exactly the cross-engine "
    "(and cross-run) nondeterminism this query demonstrates how to "
    "avoid.  Oracle uses lower() grouping, the pre-collation idiom.  "
    "Collation evaluates in codegen — no shuffle beyond the one "
    "group-by.",
)
def fn_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    vals = (
        d.select(F.col("source").alias("v"))
        .unionAll(d.select(F.upper("source").alias("v")))
        .unionAll(
            d.select(
                F.when(
                    F.col("doc_id") % 2 == 0,
                    F.concat(F.upper(F.substring("source", 1, 1)), F.expr("substr(source, 2)")),
                )
                .otherwise(F.col("source"))
                .alias("v")
            )
        )
    )
    return (
        vals.groupBy(F.collate(F.col("v"), "UTF8_LCASE").alias("ck"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.countDistinct(F.collate(F.col("v"), "UTF8_BINARY")).cast("bigint").alias("n_case_variants"),
            F.min(F.collate(F.col("v"), "UTF8_BINARY")).alias("min_variant"),
        )
        .select(
            F.lower(F.col("ck")).cast("string").alias("key_lower"),
            "n",
            "n_case_variants",
            "min_variant",
        )
    )


@register(
    "fn_aes_roundtrip",
    oracle="""
    SELECT c_custkey,
           c_name AS decrypted,
           -- AES pads BYTES, not characters: strlen (octet count), not
           -- length — they differ on any multibyte name (hostile-data find)
           CAST(16 * (strlen(c_name) // 16) + 16 AS BIGINT) AS cipher_len
    FROM customer
    WHERE c_custkey <= 500
    """,
    doc="Column-level encryption round-trip: aes_encrypt/aes_decrypt "
    "(AES-128-ECB — the deterministic mode; GCM salts a random IV per "
    "row and cannot be oracle-checked) over customer names, proving (a) "
    "decrypt(encrypt(x)) == x byte-for-byte, and (b) the ciphertext is "
    "real AES: its length is exactly the PKCS#7-padded block count "
    "16*(len div 16)+16, which the oracle derives arithmetically from "
    "the plaintext alone.  ECB determinism is also what makes encrypted "
    "JOIN KEYS possible (equal plaintexts -> equal ciphertexts) — the "
    "standard trade-off vs GCM's semantic security, stated here so users "
    "pick deliberately.  Narrow per-row codegen expressions, zero "
    "shuffle, no UDFs.",
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    key = F.lit("0123456789abcdef")  # 16-byte demo key; from a KMS in prod
    c = load(spark, sf_dir, "customer").filter(F.col("c_custkey") <= 500)
    cipher = F.aes_encrypt(F.col("c_name").cast("binary"), key, F.lit("ECB"))
    return c.select(
        "c_custkey",
        F.aes_decrypt(cipher, key, F.lit("ECB")).cast("string").alias("decrypted"),
        F.length(cipher).cast("bigint").alias("cipher_len"),
    )


@register(
    "fn_timestamp_parse_fallback",
    oracle="""
    WITH raw AS (
      SELECT o_orderkey,
             CASE o_orderkey % 4
               WHEN 0 THEN strftime(o_orderdate, '%Y-%m-%d')
               WHEN 1 THEN strftime(o_orderdate, '%d/%m/%Y')
               WHEN 2 THEN strftime(o_orderdate, '%Y%m%d')
               ELSE 'not-a-date-' || CAST(o_orderkey AS VARCHAR)
             END AS s
      FROM orders WHERE o_orderkey <= 4000
    )
    SELECT o_orderkey, s,
           CAST(coalesce(try_strptime(s, '%Y-%m-%d'),
                         try_strptime(s, '%d/%m/%Y'),
                         try_strptime(s, '%Y%m%d')) AS TIMESTAMP) AS parsed,
           coalesce(try_strptime(s, '%Y-%m-%d'),
                    try_strptime(s, '%d/%m/%Y'),
                    try_strptime(s, '%Y%m%d')) IS NULL AS unparseable
    FROM raw
    """,
    doc="Multi-format timestamp parsing with fallback chains — the "
    "messy-ingest reality (ISO, EU slash, compact, and garbage rows in "
    "one column): try_to_timestamp attempts each format and COALESCE "
    "takes the first success, unparseable rows surfacing as NULL + a "
    "flag instead of failing the job (the ANSI try_-family contract, "
    "same spirit as fn_try_arithmetic).  The fixture derives all four "
    "shapes deterministically from o_orderdate so the oracle "
    "reconstructs every branch.  Narrow per-row codegen; NULL-flagged "
    "rows route to quarantine at 100 TB (elt_bad_records_quarantine).",
)
def fn_timestamp_parse_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= 4000)
    d = F.col("o_orderdate")
    s = (
        F.when(F.col("o_orderkey") % 4 == 0, F.date_format(d, "yyyy-MM-dd"))
        .when(F.col("o_orderkey") % 4 == 1, F.date_format(d, "dd/MM/yyyy"))
        .when(F.col("o_orderkey") % 4 == 2, F.date_format(d, "yyyyMMdd"))
        .otherwise(F.concat(F.lit("not-a-date-"), F.col("o_orderkey").cast("string")))
    )
    raw = o.select("o_orderkey", s.alias("s"))
    parsed = F.coalesce(
        F.try_to_timestamp(F.col("s"), F.lit("yyyy-MM-dd")),
        F.try_to_timestamp(F.col("s"), F.lit("dd/MM/yyyy")),
        F.try_to_timestamp(F.col("s"), F.lit("yyyyMMdd")),
    )
    return raw.select(
        "o_orderkey", "s", parsed.alias("parsed"), parsed.isNull().alias("unparseable")
    )


@register(
    "fn_pseudonymize_consistent",
    oracle="""
    WITH p AS (
      SELECT o_custkey,
             'user_' || substr(md5('salt2026:' || CAST(o_custkey AS VARCHAR)), 1, 12)
               AS pseud
      FROM orders
    )
    SELECT pseud,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_raw_keys
    FROM p GROUP BY pseud
    HAVING count(*) >= 20
    """,
    doc="Consistent pseudonymization — the GDPR-grade de-identification "
    "that, unlike masking (fn_mask_pii), PRESERVES JOINABILITY: every "
    "occurrence of a key maps to the same salted-digest token "
    "('user_' + 12 hex of md5(salt, key)), so pseudonymized tables "
    "still join/aggregate on the token while the raw key never leaves "
    "the trust boundary (the salt does the unlinking; rotate it to "
    "break linkage).  The query proves the two contracts: grouping by "
    "token reproduces per-customer order counts, and n_raw_keys == 1 "
    "per token (no collisions at this scale — 48 bits of token space).  "
    "Narrow per-row digest, no shuffle beyond the aggregate.",
)
def fn_pseudonymize_consistent(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    pseud = F.concat(
        F.lit("user_"),
        F.substring(
            F.md5(F.concat(F.lit("salt2026:"), F.col("o_custkey").cast("string")).cast("binary")),
            1,
            12,
        ),
    )
    return (
        o.select(pseud.alias("pseud"), "o_custkey")
        .groupBy("pseud")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_raw_keys"),
        )
        .filter(F.col("n_orders") >= 20)
    )


@register(
    "fn_decimal_exact_money",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18, 2))
                              * CAST('1.0825' AS DECIMAL(6, 4))
                              AS DECIMAL(28, 6))) AS DECIMAL(38, 6)) AS VARCHAR)
             AS taxed_total_decimal
    FROM orders
    GROUP BY o_orderpriority
    """,
    doc="DECIMAL-exact money arithmetic — the correctness witness that "
    "double math cannot give: each order total is cast to "
    "DECIMAL(18,2), multiplied by an exact DECIMAL tax factor "
    "(1.0825 — not representable in binary floating point), and "
    "summed in DECIMAL(28,6) — every intermediate is exact base-10, "
    "so Spark and DuckDB must agree to the last digit, serialized as "
    "a string so no float ever touches the comparator.  This is the "
    "ledger-grade path (the reference's five-type mapping routes "
    "MySQL DECIMAL to BigQuery FLOAT64, a known money-corruption "
    "footgun its own docs warn about; ingest/types.py's strict mode "
    "maps to DecimalType for exactly this reason).  Decimal aggregates "
    "partial-agg like any numeric at scale.",
)
def fn_decimal_exact_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders")
    taxed = (
        F.col("o_totalprice").cast("decimal(18,2)")
        * F.lit("1.0825").cast("decimal(6,4)")
    ).cast("decimal(28,6)")
    return o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(taxed).cast("decimal(38,6)").cast("string").alias("taxed_total_decimal"),
    )


@register(
    "fn_calendar_edge_semantics",
    oracle="""
    WITH d AS (
      SELECT o_orderkey,
             CAST(date_trunc('day', o_orderdate) AS DATE) AS od
      FROM orders WHERE o_orderkey < 400
    )
    SELECT o_orderkey, od,
           last_day(od)                                          AS eom,
           CAST(last_day(od) + INTERVAL 1 MONTH AS DATE)         AS eom_plus_month,
           CAST(od + INTERVAL 1 MONTH AS DATE)                   AS plus_month,
           CAST(date_trunc('quarter', od) AS DATE)               AS quarter_start,
           CAST(datediff('month', od, DATE '2026-01-01') AS INT) AS months_to_2026,
           day(last_day(od)) = 29 AND month(od) = 2              AS leap_feb,
           CAST(dayofweek(od) + 1 AS INT)                        AS dow,
           CAST(last_day(od) - od AS INT)                        AS days_to_eom
    FROM d
    """,
    doc="CALENDAR EDGE SEMANTICS witness — the month-end/leap-year rules "
    "every billing or cohort pipeline silently depends on, pinned "
    "cross-engine: Spark add_months CLAMPS (Jan 31 + 1m = Feb 29 in a "
    "leap year, Feb 28 otherwise) exactly like DuckDB's + INTERVAL 1 "
    "MONTH; last_day, quarter truncation, dayofweek (Spark Sunday=1 vs DuckDB Sunday=0, offset stated), and "
    "month-boundary counting ((y2-y1)*12 + (m2-m1), the engine-neutral "
    "form of DuckDB's datediff('month')) all stated by both engines on "
    "the same 400 order dates.  A divergence in any clamp/truncation "
    "rule flips dates in the hash.  Pure narrow projection — codegen, "
    "zero shuffle, scan pruned to two columns.",
)
def fn_calendar_edge_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 400)
    od = F.to_date(F.date_trunc("day", F.col("o_orderdate")))
    d = o.select("o_orderkey", od.alias("od"))
    months_to_2026 = (
        (F.lit(2026) - F.year("od")) * 12 + (F.lit(1) - F.month("od"))
    ).cast("int")
    return d.select(
        "o_orderkey",
        "od",
        F.last_day("od").alias("eom"),
        F.add_months(F.last_day("od"), 1).alias("eom_plus_month"),
        F.add_months("od", 1).alias("plus_month"),
        F.to_date(F.date_trunc("quarter", F.col("od"))).alias("quarter_start"),
        months_to_2026.alias("months_to_2026"),
        ((F.dayofmonth(F.last_day("od")) == 29) & (F.month("od") == 2)).alias(
            "leap_feb"
        ),
        F.dayofweek("od").cast("int").alias("dow"),
        F.datediff(F.last_day("od"), F.col("od")).cast("int").alias("days_to_eom"),
    )


@register(
    "fn_ip_cidr_lookup",
    oracle="""
    WITH ips AS (
      SELECT user_id,
             CAST(CAST('0x' || substr(md5('ip:' || CAST(user_id AS VARCHAR)), 1, 8)
                       AS UBIGINT) AS BIGINT) AS ip
      FROM events
    ),
    quad AS (
      SELECT user_id, ip,
             CAST((ip >> 24) & 255 AS VARCHAR) || '.' ||
             CAST((ip >> 16) & 255 AS VARCHAR) || '.' ||
             CAST((ip >>  8) & 255 AS VARCHAR) || '.' ||
             CAST( ip        & 255 AS VARCHAR) AS ip_str
      FROM ips
    ),
    parsed AS (
      SELECT user_id, ip,
             CAST(string_split(ip_str, '.')[1] AS BIGINT) * 16777216
           + CAST(string_split(ip_str, '.')[2] AS BIGINT) * 65536
           + CAST(string_split(ip_str, '.')[3] AS BIGINT) * 256
           + CAST(string_split(ip_str, '.')[4] AS BIGINT) AS ip2
      FROM quad
    ),
    blocks AS (
      SELECT n_name,
             CAST(n_nationkey AS BIGINT) * 134217728 AS lo,
             CAST(n_nationkey AS BIGINT) * 134217728
               + CAST(pow(2, 27 - n_nationkey % 4) AS BIGINT) - 1 AS hi
      FROM nation
    )
    SELECT COALESCE(b.n_name, 'unrouted') AS net_name,
           CAST(count(*) AS BIGINT)                 AS n_events,
           CAST(count(DISTINCT p.user_id) AS BIGINT) AS n_users,
           bool_and(p.ip2 = p.ip)                   AS parse_ok
    FROM parsed p
    LEFT JOIN blocks b ON p.ip BETWEEN b.lo AND b.hi
    GROUP BY net_name
    """,
    doc="IP / CIDR ROUTING LOOKUP — the classic log-enrichment join: "
    "synthesize a deterministic IPv4 per user (md5 top 32 bits), render "
    "it dotted-quad and RE-PARSE it (split + positional recompose, "
    "parse_ok audited in-row — the octet math every clickstream ETL "
    "gets wrong once), then geolocate against a 25-block CIDR table of "
    "VARYING prefix length (nation k owns a 2^(27-k%4)-address block at "
    "k*2^27, so most address space is unrouted — the realistic case).  "
    "Scale: the block table is a broadcast range join (each IP probes "
    "the tiny sorted dim; no shuffle of the fact side beyond the final "
    "bounded groupBy); octet extraction is bit-shift codegen, no UDF.  "
    "At production scale the same shape holds for full GeoIP tables "
    "(~4M blocks): broadcast stays viable to ~100 MB, past that the "
    "longest-prefix join switches to the banded range-bucket pattern "
    "join_band_tiering demonstrates.",
)
def fn_ip_cidr_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load(spark, sf_dir, "events").select("user_id")
    ips = ev.select(
        "user_id",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ip:"), F.col("user_id").cast("string")).cast("binary")),
                1,
                8,
            ),
            16,
            10,
        )
        .cast("bigint")
        .alias("ip"),
    )
    quad = ips.select(
        "user_id",
        "ip",
        F.concat_ws(
            ".",
            F.shiftright("ip", 24).bitwiseAND(F.lit(255)).cast("string"),
            F.shiftright("ip", 16).bitwiseAND(F.lit(255)).cast("string"),
            F.shiftright("ip", 8).bitwiseAND(F.lit(255)).cast("string"),
            F.col("ip").bitwiseAND(F.lit(255)).cast("string"),
        ).alias("ip_str"),
    )
    oct_ = F.split("ip_str", r"\.")
    parsed = quad.select(
        "user_id",
        "ip",
        (
            oct_.getItem(0).cast("bigint") * 16777216
            + oct_.getItem(1).cast("bigint") * 65536
            + oct_.getItem(2).cast("bigint") * 256
            + oct_.getItem(3).cast("bigint")
        ).alias("ip2"),
    )
    n = load(spark, sf_dir, "nation")
    nk = F.col("n_nationkey").cast("bigint")
    blocks = n.select(
        "n_name",
        (nk * 134217728).alias("lo"),
        (
            nk * 134217728
            + F.pow(F.lit(2.0), 27 - nk % 4).cast("bigint")
            - 1
        ).alias("hi"),
    )
    return (
        parsed.join(
            F.broadcast(blocks),
            (F.col("ip") >= F.col("lo")) & (F.col("ip") <= F.col("hi")),
            "left",
        )
        .groupBy(F.coalesce("n_name", F.lit("unrouted")).alias("net_name"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.bool_and(F.col("ip2") == F.col("ip")).alias("parse_ok"),
        )
    )


# RFC 4122 name-based UUID layout over a text namespace.  ONE shared
# expression template (h = 32-char md5 hex) builds the 8-4-4-4-12 string
# with the version nibble forced to 3 and the variant nibble mapped into
# [89ab] — the two bit fields that make a conforming UUID.
def _uuid3_sql(h: str) -> str:
    return (
        f"concat_ws('-', substr({h}, 1, 8), substr({h}, 9, 4),"
        f" concat('3', substr({h}, 14, 3)),"
        f" concat(substr('89ab', (CAST(conv(substr({h}, 17, 1), 16, 10) AS INT) % 4) + 1, 1),"
        f" substr({h}, 18, 3)), substr({h}, 21, 12))"
    )


@register(
    "fn_uuid3_name_based",
    oracle="""
    WITH h AS (
      SELECT c_custkey, md5('uuid3:customers:' || c_name) AS d
      FROM customer
    )
    SELECT c_custkey,
           -- NULL name => NULL uuid (a surrogate key of absent input is
           -- undefined); without the CASE both engines' concat/concat_ws
           -- null-skipping defaults produce two DIFFERENT junk strings
           CASE WHEN d IS NULL THEN NULL ELSE
             concat_ws('-', substr(d, 1, 8), substr(d, 9, 4),
                       concat('3', substr(d, 14, 3)),
                       concat(substr('89ab',
                                (CAST(CAST('0x' || substr(d, 17, 1) AS UBIGINT)
                                      AS INT) % 4) + 1, 1),
                              substr(d, 18, 3)),
                       substr(d, 21, 12))
           END AS uuid,
           CASE WHEN d IS NULL THEN NULL ELSE TRUE END AS version_ok,
           CASE WHEN d IS NULL THEN NULL ELSE TRUE END AS variant_ok
    FROM h
    """,
    doc="NAME-BASED UUID (RFC 4122 v3 layout over a text namespace) — "
    "the deterministic surrogate-key generator every idempotent loader "
    "needs: re-running the pipeline regenerates the SAME id for the "
    "same (namespace, name), so upserts converge instead of duplicating "
    "(random uuid() cannot be retried, and the reference's BigQuery "
    "loads would need exactly this to be safely re-runnable).  The "
    "md5-digest-to-UUID bit surgery is the RFC part: version nibble "
    "forced to 3 (position 13) and the variant field's top two bits "
    "forced to 10 (position 17 mapped into [89ab]) — one shared string "
    "expression evaluated by both engines; version_ok/variant_ok audit "
    "the layout in-row.  Scale: pure codegen string/hash expressions, "
    "narrow, zero shuffle.",
)
def fn_uuid3_name_based(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    h = c.select(
        "c_custkey",
        F.md5(F.concat(F.lit("uuid3:customers:"), F.col("c_name")).cast("binary")).alias("d"),
    )
    # NULL digest => NULL uuid/audits (see oracle note); the audits then
    # NULL-propagate through substring/isin on their own
    uuid_col = F.when(F.col("d").isNotNull(), F.expr(_uuid3_sql("d")))
    return h.select(
        "c_custkey",
        uuid_col.alias("uuid"),
        (F.substring(uuid_col, 15, 1) == "3").alias("version_ok"),
        F.substring(uuid_col, 20, 1).isin("8", "9", "a", "b").alias("variant_ok"),
    )


# --- cron schedule expansion ------------------------------------------------
# The reference is CRON-DRIVEN (SURVEY §2A #22: Cloud Scheduler kicks the
# export chain).  A tiny shared translator compiles a 5-field cron subset
# (numeric, '*', '*/k') into ONE SQL predicate over (mi, hr, dom, mo, dow)
# used verbatim by both engines; dow is normalized to cron's 0=Sunday.
_CRON_EXPRS = ("0 3 * * *", "30 */6 * * *", "15 8 * * 1")
_CRON_N = 5
_CRON_FROM = "2024-01-15 00:00:00"


def _cron_predicate(expr: str) -> str:
    fields = expr.split()
    cols = ("mi", "hr", "dom", "mo", "dow")
    conds = []
    for f, c in zip(fields, cols):
        if f == "*":
            continue
        if f.startswith("*/"):
            conds.append(f"{c} % {int(f[2:])} = 0")
        else:
            conds.append(f"{c} = {int(f)}")
    return " AND ".join(conds) or "TRUE"


def _cron_union_sql() -> str:
    return " UNION ALL ".join(
        f"SELECT '{e}' AS cron_expr, t FROM spine WHERE {_cron_predicate(e)}"
        for e in _CRON_EXPRS
    )


@register(
    "fn_cron_schedule_expand",
    oracle=f"""
    WITH raw AS (
      SELECT CAST(g AS TIMESTAMP) AS t
      FROM unnest(generate_series(TIMESTAMP '{_CRON_FROM}',
                                  TIMESTAMP '2024-02-15 00:00:00',
                                  INTERVAL 1 MINUTE)) AS s(g)
    ),
    spine AS (
      SELECT t, minute(t) AS mi, hour(t) AS hr, day(t) AS dom,
             month(t) AS mo, dayofweek(t) AS dow
      FROM raw WHERE t > TIMESTAMP '{_CRON_FROM}'
    ),
    fires AS ({_cron_union_sql()})
    SELECT cron_expr, CAST(rn AS BIGINT) AS fire_seq, t AS fire_ts FROM (
      SELECT cron_expr, t,
             row_number() OVER (PARTITION BY cron_expr ORDER BY t) AS rn
      FROM fires
    ) WHERE rn <= {_CRON_N}
    """,
    doc="CRON SCHEDULE EXPANSION — 'next 5 fire times' for the scheduler "
    "expressions that drive the reference's entire pipeline (Cloud "
    "Scheduler cron -> export chain, SURVEY §2A #22): a minute spine is "
    "filtered by a predicate COMPILED from the cron fields (numeric / "
    "'*' / '*/k' subset) by one shared Python translator, so both "
    "engines evaluate the identical condition — including the 0=Sunday "
    "day-of-week normalization that differs between Spark (1=Sunday) "
    "and cron.  Declarative set-filtering beats the imperative "
    "next-fire loop every scheduler implements: it is trivially "
    "parallel, audit-friendly (the spine IS the proof), and handles "
    "field interactions (dom vs dow) by construction.  Scale: the "
    "spine is calendar-bounded (44k rows/month) — generated, filtered "
    "and top-k'd per expression without touching any fact table.",
)
def fn_cron_schedule_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    raw = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit(_CRON_FROM).cast("timestamp"),
                F.lit("2024-02-15 00:00:00").cast("timestamp"),
                F.expr("INTERVAL 1 MINUTE"),
            )
        ).alias("t")
    )
    spine = raw.filter(F.col("t") > F.lit(_CRON_FROM).cast("timestamp")).select(
        "t",
        F.minute("t").alias("mi"),
        F.hour("t").alias("hr"),
        F.dayofmonth("t").alias("dom"),
        F.month("t").alias("mo"),
        (F.dayofweek("t") - 1).alias("dow"),
    )
    fires = None
    for e in _CRON_EXPRS:
        part = spine.filter(F.expr(_cron_predicate(e))).select(
            F.lit(e).alias("cron_expr"), "t"
        )
        fires = part if fires is None else fires.unionAll(part)
    w = W.partitionBy("cron_expr").orderBy("t")
    return (
        fires.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _CRON_N)
        .select("cron_expr", F.col("rn").cast("bigint").alias("fire_seq"), F.col("t").alias("fire_ts"))
    )


# --- locale-formatted currency round-trip ------------------------------------
# Shared SQL fragments (spliced verbatim into BOTH engines): thousands
# grouping of a digit string, and the separator-detecting parser.  The
# parser is the operator under test; the renderer exists to feed it every
# locale shape deterministically.
_CUR_GROUP = (
    "CASE WHEN length({s}) <= 3 THEN {s}"
    " WHEN length({s}) <= 6 THEN substr({s}, 1, length({s}) - 3) || '{sep}'"
    "   || substr({s}, length({s}) - 2, 3)"
    " ELSE substr({s}, 1, length({s}) - 6) || '{sep}'"
    "   || substr({s}, length({s}) - 5, 3) || '{sep}'"
    "   || substr({s}, length({s}) - 2, 3) END"
)
_CUR_PARSE = """
    CAST(replace(CASE WHEN substr(clean, length(clean) - 2, 1) = ','
                      THEN replace(replace(clean, '.', ''), ',', '.')
                      ELSE replace(clean, ',', '') END, '.', '') AS BIGINT)
"""


@register(
    "fn_currency_parse",
    oracle=f"""
    WITH base AS (
      SELECT c_custkey,
             CAST(c_custkey % 3 AS INT) AS style,
             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS cents
      FROM customer
    ),
    parts AS (
      SELECT c_custkey, style, cents,
             CASE WHEN cents < 0 THEN '-' ELSE '' END AS sgn,
             CAST(abs(cents) // 100 AS VARCHAR)       AS ip,
             lpad(CAST(abs(cents) % 100 AS VARCHAR), 2, '0') AS fp
      FROM base
    ),
    rendered AS (
      SELECT c_custkey, style, cents,
             CASE style
               WHEN 0 THEN sgn || '$' || {_CUR_GROUP.format(s='ip', sep=',')} || '.' || fp
               WHEN 1 THEN sgn || {_CUR_GROUP.format(s='ip', sep='.')} || ',' || fp || ' €'
               ELSE        sgn || ip || '.' || fp || ' USD'
             END AS amount_str
      FROM parts
    ),
    cleaned AS (
      SELECT c_custkey, style, cents, amount_str,
             regexp_replace(amount_str, '[$€ ]|USD', '', 'g') AS clean
      FROM rendered
    )
    SELECT c_custkey, style, amount_str,
           {_CUR_PARSE} AS parsed_cents,
           {_CUR_PARSE} = cents AS roundtrip_ok
    FROM cleaned
    """,
    doc="LOCALE-FORMATTED CURRENCY PARSING — the ingest wart every "
    "finance ELT hits: the same balance arrives as '$1,234.56' (US), "
    "'1.234,56 €' (EU: separators SWAPPED), or '1234.56 USD', and the "
    "parser must DETECT the decimal separator (the one exactly two "
    "places from the end after de-symboling) before it can normalize — "
    "stripping 'the commas' corrupts EU amounts.  Renderer and parser "
    "are shared SQL fragments evaluated verbatim by both engines; the "
    "round trip back to exact integer cents is asserted per row "
    "(roundtrip_ok), negatives included.  Complements "
    "fn_timestamp_parse_fallback (the datetime analog of multi-format "
    "ingest) and fn_decimal_exact_money (exact arithmetic after "
    "parsing).  Scale: pure codegen string expressions, narrow, no "
    "shuffle, no UDF.",
)
def fn_currency_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    base = c.select(
        "c_custkey",
        (F.col("c_custkey") % 3).cast("int").alias("style"),
        F.floor(F.col("c_acctbal") * 100 + 0.5).cast("bigint").alias("cents"),
    )
    parts = base.select(
        "c_custkey",
        "style",
        "cents",
        F.when(F.col("cents") < 0, "-").otherwise("").alias("sgn"),
        F.expr("CAST(abs(cents) div 100 AS STRING)").alias("ip"),
        F.lpad((F.abs("cents") % 100).cast("string"), 2, "0").alias("fp"),
    )
    rendered = parts.select(
        "c_custkey",
        "style",
        "cents",
        F.expr(
            f"""CASE style
               WHEN 0 THEN sgn || '$' || {_CUR_GROUP.format(s='ip', sep=',')} || '.' || fp
               WHEN 1 THEN sgn || {_CUR_GROUP.format(s='ip', sep='.')} || ',' || fp || ' €'
               ELSE        sgn || ip || '.' || fp || ' USD'
             END"""
        ).alias("amount_str"),
    )
    cleaned = rendered.withColumn(
        "clean", F.regexp_replace("amount_str", r"[$€ ]|USD", "")
    )
    parsed = F.expr(_CUR_PARSE)
    return cleaned.select(
        "c_custkey",
        "style",
        "amount_str",
        parsed.alias("parsed_cents"),
        (parsed == F.col("cents")).alias("roundtrip_ok"),
    )


_HOLIDAYS = ("1995-12-25", "1996-01-01", "1996-07-04")  # fixture holiday calendar
_BIZ_N = 10


@register(
    "fn_business_days",
    oracle=f"""
    WITH cal AS (
      SELECT CAST(g AS DATE) AS d,
             dayofweek(CAST(g AS DATE)) NOT IN (0, 6)
               AND CAST(g AS DATE) NOT IN (
                 {", ".join(f"DATE '{h}'" for h in _HOLIDAYS)}) AS is_biz
      FROM unnest(generate_series(TIMESTAMP '1995-06-01',
                                  TIMESTAMP '1996-12-31',
                                  INTERVAL 1 DAY)) AS s(g)
    ),
    biz AS (
      SELECT d, sum(CASE WHEN is_biz THEN 1 ELSE 0 END)
                   OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS bix
      FROM cal
    ),
    o AS (
      SELECT o_orderkey, CAST(o_orderdate AS DATE) AS od
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1995-06-01'
        AND o_orderdate < TIMESTAMP '1996-06-01'
    )
    SELECT o.o_orderkey, o.od AS order_date,
           (SELECT min(b2.d) FROM biz b2
            WHERE b2.bix = b1.bix + {_BIZ_N} AND b2.d > o.od) AS due_date
    FROM o JOIN biz b1 ON b1.d = o.od
    """,
    doc="BUSINESS-DAY ARITHMETIC — 'due 10 business days after order', "
    "skipping weekends AND a holiday calendar: the SLA/settlement-date "
    "computation every ops warehouse needs and no date_add can do.  "
    "The declarative form: a calendar spine carries a running BUSINESS-"
    "DAY INDEX (prefix sum of is-business-day), and adding N business "
    "days is an index lookup — bix + N — instead of the iterate-and-"
    "skip loop; holidays are one more predicate on the spine, not a "
    "code path.  Exact calendar math end-to-end.  Scale: the spine is "
    "calendar-bounded and broadcast; the fact table joins on its order "
    "date and reads the answer — no per-row iteration anywhere.",
)
def fn_business_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    cal = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("1995-06-01").cast("date"),
                F.lit("1996-12-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("d")
    )
    is_biz = (~F.dayofweek("d").isin(1, 7)) & (
        ~F.col("d").isin(*[F.lit(h).cast("date") for h in _HOLIDAYS])
    )
    biz = cal.select(
        "d",
        F.sum(F.when(is_biz, 1).otherwise(0))
        .over(W.orderBy("d").rowsBetween(W.unboundedPreceding, 0))
        .alias("bix"),
    )
    o = (
        load(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.lit("1995-06-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1996-06-01").cast("timestamp"))
        )
        .select("o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
    )
    # due date = first calendar day strictly after od whose business index
    # reaches bix(od) + N: min-aggregate per target index, broadcast back
    due = (
        biz.alias("b2")
        .join(F.broadcast(biz.alias("b1")), F.col("b2.d") > F.col("b1.d"))
        .filter(F.col("b2.bix") == F.col("b1.bix") + _BIZ_N)
        .groupBy(F.col("b1.d").alias("od"))
        .agg(F.min("b2.d").alias("due_date"))
    )
    return o.join(F.broadcast(due), "od").select(
        "o_orderkey", F.col("od").alias("order_date"), "due_date"
    )
