"""Record-linkage and spatial joins: blocked fuzzy matching and a
grid-blocked radius self-join.

Both operators are BLOCKING joins — the classic scale pattern for
similarity predicates that cannot be hash-joined directly: pick a cheap
equi-joinable block key that is GUARANTEED to co-locate every true match
(same-noun block for edit distance on two-word names; 3x3 neighboring
grid cells for a radius predicate with cell size >= radius), equi-join on
the block key, then evaluate the expensive predicate only inside blocks.
The shuffle is the block-key hash join; the quadratic work is bounded by
the largest block, never by the table.  This is the same
candidates-then-verify discipline as dedup.py's LSH band join
(`operators/dedup.py`), applied to strings and geometry.

Spatial coordinates are SYNTHESIZED deterministically from customer keys
(md5-derived, onto a 100k x 100k integer grid) so both engines state
identical integer geometry — the fixture has no native lat/lon column.
md5, not an affine-mod LCG: an affine map makes (dx, dy) a function of
the KEY DIFFERENCE alone, collapsing the point set onto a sparse lattice
with no close pairs at all (observed: zero matches at sf0.01).
All arithmetic integer-exact end-to-end; no doubles cross the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register

_FUZZ_MAX_DIST = 3

_GEO_MOD = 100_000  # grid extent per axis
_GEO_R = 700        # radius; also the blocking cell size
_GEO_R2 = _GEO_R * _GEO_R


@register(
    "join_fuzzy_blocked",
    # The ORACLE is deliberately ALL-PAIRS (no blocking): the differential
    # check therefore PROVES the Spark side's multi-key blocking achieves
    # full recall at this threshold on this corpus, not just that both
    # engines agree on the same candidate set.  (At threshold 4 the fixture
    # contains pairs sharing neither token — 'cold rod' / 'old ring' — so 4
    # would break recall; 3 is the proven-lossless setting at all SFs.)
    oracle=f"""
    WITH names AS (SELECT DISTINCT p_name AS name FROM part)
    SELECT a.name AS name_a, b.name AS name_b,
           levenshtein(a.name, b.name) AS edit_dist
    FROM names a
    JOIN names b ON a.name < b.name
    WHERE levenshtein(a.name, b.name) <= {_FUZZ_MAX_DIST}
    """,
    doc="Multi-pass blocked fuzzy (edit-distance) self-join over part "
    "names: distinct names are blocked TWICE — once on the adjective "
    "token, once on the noun token — candidates from both passes are "
    "unioned and deduped, and only candidates pay the O(len^2) "
    "levenshtein verify.  Multi-key blocking is the standard record-"
    "linkage recall repair: one key alone misses matches whose key "
    "token mutated; agreeing on ANY key keeps the pair.  The oracle is "
    "all-pairs, so the hash compare is a RECALL PROOF for the blocking, "
    "not merely candidate-set agreement.  The candidate-dedup step "
    "(DISTINCT name before joining) is the other half of the discipline: "
    "at 100 TB you link the distinct-value dictionary (thousands of "
    "names), not the fact table (billions of rows), then broadcast the "
    "match table back.  Shuffles: one distinct + two block-key hash "
    "joins + one candidate distinct; no all-pairs anywhere on the Spark "
    "side.  Spark and DuckDB both implement standard Wagner-Fischer "
    "levenshtein, so the predicate is engine-identical.",
)
def join_fuzzy_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load(spark, sf_dir, "part")
    names = p.select(
        F.col("p_name").alias("name"),
        F.split(F.col("p_name"), " ").getItem(0).alias("adj"),
        F.split(F.col("p_name"), " ").getItem(1).alias("noun"),
    ).distinct()

    def block(key: str) -> DataFrame:
        a = names.select(F.col(key).alias("k"), F.col("name").alias("name_a"))
        b = names.select(F.col(key).alias("k"), F.col("name").alias("name_b"))
        return (
            a.join(b, "k")
            .filter(F.col("name_a") < F.col("name_b"))
            .select("name_a", "name_b")
        )

    candidates = block("adj").unionAll(block("noun")).distinct()
    return (
        candidates.withColumn("edit_dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("edit_dist") <= _FUZZ_MAX_DIST)
        .select("name_a", "name_b", "edit_dist")
    )


_GEO_PTS_SQL = f"""
    pts AS (
      SELECT c_custkey AS k,
             CAST('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)), 1, 5)
                  AS BIGINT) % {_GEO_MOD} AS x,
             CAST('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)), 1, 5)
                  AS BIGINT) % {_GEO_MOD} AS y
      FROM customer
    ),
    cells AS (
      SELECT k, x, y, x // {_GEO_R} AS cx, y // {_GEO_R} AS cy FROM pts
    )"""


@register(
    "join_geo_radius",
    oracle=f"""
    WITH {_GEO_PTS_SQL},
    probe AS (
      SELECT c.k, c.x, c.y, c.cx + dx.o AS ncx, c.cy + dy.o AS ncy
      FROM cells c
      CROSS JOIN (VALUES (-1), (0), (1)) dx(o)
      CROSS JOIN (VALUES (-1), (0), (1)) dy(o)
    )
    SELECT a.k AS key_a, b.k AS key_b,
           CAST((a.x - b.x) * (a.x - b.x)
              + (a.y - b.y) * (a.y - b.y) AS BIGINT) AS dist2
    FROM probe a
    JOIN cells b ON b.cx = a.ncx AND b.cy = a.ncy AND a.k < b.k
    WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_GEO_R2}
    """,
    doc=f"Grid-blocked radius self-join (find all point pairs within "
    f"distance {_GEO_R} on a {_GEO_MOD}x{_GEO_MOD} integer grid): each "
    f"point probes its 3x3 neighborhood of {_GEO_R}-sized cells — cell "
    f"size >= radius guarantees every qualifying pair shares adjacent "
    f"cells, and the (a.k < b.k) orientation plus the single matching "
    f"offset means each pair is emitted exactly once.  This is the "
    f"standard distributed spatial-join shape (grid partitioning a la "
    f"SpatialSpark/Sedona): the shuffle is an equi-join on cell ids, the "
    f"9x probe-side inflation is a narrow generate, and the quadratic "
    f"distance work is confined to ~(n * density * 9R^2/area) candidate "
    f"pairs instead of n^2/2.  Squared integer distance only — no sqrt, "
    f"no doubles, exact on both engines.  Coordinates are affine-mod "
    f"synthesized from c_custkey (fixture has no spatial column).",
)
def join_geo_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    def coord(salt: str) -> F.Column:
        h = F.md5(F.concat(F.lit(salt), F.col("c_custkey").cast("string")))
        return F.conv(F.substring(h, 1, 5), 16, 10).cast("bigint") % _GEO_MOD

    pts = c.select(
        F.col("c_custkey").alias("k"),
        coord("x").alias("x"),
        coord("y").alias("y"),
    )
    cells = pts.select(
        "k", "x", "y",
        F.expr(f"x div {_GEO_R}").alias("cx"),
        F.expr(f"y div {_GEO_R}").alias("cy"),
    )
    offsets = F.explode(
        F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                  for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    )
    probe = cells.select(
        F.col("k"), F.col("x"), F.col("y"),
        F.col("cx"), F.col("cy"), offsets.alias("o"),
    ).select(
        "k", "x", "y",
        (F.col("cx") + F.col("o.dx")).alias("ncx"),
        (F.col("cy") + F.col("o.dy")).alias("ncy"),
    )
    b = cells.select(
        F.col("k").alias("kb"), F.col("x").alias("xb"), F.col("y").alias("yb"),
        F.col("cx").alias("cxb"), F.col("cy").alias("cyb"),
    )
    dist2 = (F.col("x") - F.col("xb")) * (F.col("x") - F.col("xb")) + (
        F.col("y") - F.col("yb")
    ) * (F.col("y") - F.col("yb"))
    return (
        probe.join(
            b,
            (F.col("ncx") == F.col("cxb"))
            & (F.col("ncy") == F.col("cyb"))
            & (F.col("k") < F.col("kb")),
        )
        .filter(dist2 <= _GEO_R2)
        .select(
            F.col("k").alias("key_a"),
            F.col("kb").alias("key_b"),
            dist2.cast("bigint").alias("dist2"),
        )
    )


@register(
    "geo_morton_rollup",
    oracle="""
    WITH pts AS (
      SELECT c_custkey AS k,
             (CAST('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)), 1, 5)
                   AS BIGINT) % 1024) // 4 AS x,
             (CAST('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)), 1, 5)
                   AS BIGINT) % 1024) // 4 AS y
      FROM customer
    ),
    coded AS (
      SELECT k, x, y,
             (((x >> 0) & 1) << 0) | (((y >> 0) & 1) << 1)
           | (((x >> 1) & 1) << 2) | (((y >> 1) & 1) << 3)
           | (((x >> 2) & 1) << 4) | (((y >> 2) & 1) << 5)
           | (((x >> 3) & 1) << 6) | (((y >> 3) & 1) << 7)
           | (((x >> 4) & 1) << 8) | (((y >> 4) & 1) << 9)
           | (((x >> 5) & 1) << 10) | (((y >> 5) & 1) << 11)
           | (((x >> 6) & 1) << 12) | (((y >> 6) & 1) << 13)
           | (((x >> 7) & 1) << 14) | (((y >> 7) & 1) << 15) AS morton
      FROM pts
    )
    SELECT CAST(morton >> 8 AS BIGINT) AS cell_coarse,
           CAST(morton >> 4 AS BIGINT) AS cell_fine,
           CAST(count(*) AS BIGINT) AS n_points,
           CAST(min(k) AS BIGINT) AS sample_key
    FROM coded
    GROUP BY cell_coarse, cell_fine
    HAVING count(*) >= 3
    """,
    doc="Multi-resolution spatial rollup via MORTON (Z-order) codes — "
    "the geohash-style hierarchy: (x, y) bits interleaved into one "
    "integer whose PREFIXES are the containing cells at every coarser "
    "resolution, so a single groupBy on two right-shifts of the same "
    "code yields aligned coarse(4x4-cell)/fine per-cell counts with "
    "parent-child containment free (cell_fine >> 4 == cell_coarse by "
    "construction — asserted in tests).  This prefix property is "
    "exactly why Z-order is also the multi-column file LAYOUT "
    "(sources/files.py's Z-order writer): spatial locality becomes "
    "lexicographic locality.  Bit interleave is pure integer "
    "shift/mask expressions — identical in both engines; coordinates "
    "are the md5-derived grid of join_geo_radius, coarsened to 8 bits "
    "per axis.  One partial-agged shuffle.",
)
def geo_morton_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")

    pts = c.select(
        F.col("c_custkey").alias("k"),
        F.expr("(CAST(conv(substring(md5(concat('x', CAST(c_custkey AS STRING))), 1, 5), 16, 10) AS BIGINT) % 1024) div 4").alias("x"),
        F.expr("(CAST(conv(substring(md5(concat('y', CAST(c_custkey AS STRING))), 1, 5), 16, 10) AS BIGINT) % 1024) div 4").alias("y"),
    )
    morton = None
    for i in range(8):
        xbit = F.shiftleft(F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)), 2 * i)
        ybit = F.shiftleft(F.shiftright(F.col("y"), i).bitwiseAND(F.lit(1)), 2 * i + 1)
        term = xbit.bitwiseOR(ybit)
        morton = term if morton is None else morton.bitwiseOR(term)
    coded = pts.select("k", morton.alias("morton"))
    return (
        coded.groupBy(
            F.shiftright("morton", 8).cast("bigint").alias("cell_coarse"),
            F.shiftright("morton", 4).cast("bigint").alias("cell_fine"),
        )
        .agg(F.count(F.lit(1)).alias("n_points"), F.min("k").alias("sample_key"))
        .filter(F.col("n_points") >= 3)
    )


# Fellegi–Sunter log2(m/u) agreement weights, PRE-QUANTIZED to integer
# milli-units at module load (in practice these come from EM estimation;
# here they are design constants).  Runtime scoring is pure integer
# adds — no float crosses either engine.
_FS_W = {"name": (9288, -1414), "seg": (2129, -2678), "band": (3366, -3862)}
_FS_LINK = 6000      # >= : link
_FS_POSSIBLE = 0     # >= : possible (clerical review); else non-link


def _fs_weight_sql(prefix: str = "") -> str:
    terms = [
        f"CASE WHEN {prefix}{f}_agree THEN {wa} ELSE {wd} END"
        for f, (wa, wd) in _FS_W.items()
    ]
    return " + ".join(terms)


@register(
    "linkage_fellegi_sunter",
    oracle=f"""
    WITH a AS (
      SELECT c_custkey AS k, c_name AS nm, c_nationkey AS nat,
             c_mktsegment AS seg,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS band
      FROM customer
    ),
    b AS (
      SELECT k,
             CASE WHEN substr(md5('fs1:' || CAST(k AS VARCHAR)), 1, 1) <= '5'
                  THEN substr(nm, 1, length(nm) - 1) || 'x' ELSE nm END AS nm,
             CASE WHEN substr(md5('fs2:' || CAST(k AS VARCHAR)), 1, 1) = '0'
                  THEN (nat + 1) % 25 ELSE nat END AS nat,
             CASE WHEN substr(md5('fs3:' || CAST(k AS VARCHAR)), 1, 1) <= '1'
                  THEN 'UNKNOWN' ELSE seg END AS seg,
             band + CASE WHEN substr(md5('fs4:' || CAST(k AS VARCHAR)), 1, 1) = '0'
                         THEN 1 ELSE 0 END AS band
      FROM a
    ),
    cand AS (
      SELECT a.k = b.k AS is_true_pair,
             a.nm = b.nm     AS name_agree,
             a.seg = b.seg   AS seg_agree,
             a.band = b.band AS band_agree
      FROM a JOIN b ON a.nat = b.nat
    )
    SELECT name_agree, seg_agree, band_agree,
           CAST(count(*) AS BIGINT)                          AS n_pairs,
           CAST(sum(CASE WHEN is_true_pair THEN 1 ELSE 0 END) AS BIGINT)
                                                             AS n_true_pairs,
           CAST({_fs_weight_sql()} AS BIGINT)                AS weight_milli,
           CASE WHEN {_fs_weight_sql()} >= {_FS_LINK} THEN 'link'
                WHEN {_fs_weight_sql()} >= {_FS_POSSIBLE} THEN 'possible'
                ELSE 'non_link' END                          AS decision
    FROM cand
    GROUP BY name_agree, seg_agree, band_agree
    """,
    doc="FELLEGI-SUNTER PROBABILISTIC RECORD LINKAGE — the 1969 model "
    "every dedupe/MDM system (Splink, dedupe.io) still implements: "
    "against a deterministically CORRUPTED second source (3/8 of names "
    "typo'd, 1/16 of nations shifted, 1/8 of segments nulled to "
    "UNKNOWN, 1/16 of balance bands off by one — md5-seeded, so both "
    "engines corrupt identically), candidate pairs from nation "
    "blocking are scored by summing per-field log2(m/u) agreement "
    "weights and classified link / possible / non-link by the two-"
    "threshold rule.  Weights are integer milli-units fixed at module "
    "load, so scoring is pure integer arithmetic; output aggregates "
    "by AGREEMENT PATTERN (the 8-row contingency view linkage "
    "engineers actually tune thresholds on), with true-pair counts "
    "per pattern exposing the m/u empirics in-row.  Extends "
    "join_fuzzy_blocked (boolean match) with calibrated multi-field "
    "EVIDENCE; same blocking discipline bounds the quadratic work by "
    "the largest nation block.  Scale: one block-key equi-join + one "
    "8-group aggregate; weight arithmetic is codegen; blocking key "
    "choice (not pair scoring) is the recall knob, exactly as at "
    "production scale.",
)
def linkage_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")
    a = c.select(
        F.col("c_custkey").alias("k"),
        F.col("c_name").alias("nm"),
        F.col("c_nationkey").alias("nat"),
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("band"),
    )

    def flip(tag: str, hi: str):
        return (
            F.substring(
                F.md5(F.concat(F.lit(f"{tag}:"), F.col("k").cast("string")).cast("binary")),
                1,
                1,
            )
            <= hi
        )

    b = a.select(
        F.col("k").alias("kb"),
        F.when(flip("fs1", "5"), F.expr("substr(nm, 1, length(nm) - 1) || 'x'"))
        .otherwise(F.col("nm"))
        .alias("nm_b"),
        F.when(flip("fs2", "0"), (F.col("nat") + 1) % 25)
        .otherwise(F.col("nat"))
        .alias("nat_b"),
        F.when(flip("fs3", "1"), F.lit("UNKNOWN")).otherwise(F.col("seg")).alias("seg_b"),
        (F.col("band") + F.when(flip("fs4", "0"), 1).otherwise(0)).alias("band_b"),
    )
    cand = a.join(b, a.nat == b.nat_b).select(
        (F.col("k") == F.col("kb")).alias("is_true_pair"),
        (F.col("nm") == F.col("nm_b")).alias("name_agree"),
        (F.col("seg") == F.col("seg_b")).alias("seg_agree"),
        (F.col("band") == F.col("band_b")).alias("band_agree"),
    )
    w = F.expr(_fs_weight_sql())
    return cand.groupBy("name_agree", "seg_agree", "band_agree").agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum(F.when(F.col("is_true_pair"), 1).otherwise(0)).alias("n_true_pairs"),
        w.cast("bigint").alias("weight_milli"),
        F.when(w >= _FS_LINK, "link")
        .when(w >= _FS_POSSIBLE, "possible")
        .otherwise("non_link")
        .alias("decision"),
    )


# Convex test polygon on the synthetic grid, counter-clockwise.  Integer
# vertices -> every half-plane test is an exact integer cross product.
_POLY = ((20000, 10000), (80000, 20000), (90000, 70000), (50000, 95000), (10000, 60000))


def _pip_cross_sql() -> str:
    terms = []
    n = len(_POLY)
    for i in range(n):
        (x1, y1), (x2, y2) = _POLY[i], _POLY[(i + 1) % n]
        terms.append(
            f"(({x2} - {x1}) * (y - {y1}) - ({y2} - {y1}) * (x - {x1})) >= 0"
        )
    return " AND ".join(terms)


@register(
    "geo_point_in_polygon",
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS k,
             CAST('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)), 1, 5)
                  AS BIGINT) % {_GEO_MOD} AS x,
             CAST('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)), 1, 5)
                  AS BIGINT) % {_GEO_MOD} AS y
      FROM customer
    )
    SELECT k, x, y, ({_pip_cross_sql()}) AS inside
    FROM pts
    """,
    doc="POINT-IN-POLYGON containment — the geofencing primitive "
    "(delivery zones, jurisdiction tagging) done EXACTLY: the convex "
    "fence is five integer vertices and a point is inside iff every "
    "edge's 2D cross product (the half-plane test) is non-negative — "
    "pure integer arithmetic, boundary-inclusive, no epsilon, no "
    "floating-point orientation errors (the failure mode that makes "
    "naive float winding tests flicker on near-boundary points).  The "
    "predicate is ONE generated SQL conjunction shared by both "
    "engines.  Points are the same md5-synthesized grid as "
    "join_geo_radius (which answers proximity; this answers "
    "containment — with geo_morton_rollup that completes the spatial "
    "trio: near / within / aggregate).  Scale: stateless codegen "
    "per-row arithmetic, no shuffle; a multi-polygon fence becomes a "
    "broadcast join against per-polygon edge lists, same test inside.",
)
def geo_point_in_polygon(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")

    def axis(tag: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("c_custkey").cast("string")).cast("binary")),
                    1,
                    5,
                ),
                16,
                10,
            ).cast("bigint")
            % _GEO_MOD
        )

    pts = c.select(
        F.col("c_custkey").alias("k"), axis("x").alias("x"), axis("y").alias("y")
    )
    return pts.select("k", "x", "y", F.expr(_pip_cross_sql()).alias("inside"))


@register(
    "join_geo_nearest_neighbor",
    # all-pairs oracle again (join_fuzzy_blocked's discipline): the hash
    # compare PROVES the 3x3-cell candidate set contains every true
    # within-radius nearest neighbor, not merely that both engines agree
    oracle=f"""
    WITH pts AS (
      SELECT c_custkey AS k,
             CAST('0x' || substr(md5('x' || CAST(c_custkey AS VARCHAR)), 1, 5)
                  AS BIGINT) % {_GEO_MOD} AS x,
             CAST('0x' || substr(md5('y' || CAST(c_custkey AS VARCHAR)), 1, 5)
                  AS BIGINT) % {_GEO_MOD} AS y
      FROM customer
    ),
    pairs AS (
      SELECT a.k AS k, b.k AS nk,
             (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) AS d2
      FROM pts a JOIN pts b ON a.k <> b.k
      WHERE (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y) <= {_GEO_R2}
    ),
    best AS (
      SELECT k, nk, d2,
             row_number() OVER (PARTITION BY k ORDER BY d2, nk) AS rn
      FROM pairs
    )
    SELECT k, nk AS nearest_k, d2 AS dist_sq FROM best WHERE rn = 1
    """,
    doc="NEAREST-NEIGHBOR SPATIAL JOIN (radius-bounded argmin) — 'who is "
    "each point's closest neighbor within 700 units': candidates come "
    "from the same 3x3 neighboring-grid-cell equi-join as "
    "join_geo_radius (cell size >= radius guarantees the true nearest-"
    "within-radius is always a candidate — the lossless-blocking "
    "invariant), then a per-point argmin with deterministic (d2, key) "
    "tiebreak picks the winner.  The ORACLE is deliberately ALL-PAIRS, "
    "so the gate proves the blocked candidate set achieves full recall "
    "on this corpus, not just engine agreement.  Distances stay "
    "SQUARED integers — no sqrt, no float.  Scale: shuffle is the "
    "9-cell candidate equi-join; argmin is a map-side-combinable "
    "min-struct per point, never a global sort.",
)
def join_geo_nearest_neighbor(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load(spark, sf_dir, "customer")

    def axis(tag: str):
        return (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(tag), F.col("c_custkey").cast("string")).cast("binary")),
                    1,
                    5,
                ),
                16,
                10,
            ).cast("bigint")
            % _GEO_MOD
        )

    pts = c.select(
        F.col("c_custkey").alias("k"), axis("x").alias("x"), axis("y").alias("y")
    )
    cells = pts.select(
        "k", "x", "y",
        F.expr(f"x div {_GEO_R}").alias("cx"),
        F.expr(f"y div {_GEO_R}").alias("cy"),
    )
    offs = spark.range(9).select(
        (F.col("id") % 3 - 1).cast("bigint").alias("ox"),
        (F.col("id") / 3).cast("bigint").alias("oy_raw"),
    ).select("ox", (F.col("oy_raw") - 1).alias("oy"))
    probe = cells.crossJoin(F.broadcast(offs)).select(
        "k", "x", "y",
        (F.col("cx") + F.col("ox")).alias("ncx"),
        (F.col("cy") + F.col("oy")).alias("ncy"),
    )
    targets = cells.select(
        F.col("k").alias("nk"), F.col("x").alias("tx"), F.col("y").alias("ty"),
        F.col("cx").alias("ncx"), F.col("cy").alias("ncy"),
    )
    d2 = (F.col("x") - F.col("tx")) ** 2 + (F.col("y") - F.col("ty")) ** 2
    cand = (
        probe.join(targets, ["ncx", "ncy"])
        .filter(F.col("k") != F.col("nk"))
        .select("k", "nk", d2.cast("bigint").alias("d2"))
        .filter(F.col("d2") <= _GEO_R2)
    )
    best = cand.groupBy("k").agg(
        F.min(F.struct("d2", "nk")).alias("b")
    )
    return best.select("k", F.col("b.nk").alias("nearest_k"), F.col("b.d2").alias("dist_sq"))
