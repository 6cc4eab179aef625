"""Deduplication operators over ``documents`` / ``embeddings``: exact hash,
exact shingle-Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.

North-star extension surface (BASELINE.json).  Scale design:

- **exact**: hash-groupBy on a content fingerprint — one shuffle keyed by
  digest, the canonical 100 TB exact-dedup plan.
- **exact Jaccard** is quadratic unless candidate-limited; it exists as the
  ground-truth oracle.  The scale path is **MinHash+LSH**: per-doc signature
  (narrow, no shuffle) → band buckets → shuffle only on (band, bucket-hash)
  → exact verification only on candidate pairs.  Band/row parameters trade
  recall vs candidate volume (16 bands × 4 rows ⇒ ~(1-(1-j⁴)¹⁶) recall).
- **SimHash** is a vectorized Pandas UDF (Arrow-batched; md5-based, so
  deterministic across sessions) producing one 64-bit value per doc;
  candidate pairs join on 16-bit bands (Hamming ≤ k ⇒ some band equal when
  k < #bands), verified with ``bit_count(xor)``.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import load, load_spread
from ..registry import register

# --- shared shingling -----------------------------------------------------

SHINGLE_EXPR = (
    "array_distinct(transform(sequence(1, greatest(length(text) - 2, 1)), "
    "i -> substring(text, i, 3)))"
)
_DUCK_SHINGLES = "list_distinct(list_transform(range(1, greatest(length(text)-1, 2)), i -> substr(text, i, 3)))"

# Shared oracle fragment: exact pairwise Jaccard via an INVERTED INDEX
# (unnest shingles → equi-join on the shingle → count = |intersection|),
# ~14× cheaper in DuckDB than the quadratic list_intersect over all pairs
# and byte-identical in output (verified both ways at sf0.01).  Pairs with
# an empty intersection never appear — their jaccard is 0, below every
# threshold used.  Mirrors the Spark implementation's own join shape.
_DUCK_JACPAIRS = f"""
    s AS (SELECT doc_id, {_DUCK_SHINGLES} AS sh FROM documents
          WHERE text IS NOT NULL),
    tok AS (SELECT doc_id, unnest(sh) AS g FROM s),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM tok a JOIN tok b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    sz AS (SELECT doc_id, len(sh) AS n FROM s),
    jacpairs AS (
      SELECT doc_a, doc_b,
             round(CAST(n_inter AS DOUBLE) / (sa.n + sb.n - n_inter), 6) AS jaccard
      FROM inter
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
    )"""


def with_shingles(docs: DataFrame) -> DataFrame:
    """Character 3-gram shingle set per document (JVM expression, no UDF).

    NULL-text documents are EXCLUDED (mirrored by _DUCK_JACPAIRS's WHERE):
    absent content cannot be deduplicated, and the engines' accidental
    alternatives disagree — Spark would shingle NULL into [NULL] whose
    xxhash64 is a CONSTANT (pairing every null doc with every other), while
    DuckDB's list_distinct drops the null shingle (null-tier hostile find).
    """
    return docs.filter(F.col("text").isNotNull()).withColumn(
        "shingles", F.expr(SHINGLE_EXPR)
    )


def _ceil9(x: F.Column) -> F.Column:
    """ceil(x) for a product x = t*n that is exact in the rationals.

    When t*n is integral (e.g. t=0.65, n=20 -> 13) the raw double product
    can land epsilon ABOVE the integer, pushing ceil up by one, which
    shortens a prefix or raises a size bound and silently drops borderline
    true pairs.  Rounding to 9 decimals first collapses that epsilon while
    leaving every genuinely fractional product untouched (for a rational
    threshold p/q the nearest non-integral product is 1/q >> 1e-9 from an
    integer), so the prunes stay lossless for arbitrary thresholds.
    """
    return F.ceil(F.round(x, 9))


def prefix_filtered_candidates(sh: DataFrame, threshold: float) -> DataFrame:
    """PPJoin-style LOSSLESS candidate pairs for Jaccard >= ``threshold``.

    ``sh``: (doc_id, hsh = distinct hashed shingles).  Three stacked
    lossless prunes (all from Xiao et al., WWW'08 — "Efficient Similarity
    Joins for Near Duplicate Detection"; randomized-universe property
    tests in tests/test_round6.py and tests/test_round7.py):

    1. **Prefix filter**: under the global (df, g) shingle order, each doc
       indexes only its ``|X| - ceil(t*|X|) + 1`` rarest shingles; any
       pair with J >= t must collide inside both prefixes.  r16 adds the
       paper's ASYMMETRIC refinement (§4, "indexing prefix"): ordering
       each pair by (set size, doc_id), the probing (larger) side keeps
       the standard prefix while the indexed (smaller) side only needs
       its ``|X| - ceil(2t/(1+t)*|X|) + 1`` rarest shingles.  Proof that
       the smallest common token w of a qualifying pair |x| <= |y| lands
       in both retained prefixes: the overlap O = |x∩y| satisfies
       O >= alpha = ceil(t/(1+t)*(|x|+|y|)) >= ceil(2t/(1+t)*|x|) (using
       |y| >= |x|) and O >= ceil(t*|y|) (because O(1+t) >= t(|x|+|y|)
       with O <= |x| forces |x| >= t|y|); all O common tokens sort at or
       after w inside each doc's (df, g)-ordered list, so w's rank is
       <= |x|-O+1 <= idx_len(x) and <= |y|-O+1 <= probe_len(y).  At
       t=0.65 the indexed side carries 0.212n+1 instead of 0.35n+1
       tokens, cutting the prefix-collision fan-out (and the candidate
       set fed to the exact verify) ~40%.
    2. **Size band**: J >= t forces the two set sizes within a factor t.
    3. **Positional filter** (r7): a collision row where token g has rank
       ``ra``/``rb`` in its doc's full sorted order can only witness a
       pair if ``1 + min(na-ra, nb-rb) >= alpha`` with ``alpha =
       ceil(t/(1+t)*(na+nb))``, the minimum overlap J >= t requires.
       The FIRST common token of a qualifying pair always passes (zero
       common tokens precede it, so overlap <= 1 + min of the suffixes),
       so per-row filtering keeps at least one witness per true pair —
       lossless — while discarding the bulk of the collision fan-out
       BEFORE the distinct.  On a hub-heavy corpus (tiny shingle
       vocabulary, every prefix token ubiquitous) this is the difference
       between distinct-ing 134M collision rows and 32M (measured at
       sf0.1); on a 100 TB real-text corpus prefixes are genuinely rare
       and the positional cut still strictly shrinks both the shuffle
       and the verify set.

    Exact verification on the candidates then reproduces ground truth
    bit-for-bit, which the all-pairs oracles of the callers re-prove at
    every selfcheck.

    Every ceil(t*n) here, alpha included, goes through ``_ceil9``.

    Callers compare the verified Jaccard ROUNDED to 6dp against t (oracle
    parity); the filters bound the exact ratio.  A pair could in
    principle round up across the threshold from within 5e-7 below it,
    but for set sizes n <= ~10^4 and a small-denominator rational t the
    nearest attainable ratio below t is >= 1/(q*n) >> 5e-7 away, so the
    rounded and exact decisions coincide.
    """
    from pyspark.sql import Window as W

    def _ceil_tn(n: "F.Column") -> "F.Column":
        return _ceil9(F.lit(threshold) * n)

    # explode_OUTER for the same reason as minhash_signatures (r16): `hsh`
    # is provably non-empty (non-null text => >= 1 distinct hashed
    # shingle), and plain explode's inferred size>0 filter would re-run
    # the whole shingle+hash build below the spread exchange, single-task
    # NULL doc_id docs can never appear in a pair (the callers' oracles all
    # pair via a.doc_id < b.doc_id, which drops NULLs) — exclude them HERE,
    # before dfreq.  Under the old symmetric join the doc_a < doc_b filter
    # dropped them implicitly; the r16 (size, id) pair order compares sizes
    # first (never NULL), so without this filter a (x, NULL-id) collision
    # would pass orientation and least/greatest would collapse it into a
    # spurious (x, x) self-pair (null-KEYS hostile tier find).
    toks = sh.filter(F.col("doc_id").isNotNull()).select(
        "doc_id", F.size("hsh").alias("n_sh"), F.explode_outer("hsh").alias("g")
    )
    dfreq = toks.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    w_doc = W.partitionBy("doc_id").orderBy("df", "g")
    prefix = (
        toks.join(dfreq, "g")
        .withColumn("r", F.row_number().over(w_doc))
        .filter(F.col("r") <= F.col("n_sh") - _ceil_tn(F.col("n_sh")) + 1)
        .select("doc_id", "n_sh", "g", "r")
    )
    pa = prefix.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"), "g",
        F.col("r").alias("ra"),
    )
    # indexed side: the shorter asymmetric prefix (docstring item 1; the
    # same _ceil9 guard — a raw-double ceil of an exactly-integral
    # 2t/(1+t)*n would SHORTEN the prefix and lose borderline pairs).
    # idx_len <= probe_len always (2t/(1+t) >= t for t <= 1), so this is
    # a pure filter on the already-built prefix table and both join
    # inputs reuse one window + one dfreq exchange.
    idx_len = (
        F.col("n_sh")
        - _ceil9(F.lit(2.0 * threshold / (1.0 + threshold)) * F.col("n_sh"))
        + 1
    )
    pb = prefix.filter(F.col("r") <= idx_len).select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"), "g",
        F.col("r").alias("rb"),
    )
    alpha = _ceil9(F.lit(threshold / (1.0 + threshold)) * (F.col("na") + F.col("nb")))
    return (
        pa.join(pb, "g")
        .filter(
            # b strictly smaller than a in the (size, doc_id) pair order —
            # exactly one orientation per unordered pair, never self-pairs
            (
                (F.col("nb") < F.col("na"))
                | ((F.col("nb") == F.col("na")) & (F.col("doc_b") < F.col("doc_a")))
            )
            # size band: with nb <= na the binding half is nb >= ceil(t*na)
            # (na >= ceil(t*nb) follows from na >= nb >= ceil(t*nb))
            & (F.col("nb") >= _ceil_tn(F.col("na")))
            & (1 + F.least(F.col("na") - F.col("ra"), F.col("nb") - F.col("rb"))
               >= alpha)
        )
        # one row per oriented pair.  An accumulated PPJoin suffix bound
        # over a pair's collisions (c + min(na - max ra, nb - max rb) >=
        # alpha) would prune nothing more: both docs rank tokens by the
        # same (df, g) key, so the pair's last collision holds both max
        # ranks, and the per-row filter above already passed it with c = 1.
        .select("doc_a", "doc_b")
        .distinct()
        .select(
            F.least("doc_a", "doc_b").alias("doc_a"),
            F.greatest("doc_a", "doc_b").alias("doc_b"),
        )
    )


# --- exact dedup ----------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp,
           count(*)     AS n_copies,
           min(doc_id)  AS keeper
    FROM documents
    GROUP BY fp
    """,
    doc="Exact dedup: hash-groupBy on normalized-content digest; keeper = "
    "min doc_id per group. One shuffle keyed by digest — the 100 TB plan.",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents")
    fp = F.md5(F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary"))
    return (
        d.select(fp.alias("fp"), "doc_id")
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("keeper"))
    )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH {_DUCK_JACPAIRS}
    SELECT doc_a, doc_b, jaccard FROM jacpairs WHERE jaccard >= 0.65
    """,
    doc="Exact character-3-gram Jaccard near-dup (ground truth for LSH), "
    "computed scale-safely: PPJoin prefix-filtered candidates "
    "(prefix_filtered_candidates — provably lossless at the 0.65 "
    "threshold) + exact verify on the candidates' hashed distinct "
    "shingle sets (64-bit collisions negligible, same equivalence the "
    "minhash verify documents).  The ORACLE stays the pure all-pairs "
    "inverted-index CTE, so every selfcheck re-proves the candidate "
    "rule loses nothing; r6 replaced the full inverted-index self-join "
    "whose hub-shingle df^2 fan-out was the documented quadratic "
    "worst case.  The verify joins key on high-cardinality doc ids and "
    "the corpus-sized shingle table is never hint-broadcast.",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _ngram_jaccard_scored(spark, sf_dir).filter(F.col("jaccard") >= 0.65)


def _ngram_jaccard_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every prefix-filtered candidate pair.

    Scores in ONE projection, then a checkpoint BARRIER before the
    caller's threshold filter: without it Catalyst pushes
    ``jaccard >= t`` down into the join condition, inlining the alias so
    array_intersect (a per-row hash-set build) is evaluated both in the
    join condition and in the output projection — measured 67 s → ~57 s
    for the verify stage at sf0.1 (the win is modest because the
    per-pair set build dominates either way; codegen subexpression
    elimination handles the two references inside the single
    projection).  The checkpointed relation is the small (doc_a, doc_b,
    jaccard) triple per candidate, never the joined arrays.

    r8: the barrier is ``persist(MEMORY_AND_DISK)``, not an eager
    ``localCheckpoint`` (ADVICE r7).  The CacheManager substitutes an
    ``InMemoryRelation`` at ANALYSIS time, which is a genuine optimizer
    fence — Catalyst cannot push the caller's threshold filter back into
    the verify join, so array_intersect is still evaluated once (the r7
    win stands) — while construction stays fully lazy: zero jobs until
    the first action (``localCheckpoint(eager=False)`` still materializes
    every AQE shuffle stage at build time, measured 5 jobs here).  It is
    also strictly better at scale: cache blocks keep their lineage, so an
    executor loss recomputes the lost partitions instead of failing the
    job the way unreplicated localCheckpoint blocks do.  MEMORY_AND_DISK
    spills instead of evicting (the scored triple is ~24 B/row).  Note
    the CacheManager dedups by plan equality, so a same-session consumer
    (the curation pipeline building this same subtree) legitimately
    reuses the materialized candidates; a timing harness must call
    ``spark.catalog.clearCache()`` between reps so each one stays a full
    re-execution.

    r16: the documents scan comes through ``load_spread`` — the sf parquet
    is a single row group, so the shingling + prefix-index map work (stage-
    timed at ~5-9 s of this pipeline) otherwise runs as ONE task (guide
    §2.5); the spread is a footer-driven no-op on a multi-row-group
    corpus."""
    d = with_shingles(load_spread(spark, sf_dir, "documents", "doc_id"))
    sh = d.select(
        "doc_id",
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias("hsh"),
    )
    cand = prefix_filtered_candidates(sh, 0.65)
    sa = sh.select(F.col("doc_id").alias("doc_a"), F.col("hsh").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"), F.col("hsh").alias("sh_b"))
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / (
            F.size("sh_a")
            + F.size("sh_b")
            - F.size(F.array_intersect("sh_a", "sh_b"))
        ),
        6,
    )
    scored = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    return scored.persist(StorageLevel.MEMORY_AND_DISK)


# --- MinHash + LSH --------------------------------------------------------

N_HASHES = 64
N_BANDS = 16
ROWS_PER_BAND = N_HASHES // N_BANDS
# exact-Jaccard cut of dedup_minhash_lsh; lsh_candidate_pairs' size band
# uses it too, and its 0.55 signature-estimate cut is calibrated for it
LSH_JACCARD = 0.8


def minhash_signatures(docs_with_shingles: DataFrame) -> DataFrame:
    """64 minhash values per doc (packed into one array column) plus the
    shingle-set size ``n_sh``: explode shingles once, take 64 mins of
    seeded xxhash64 AND the count in a single hash-aggregate (no per-seed
    passes; the count rides the same buffer for free — r17, it feeds the
    lossless size band in :func:`lsh_candidate_pairs`)."""
    # explode_OUTER (r16): a non-null text always yields >= 1 shingle
    # (sequence(1, greatest(len-2, 1)) is never empty), so outer == inner
    # here — but plain explode makes Catalyst infer a `size(shingles) > 0`
    # filter and push it below the spread exchange, re-evaluating the whole
    # shingle build per row ON THE SINGLE-TASK SCAN (guide §4.4's duplicate-
    # evaluation pattern, measured 2.2 s serialized at sf0.1); outer kills
    # the inference, so shingling runs once, after the spread, at width
    exploded = docs_with_shingles.select(
        "doc_id", F.explode_outer("shingles").alias("sh")
    )
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("sh"))).alias(f"h{i}") for i in range(N_HASHES)
    ]
    wide = exploded.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"), *mins)
    return wide.select(
        "doc_id",
        "n_sh",
        F.array(*[F.col(f"h{i}") for i in range(N_HASHES)]).alias("sig"),
    )


def lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """Band the signature (16 bands × 4 rows), bucket-join per band, then
    pre-filter candidates on the signature-estimated Jaccard, for pairs
    whose exact Jaccard may reach ``LSH_JACCARD``.

    The estimate (fraction of equal minhashes) costs a 64-int compare per
    pair — orders cheaper than exact shingle intersection.  Cut at 0.55 for
    the 0.8 exact threshold: stderr of the estimate is ≈√(j(1-j)/64) ≈ 0.05,
    so true positives sit >4σ above the cut while the j≈0.5 bulk of a
    near-degenerate corpus is dropped before the expensive verify.

    Order of operations (r7): the band join emits only bare (doc_a,
    doc_b) ids and DISTINCTS them BEFORE the estimate — a pair whose
    docs agree on many bands collides once per band (up to 16×), and
    evaluating the 64-element zip_with estimate per collision row was
    the dominant cost on a self-similar corpus (the distinct is a
    trivial two-long hash-agg per row; the estimate then runs exactly
    once per surviving pair after re-attaching the two signatures by
    id-keyed joins).  Same candidate set — the estimate filter commutes
    with distinct — so recall and the callers' oracles are unchanged.

    r17 — LOSSLESS size band at the band join (guide §2.3, shuffle fewer
    bytes): J(A,B) >= t forces |A∩B| <= min(|A|,|B|) and |A∪B| >=
    max(|A|,|B|), so min/max >= J >= t and the integer form min >=
    ceil9(t*max) holds for every pair the verify can keep (the same
    theorem — and the same epsilon guard on exactly-integral products —
    as prefix_filtered_candidates' size band).  Applied per collision
    ROW using the n_sh carried on the banded rows (+4 bytes each), it
    prunes 31% of collision rows and 37% of distinct band pairs BEFORE
    the distinct exchange, the two signature re-attach joins, the
    64-element estimates, and the downstream exact verify (measured at
    sf0.1: 9.84M -> 6.82M collision rows, 5.95M -> 3.72M distinct
    pairs).  The n_sh sizes are the ORACLE-grain distinct raw-shingle
    counts (size of the array_distinct'd shingle array), so the bound
    is exact for the ground-truth Jaccard the callers verify against."""
    bands = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at("sig", bi * ROWS_PER_BAND + r + 1)
                        for r in range(ROWS_PER_BAND)
                    ]
                ).alias("bucket"),
            )
            for bi in range(N_BANDS)
        ]
    )
    banded = sig.select("doc_id", "n_sh", F.explode(bands).alias("b")).select(
        "doc_id", "n_sh", F.col("b.band").alias("band"), F.col("b.bucket").alias("bucket")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (
                F.least(F.col("a.n_sh"), F.col("b.n_sh")).cast("bigint")
                >= F.ceil(
                    F.round(
                        F.lit(LSH_JACCARD)
                        * F.greatest(F.col("a.n_sh"), F.col("b.n_sh")),
                        9,
                    )
                )
            ),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    # the re-attach sides select n_sh AND the filter below re-states the
    # size band (a semantic no-op — every surviving pair already passed it
    # at the band join): if this branch PRUNED n_sh, its column-pruned
    # signature aggregate would no longer be plan-equal to the banded
    # branch's, Catalyst could not substitute a ReusedExchange, and the
    # whole corpus would be shingled + 64x-hashed + aggregated TWICE
    # (observed as a third exchange and a duplicate 65-column aggregate in
    # the r17 plan diff before this guard).  One redundant int compare per
    # surviving pair buys the single shared signature exchange back.
    sa = sig.select(
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"),
        F.col("sig").alias("sig_a"),
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"),
        F.col("sig").alias("sig_b"),
    )
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v))
        / F.lit(N_HASHES)
    )
    size_band = F.least(F.col("na"), F.col("nb")).cast("bigint") >= F.ceil(
        F.round(F.lit(LSH_JACCARD) * F.greatest(F.col("na"), F.col("nb")), 9)
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .filter((est >= 0.55) & size_band)
        .select("doc_a", "doc_b")
    )


@register(
    "dedup_minhash_lsh",
    oracle=f"""
    WITH {_DUCK_JACPAIRS}
    SELECT doc_a, doc_b, jaccard FROM jacpairs WHERE jaccard >= 0.8
    """,
    doc="MinHash (64 hashes) + LSH (16 bands × 4 rows) candidate generation, "
    "then exact-Jaccard verification at ≥0.8 on candidates only. At j≥0.8 "
    "band recall is 1-(1-j⁴)¹⁶ ≥ 0.9996, so verified output equals the "
    "exact ground truth (the oracle) with near-certainty; tests/test_dedup.py "
    "asserts containment + recall explicitly.",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _minhash_lsh_scored(spark, sf_dir).filter(F.col("jaccard") >= LSH_JACCARD)


def _minhash_lsh_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every LSH candidate pair.

    Exact verification on 64-bit-hashed shingle sets: integer intersects
    are far cheaper than string intersects, and 64-bit collisions are
    negligible (~(N·250)²/2⁶⁵), so Jaccard values equal the raw-string
    oracle's.  The per-doc shingle table is the WHOLE corpus — never
    broadcast it; candidates are already LSH-pruned, so two plain
    shuffled equi-joins on doc_a/doc_b (each keyed on a high-cardinality
    doc id) attach the shingle sets with bounded per-task memory at any
    scale.  Same barrier rationale (and same r8 lazy cache-fence
    semantics) as :func:`_ngram_jaccard_scored`.

    r16: documents through ``load_spread`` — the single-row-group bench
    layout serialized the signature build (shingle explode + 64 aggregated
    xxhash64 mins, measured 5.0 s) and the verify-side shingle-set build
    (2.2 s) each on ONE task; with the spread both run at shuffle width
    and the signature groupBy reuses the spread exchange (guide §2.5)."""
    d = with_shingles(load_spread(spark, sf_dir, "documents", "doc_id"))
    sig = minhash_signatures(d)
    cand = lsh_candidate_pairs(sig)
    sh = d.select(
        "doc_id",
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias("hsh"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hsh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("hsh").alias("sh_b"))
    # |A ∪ B| = |A| + |B| - |A ∩ B| for the (already-distinct) hashed sets:
    # arithmetically identical to size(array_union(..)), but array_union
    # builds a second per-pair hash set AND materializes the union array —
    # measured r16 at sf0.1: the union form costs ~25% more verify-stage
    # wall than intersect+arithmetic (17.4 s vs 13.3 s on the ngram
    # candidate volume).  The two textual array_intersect references
    # collapse to ONE evaluation via codegen subexpression elimination
    # (verified: intersect-only and intersect+arithmetic time identically).
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / (
            F.size("sh_a")
            + F.size("sh_b")
            - F.size(F.array_intersect("sh_a", "sh_b"))
        ),
        6,
    )
    scored = (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
    )
    return scored.persist(StorageLevel.MEMORY_AND_DISK)


# --- near-dup clustering ----------------------------------------------------


def connected_components(edges: DataFrame, max_iter: int = 20) -> DataFrame:
    """Distributed connected components by min-label propagation.

    ``edges``: (doc_a, doc_b) undirected pairs.  Each node repeatedly takes
    the min label over itself and its neighbors until fixpoint — O(component
    diameter) iterations, each one join + hash-agg shuffled on the node id
    (the standard large-graph CC shape; GraphX/Pregel does the same rounds).
    Driver only checks the per-round change count — no data is collected.
    """
    edges = edges.localCheckpoint()  # materialize once: the edge list is
    # re-read twice per round; recomputing its (possibly expensive) lineage
    # each iteration turns O(diameter) rounds into O(diameter × edge-cost)
    fwd = edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    und = fwd.unionByName(
        edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))
    )
    labels = (
        und.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            und.join(labels, und.dst == labels.node)
            .groupBy(und.src.alias("node2"))
            .agg(F.min("label").alias("nbr_label"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == F.col("node2"), "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce("nbr_label", F.col("label"))
                ).alias("label"),
            )
        )
        new_labels = new_labels.localCheckpoint()  # truncate the iterative lineage
        changed = (
            labels.alias("o")
            .join(new_labels.alias("n"), "node")
            .filter(F.col("o.label") != F.col("n.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels


@register(
    "dedup_connected_components",
    oracle=f"""
    WITH RECURSIVE {_DUCK_JACPAIRS},
    edges AS (SELECT doc_a, doc_b FROM jacpairs WHERE jaccard >= 0.65),
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM und
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
    )
    SELECT src AS doc_id, least(min(dst), src) AS component
    FROM reach GROUP BY src
    """,
    doc="Near-dup clustering: connected components over Jaccard≥0.65 edges "
    "via iterative min-label propagation (O(diameter) shuffle rounds, "
    "lineage truncated per round). Oracle computes the same components "
    "with a recursive-CTE transitive closure over inverted-index edges "
    "(cheap: the closure is tiny once edges are candidate-limited).",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.65).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(edges)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("component"))


# --- SimHash --------------------------------------------------------------


@F.pandas_udf(T.LongType())
def simhash64(token_lists: pd.Series) -> pd.Series:
    """64-bit SimHash per document from its token list.

    md5-based per-token hashing → deterministic across sessions/executors
    (Python's builtin hash is salted; never use it in distributed code).
    Arrow-batched; numpy popcount-style accumulation per batch.
    """
    import numpy as np

    out = []
    for toks in token_lists:
        acc = np.zeros(64, dtype=np.int64)
        for t in toks:
            digest8 = hashlib.md5(t.encode()).digest()[:8]
            bits = np.unpackbits(np.frombuffer(digest8, dtype=np.uint8)).astype(np.int64)
            acc += 2 * bits - 1
        v = 0
        for j in range(64):
            if acc[j] > 0:
                v |= 1 << j
        # map to signed int64 range
        out.append(v - (1 << 64) if v >= (1 << 63) else v)
    return pd.Series(out, dtype="int64")


@register(
    "dedup_simhash",
    # Full oracle (upgraded from rows-only in r2): DuckDB rebuilds the exact
    # md5-bit SimHash — CAST('0x'||substr(md5(t),1,16) AS UBIGINT) equals
    # int.from_bytes(hashlib.md5(t).digest()[:8], 'big') bit-for-bit, bit j
    # of the signature is unpackbits position j = (u >> (63-j)) & 1, and the
    # signed 64-bit packing is the two's-complement sum (bit 63 enters as
    # -2^63).  Exact-integer arithmetic throughout (HUGEINT sums; ** returns
    # DOUBLE in DuckDB and silently drops low bits — never use it here).
    oracle="""
    WITH tok AS (
      SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t FROM documents
    ),
    h AS (
      SELECT doc_id, CAST('0x' || substr(md5(t), 1, 16) AS UBIGINT) AS u FROM tok
    ),
    bits AS (
      SELECT doc_id, j,
             sum(CASE WHEN (u >> (63 - j)) & 1 = 1 THEN 1 ELSE -1 END) AS acc
      FROM h CROSS JOIN unnest(range(0, 64)) AS r(j)
      GROUP BY doc_id, j
    ),
    sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN acc > 0 THEN
                   CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
                        ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INT) AS HUGEINT) END
                 ELSE CAST(0 AS HUGEINT) END) AS BIGINT) AS sim
      FROM bits GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, sim, j AS band, (sim >> CAST(16*j AS INT)) & 65535 AS val
      FROM sig CROSS JOIN unnest(range(0, 4)) AS r(j)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           bit_count(xor(a.sim, b.sim)) AS hamming
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sim, b.sim)) <= 12
    """,
    doc="SimHash near-dup: 64-bit signature per doc (vectorized Pandas UDF), "
    "candidates via 16-bit band equality (4 bands ⇒ catches Hamming ≤ 3 "
    "always, most ≤ 12), verified with bit_count(a XOR b) ≤ 12. "
    "Signature step is narrow (no shuffle); candidate join shuffles only "
    "(band, value) pairs.  Oracle rebuilds the md5-bit signature exactly "
    "in SQL, so this checks hash values, banding, and Hamming verify "
    "end-to-end.",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL text excluded, the dedup-family contract (with_shingles note):
    # the oracle's unnest drops such docs implicitly; an unfiltered split
    # would hand the kernel a None token list
    # r17: load_spread — the Arrow-batched simhash kernel (per-doc token
    # hash + 64-lane majority vote) otherwise runs on the single-row-group
    # scan's ONE task (guide §2.5, measured 6.4 s there); spreading the
    # documents over the shuffle width runs the kernel in parallel, and on
    # a multi-row-group corpus the spread is a footer-driven no-op
    d = (
        load_spread(spark, sf_dir, "documents", "doc_id")
        .filter(F.col("text").isNotNull())
        .select("doc_id", F.split(F.lower(F.col("text")), " ").alias("toks"))
    )
    sig = d.select("doc_id", simhash64("toks").alias("sim"))
    bands = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.shiftright("sim", 16 * i).bitwiseAND(F.lit(0xFFFF)).alias("val"),
            )
            for i in range(4)
        ]
    )
    banded = sig.select("doc_id", "sim", F.explode(bands).alias("b")).select(
        "doc_id", "sim", F.col("b.band").alias("band"), F.col("b.val").alias("val")
    )
    a = banded.alias("a")
    b = banded.alias("b")
    hamming = F.bit_count(F.col("a.sim").bitwiseXOR(F.col("b.sim")))
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= 12)
    )


@register(
    "dedup_embedding_cosine",
    oracle="""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 6) AS cosine
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE a.embedding IS NOT NULL AND b.embedding IS NOT NULL
      AND round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                       CAST(b.embedding AS DOUBLE[])), 6) >= 0.4
    """,
    doc="Embedding-cosine near-dup: all pairs ≥ 0.4 cosine via the "
    "size-adaptive GEMM kernel (similarity.pairwise_cosine) — corpus "
    "broadcast + zero-shuffle map pass while N·d·8 fits executor memory, "
    "blocked block-pair GEMM beyond that (dispatch pinned past the cap in "
    "tests/test_scale.py: no corpus broadcast, FlatMapGroupsInPandas "
    "block-pair plan engages). The blocked kernel bounds MEMORY, not WORK "
    "— the task as registered is inherently O(N²·d) because its oracle is "
    "exact all-pairs. THE 100 TB RECIPE is to compose bucketing in front "
    "and run this dense kernel per bucket: (1) assign each vector to an "
    "anchor cell exactly as ann_anchor_lsh (similarity.py) / "
    "dedup_semdedup's k-means cells do — broadcast the small anchor/"
    "centroid matrix, one map pass; (2) groupBy(cell) and run THIS "
    "blocked GEMM inside each cell (blocked_pairwise_cosine is already "
    "the per-bucket kernel — see its docstring); (3) accept the "
    "candidate-recall/exactness trade the bucketing implies, or multi-"
    "probe neighboring cells to tighten it. That composition changes the "
    "result contract (bucketed ≠ exact all-pairs), which is why it is a "
    "separate registered query family, not a flag here.",
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import pairwise_cosine, parquet_corpus_hint

    # absent (NULL) embeddings are excluded — they cannot enter a GEMM and
    # their cosine is undefined (null-tier contract, mirrored in the oracle).
    # Deliberately plain `load`, NOT `load_spread` (r16): a spread exchange
    # was tried here (fan the broadcast-GEMM map pass out of the single-
    # row-group scan) and REVERTED — under the bench headline conf (shuffle
    # width 8) a 4-round interleaved A/B measured it a consistent ~60 ms
    # REGRESSION (min 0.24 s plain vs 0.30 s spread): at this corpus size
    # the whole kernel is ~50 ms of GEMM, so the exchange + extra Python
    # worker round-trips cost more than the fan-out buys.  The win the
    # spread was chasing only appears at shuffle width 32, which the
    # headline never runs; on a real multi-row-group corpus the map pass
    # fans out natively and the spread is a no-op anyway.
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    # 4 blocks → 10 block pairs on the blocked path; the adaptive dispatch
    # picks the broadcast path whenever the corpus fits under the cap.
    # Size comes from the parquet footer (driver metadata read) — no probe
    # jobs in the query path.
    hint = parquet_corpus_hint(sf_dir)
    return pairwise_cosine(e, threshold=0.4, n_blocks=4, size_hint=hint).filter(
        F.col("cosine") >= 0.4
    )


@register(
    "dedup_cluster_representatives",
    oracle=f"""
    WITH RECURSIVE {_DUCK_JACPAIRS},
    edges AS (SELECT doc_a, doc_b FROM jacpairs WHERE jaccard >= 0.65),
    und AS (
      SELECT doc_a AS src, doc_b AS dst FROM edges
      UNION SELECT doc_b, doc_a FROM edges
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM und
      UNION
      SELECT r.src, u.dst FROM reach r JOIN und u ON r.dst = u.src
    ),
    labels AS (
      SELECT src AS doc_id, least(min(dst), src) AS component
      FROM reach GROUP BY src
    ),
    members AS (
      SELECT d.doc_id, d.n_chars, coalesce(l.component, d.doc_id) AS component
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    ),
    ranked AS (
      SELECT component, doc_id, n_chars,
             row_number() OVER (PARTITION BY component
                                ORDER BY n_chars DESC, doc_id) AS rn,
             count(*) OVER (PARTITION BY component) AS n_members
      FROM members
    )
    SELECT component, doc_id AS keeper, n_chars AS keeper_chars, n_members
    FROM ranked WHERE rn = 1
    """,
    doc="End-to-end dedup composition: near-dup clusters (connected "
    "components over Jaccard>=0.65 edges) -> keep ONE representative per "
    "cluster, chosen by quality (longest doc, doc_id tie-break); isolated "
    "documents are their own singleton cluster via the left join.  This is "
    "the 'which copy survives' step every dedup pipeline ends with — one "
    "window over components after the CC rounds, everything keyed on "
    "high-cardinality ids.  (The recursive-CTE oracle's transitive closure "
    "blows up on sf0.1's large components — oracle-verified at sf<=0.01, "
    "same policy as dedup_connected_components; the Spark side is the "
    "O(diameter)-rounds CC that scales.)",
)
def dedup_cluster_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    edges = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.65).select(
        "doc_a", "doc_b"
    )
    labels = connected_components(edges).select(
        F.col("node").alias("doc_id"), F.col("label").alias("component")
    )
    d = load(spark, sf_dir, "documents").select("doc_id", "n_chars")
    members = d.join(labels, "doc_id", "left").withColumn(
        "component", F.coalesce("component", "doc_id")
    )
    w = W.partitionBy("component").orderBy(F.col("n_chars").desc(), F.col("doc_id"))
    # n_members BEFORE rn: with the count window stacked between the
    # row_number window and its rn==1 filter, Spark's WindowGroupLimit
    # rule cannot fire (r15 registry scan); computed first, the count
    # still sees every member (same value) while the rank window gets
    # its map-side group-limit — both windows share one exchange on
    # component either way
    ranked = members.withColumn(
        "n_members", F.count(F.lit(1)).over(W.partitionBy("component"))
    ).withColumn("rn", F.row_number().over(w))
    return ranked.filter(F.col("rn") == 1).select(
        "component",
        F.col("doc_id").alias("keeper"),
        F.col("n_chars").alias("keeper_chars"),
        "n_members",
    )


@register(
    "dedup_incremental_index",
    oracle="""
    WITH cut AS (
      SELECT CAST(floor(max(doc_id) * 7 / 10) AS BIGINT) AS c FROM documents
    ),
    fp AS (
      SELECT doc_id,
             md5(trim(regexp_replace(lower(text), '\\s+', ' ', 'g'))) AS fp
      FROM documents
    ),
    idx AS (
      SELECT DISTINCT f.fp FROM fp f, cut WHERE f.doc_id < cut.c
    )
    SELECT f.doc_id, f.fp
    FROM fp f, cut
    WHERE f.doc_id >= cut.c
      AND NOT EXISTS (SELECT 1 FROM idx WHERE idx.fp = f.fp)
    """,
    doc="Incremental dedup against a PERSISTED fingerprint index — the "
    "production shape: a 100 TB corpus is fingerprinted once, and each new "
    "batch is admitted by anti-joining its digests against the stored "
    "index instead of re-scanning history.  Here the first 70% of doc_ids "
    "play the indexed corpus (distinct digests written to parquet and read "
    "back — real persistence, not a cached DataFrame), the rest are the "
    "arriving batch.  The anti-join shuffles only (fp) pairs: the index "
    "side is one narrow digest column, the batch side is the small new "
    "delta.  The cutoff scalar binds via broadcast crossJoin (the repo's "
    "decorrelation pattern), so no per-row driver logic.  Reference "
    "parity: this is op #10's duplicate-delivery guard lifted from "
    "file-level 409s to content-level digests.",
)
def dedup_incremental_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..tmputil import tmp_dir

    d = load(spark, sf_dir, "documents")
    fp = F.md5(
        F.trim(F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")).cast("binary")
    )
    fps = d.select("doc_id", fp.alias("fp"))
    # floor() explicitly on BOTH sides: Spark's cast truncates but DuckDB's
    # CAST rounds-to-nearest, so a bare cast diverges when the fraction >= .5
    cut = d.agg(F.floor(F.max("doc_id") * 7 / 10).cast("bigint").alias("c"))
    bound = fps.crossJoin(F.broadcast(cut))

    index_dir = tmp_dir("fp_index_") + "/index"
    bound.filter(F.col("doc_id") < F.col("c")).select("fp").distinct().write.mode(
        "overwrite"
    ).parquet(index_dir)

    index = spark.read.parquet(index_dir)
    batch = bound.filter(F.col("doc_id") >= F.col("c")).select("doc_id", "fp")
    return batch.join(index, "fp", "left_anti").select("doc_id", "fp")


@register(
    "dedup_minhash_ml",
    oracle=f"""
    WITH {_DUCK_JACPAIRS}
    SELECT doc_a, doc_b, jaccard FROM jacpairs WHERE jaccard >= 0.8
    """,
    doc="MinHash LSH via pyspark.ml (the library path next to the "
    "hand-rolled dedup_minhash_lsh): shingle sets → binary HashingTF "
    "vectors → ml.feature.MinHashLSH (16 tables, pinned seed) → 8 AND-2 "
    "BANDS over the estimator's hashes → explicit (band, hash)-keyed "
    "self-join with a lossless PPJoin size band in the join condition → "
    "exact Jaccard verification on 64-bit-hashed shingle sets.  "
    "Candidate recall at j>=0.8 with 8 OR-ed 2-row bands is "
    "1-(1-j^2)^8 >= 0.99972 — above the hand-rolled path's accepted "
    "1-(1-j^4)^16 >= 0.9996 contract, and exactly 1 for j=1 exact "
    "duplicates — so the verified output equals the exact ground truth "
    "(the oracle), demonstrated through the MLlib estimator API.  Exact "
    "jaccard is recomputed from the original shingles, NOT from the "
    "2^18-bin TF vectors (bin collisions would bias it).  Scale shape "
    "matches the hand-rolled path: narrow signature pass, bucket-keyed "
    "join, verify only candidates.  History: r14 dropped "
    "model.approxSimilarityJoin after the skewed-volume sweep caught it "
    "collapsing into a single 19-minute task (one-partition explode + "
    "per-row Iterator keyDistance, jstack-confirmed); r15 banded the "
    "tables + added the size prune after the same tier showed single-"
    "hash OR buckets going quadratic (~3900-doc buckets, 44M collision "
    "rows, 12.1M verify pairs ~= all-pairs at 5000 docs) — banding cuts "
    "that to 8.3M/4.2M and the skewed Spark wall from 66 s to 30 s "
    "(VERDICT r14 item 6).",
)
def dedup_minhash_ml(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.ml.feature import HashingTF, MinHashLSH
    from pyspark.ml.functions import vector_to_array

    # load_spread (r16): the single-row-group bench layout would serialize
    # the shingling + HashingTF sparse-vector build on one task (guide §2.5)
    d = with_shingles(load_spread(spark, sf_dir, "documents", "doc_id")).select(
        "doc_id", "shingles"
    )
    tf = HashingTF(
        inputCol="shingles", outputCol="features", numFeatures=1 << 18, binary=True
    )
    v = tf.transform(d)
    mh = MinHashLSH(inputCol="features", outputCol="hashes", numHashTables=16, seed=42)
    model = mh.fit(v)
    # Banded signatures (round 15, VERDICT r14 item 6): the estimator's 16
    # min-hashes compose into 8 AND-2 bands — band hash = xxhash64 of the
    # two member hashes, the same AND/OR structure the hand-rolled path
    # uses (16 bands x 4 rows there).  Single-hash OR tables have
    # P(bucket collision) = j, so on the r14 skewed-VOLUME tier (5000
    # deliberately self-similar docs) buckets reached ~3900 docs and the
    # self-join enumerated 44M collision rows / 12.1M distinct pairs —
    # nearly all-pairs; banding squares the per-band collision prob
    # (j^2), cutting enumeration to 8.3M rows and the verify set to
    # 4.2M, at recall 1-(1-j^2)^8 >= 0.99972 for j >= 0.8 — ABOVE the
    # hand-rolled path's accepted 1-(1-j^4)^16 >= 0.9996 contract, and
    # exactly 1 for the j=1 exact duplicates that dominate dense tiers.
    # A band-hash xxhash64 collision can only ADD a false candidate
    # (removed by the exact verify), never drop a true pair.  Each
    # signature row also carries n, the doc's DISTINCT hashed-shingle
    # count — the same n the exact verify divides by.
    nsh = F.size(F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))))
    rows = (
        model.transform(v)
        .select("doc_id", nsh.alias("n"), F.posexplode("hashes").alias("i", "hv"))
        .select(
            "doc_id", "n", "i", F.element_at(vector_to_array("hv"), 1).alias("hr")
        )
    )
    # band assembly: one tiny groupBy over 16 rows/doc (the two members of
    # band t are tables 2t and 2t+1; max-of-when picks each deterministically)
    sig = rows.groupBy(
        "doc_id", "n", (F.col("i") / 2).cast("int").alias("t")
    ).agg(
        F.xxhash64(
            F.max(F.when(F.col("i") % 2 == 0, F.col("hr"))),
            F.max(F.when(F.col("i") % 2 == 1, F.col("hr"))),
        ).alias("h")
    )

    la, lb = sig.alias("la"), sig.alias("lb")
    cand = (
        la.join(
            lb,
            (F.col("la.t") == F.col("lb.t"))
            & (F.col("la.h") == F.col("lb.h"))
            & (F.col("la.doc_id") < F.col("lb.doc_id"))
            # LOSSLESS size band (Xiao et al. WWW'08, the PPJoin prune the
            # hand-rolled path already stacks): J(A,B) >= 0.8 forces
            # |A| >= ceil(0.8*|B|) and vice versa on the SAME distinct
            # hashed-shingle sets the exact verify scores, so the prune
            # runs INSIDE the bucket join, ahead of the distinct and the
            # array-verify joins (drops 57% of collisions at skewed volume)
            & (F.col("la.n") >= _ceil9(F.lit(0.8) * F.col("lb.n")))
            & (F.col("lb.n") >= _ceil9(F.lit(0.8) * F.col("la.n"))),
        )
        .select(
            F.col("la.doc_id").alias("doc_a"), F.col("lb.doc_id").alias("doc_b")
        )
        .distinct()
    )
    sh = d.select(
        "doc_id",
        F.array_distinct(F.transform("shingles", lambda s: F.xxhash64(s))).alias("hsh"),
    )
    a = sh.select(F.col("doc_id").alias("doc_a"), F.col("hsh").alias("sh_a"))
    b = sh.select(F.col("doc_id").alias("doc_b"), F.col("hsh").alias("sh_b"))
    jac = F.round(
        F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
        / F.size(F.array_union("sh_a", "sh_b")),
        6,
    )
    return (
        cand.join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.8)
    )


@register(
    "dedup_containment",
    oracle="""
    WITH toks AS (
      SELECT doc_id, string_split(lower(text), ' ') AS t
      FROM documents WHERE length(text) > 0
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(t) - 4, 1) + 1),
               i -> md5(array_to_string(list_slice(t, i, i + 4), ' '))
             ))) AS s
      FROM toks
    ),
    sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    freq AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= 100),
    idx AS (SELECT sh.doc_id, sh.s FROM sh JOIN freq ON freq.s = sh.s),
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
      FROM idx a JOIN idx b ON a.s = b.s AND a.doc_id <> b.doc_id
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT doc_a, doc_b, n_inter, sa.n_sh AS n_a, sb.n_sh AS n_b
      FROM inter
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
      WHERE sb.n_sh >= sa.n_sh AND 2 * n_inter >= sa.n_sh
    )
    SELECT doc_a, doc_b, n_a, n_inter,
           CAST((2 * 100 * n_inter + n_a) // (2 * n_a) AS BIGINT) AS containment_pct
    FROM (SELECT *, row_number() OVER (
            PARTITION BY doc_a ORDER BY n_inter DESC, doc_b) AS rn
          FROM cand)
    WHERE rn = 1
    """,
    doc="Asymmetric CONTAINMENT dedup (Broder's containment coefficient "
    "|A∩B| / |A|): catches a document that is mostly a SUBSET of a longer "
    "one — the quote/boilerplate/version-bump case symmetric Jaccard "
    "misses, since a small doc inside a huge one has near-zero Jaccard "
    "but containment ~1.  Word-5-gram distinct shingle sets, md5 "
    "fingerprints, inverted-index self-join (same scale shape as the "
    "Jaccard ground truth), with a df<=100 stop-shingle cap so hub "
    "shingles cannot produce a quadratic candidate blow-up at scale "
    "(standard practice: ubiquitous shingles carry no dedup signal).  "
    "Per contained doc, the best container = max overlap (ties to "
    "smallest doc_id); threshold containment >= 50%.  Integer outputs "
    "throughout (ratio as exact rounded percent).",
)
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r17: load_spread + explode_OUTER — the 5-gram md5 build otherwise
    # runs on the single-row-group scan's ONE task, and a plain explode's
    # Catalyst-inferred size>0 filter would push below the spread exchange
    # and re-run the whole gram build there (the r16 minhash trap, guide
    # §4.4).  outer == inner here: length(text) > 0 makes grams a >= 1
    # element array (the greatest(...,1) index guard).
    d = load_spread(spark, sf_dir, "documents", "doc_id").filter(
        F.length("text") > 0
    )
    toks = F.split(F.lower("text"), " ")
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.greatest(F.size(toks) - 4, F.lit(1))),
            lambda i: F.md5(F.array_join(F.slice(toks, i, 5), " ").cast("binary")),
        )
    )
    sh = d.select("doc_id", F.explode_outer(grams).alias("s"))
    sz = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    freq = sh.groupBy("s").agg(F.count(F.lit(1)).alias("df")).filter(F.col("df") <= 100)
    # the df-capped posting list feeds both sides of the pair join
    idx = sh.join(freq.select("s"), "s")
    a, b = idx.alias("a"), idx.alias("b")
    inter = (
        a.join(b, (F.col("a.s") == F.col("b.s")) & (F.col("a.doc_id") != F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    cand = (
        inter.join(sz.withColumnsRenamed({"doc_id": "doc_a", "n_sh": "n_a"}), "doc_a")
        .join(sz.withColumnsRenamed({"doc_id": "doc_b", "n_sh": "n_b"}), "doc_b")
        .filter((F.col("n_b") >= F.col("n_a")) & (2 * F.col("n_inter") >= F.col("n_a")))
    )
    w = W.partitionBy("doc_a").orderBy(F.col("n_inter").desc(), "doc_b")
    pct = F.expr("(2 * 100 * n_inter + n_a) div (2 * n_a)").cast("bigint")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_a", "doc_b", "n_a", "n_inter", pct.alias("containment_pct"))
    )


def _semdedup_oracle() -> str:
    from .similarity import _kmeans_cte_prefix

    parts = _kmeans_cte_prefix(k=16, iters=3, dim=64)
    parts.append(
        "pairs AS (SELECT a.cell, a.vec_id AS vec_a, b.vec_id AS vec_b,"
        " CAST(floor(list_cosine_similarity(va.v, vb.v)*1e6+0.5) AS BIGINT) AS cos_fp"
        " FROM af a JOIN af b ON a.cell = b.cell AND a.vec_id < b.vec_id"
        " JOIN v va ON va.vec_id = a.vec_id"
        " JOIN v vb ON vb.vec_id = b.vec_id)"
    )
    parts.append(
        "SELECT vec_b AS vec_id, cell, CAST(min(vec_a) AS BIGINT) AS dup_of,"
        " CAST(max(cos_fp) AS BIGINT) AS best_cos_fp"
        " FROM pairs WHERE cos_fp >= 400000 GROUP BY vec_b, cell"
    )
    return "\n".join(parts)


@register(
    "dedup_semdedup",
    oracle=_semdedup_oracle(),
    doc="SemDeDup (Abbas et al. 2023, 'SemDeDup: Data-efficient learning "
    "at web-scale through semantic deduplication'): cluster the embedding "
    "space with k-means (the shared quantized Lloyd trainer of "
    "ann_ivf_kmeans_topk), then search for near-duplicate pairs ONLY "
    "within each cluster — the clustering bounds the quadratic pairwise "
    "work to cell-sized blocks, which is the whole trick that makes "
    "semantic dedup feasible on billions of embeddings (k grows with N, "
    "cells stay bounded).  A vector is a duplicate when it has cosine >= "
    "0.4 with any LOWER-id vector in its cell (greedy keep-first, fully "
    "deterministic); output reports each duplicate's keeper (min such "
    "partner) and best similarity.  Training decisions are micro-"
    "quantized, so the EXACT oracle replays the 3 Lloyd rounds as "
    "unrolled CTEs and the within-cell sweep as one equi-join on the "
    "cell id.  Scale shape: one shuffle on cell for the pair join; "
    "within-cell GEMM batches via the pandas_udf assign path.",
)
def dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .similarity import cosine, kmeans_train, nonzero

    # zero-norm vectors excluded (similarity.nonzero() contract): k-means
    # init cannot unit-normalize them and their cell cosine is undefined
    e = nonzero(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    cent, assigned = kmeans_train(e, k=16, iters=3)
    if cent is None:
        # empty corpus: nothing to cluster, no duplicates
        return spark.createDataFrame(
            [], "vec_id long, cell int, dup_of long, best_cos_fp bigint"
        )
    a = assigned.select(
        F.col("cell"), F.col("vec_id").alias("vec_a"), F.col("v").alias("va")
    )
    b = assigned.select(
        F.col("cell"), F.col("vec_id").alias("vec_b"), F.col("v").alias("vb")
    )
    pairs = a.join(b, ["cell"]).filter(F.col("vec_a") < F.col("vec_b"))
    cos_fp = F.floor(cosine(F.col("va"), F.col("vb")) * 1e6 + 0.5).cast("bigint")
    scored = pairs.select("cell", "vec_a", "vec_b", cos_fp.alias("cos_fp")).filter(
        F.col("cos_fp") >= 400000
    )
    return scored.groupBy(F.col("vec_b").alias("vec_id"), "cell").agg(
        F.min("vec_a").alias("dup_of"), F.max("cos_fp").alias("best_cos_fp")
    )


@register(
    "dedup_signal_agreement",
    oracle=f"""
    WITH {_DUCK_JACPAIRS},
    lex AS (
      SELECT doc_a AS a, doc_b AS b FROM jacpairs WHERE jaccard >= 0.65
    ),
    emb AS (
      SELECT x.vec_id AS a, y.vec_id AS b
      FROM embeddings x JOIN embeddings y ON x.vec_id < y.vec_id
      WHERE x.embedding IS NOT NULL AND y.embedding IS NOT NULL
        AND round(list_cosine_similarity(CAST(x.embedding AS DOUBLE[]),
                                         CAST(y.embedding AS DOUBLE[])), 6) >= 0.4
    ),
    u AS (
      SELECT coalesce(l.a, e.a) AS a, coalesce(l.b, e.b) AS b,
             l.a IS NOT NULL AS lexical, e.a IS NOT NULL AS semantic
      FROM lex l FULL OUTER JOIN emb e ON e.a = l.a AND e.b = l.b
    )
    SELECT lexical, semantic, CAST(count(*) AS BIGINT) AS n_pairs
    FROM u GROUP BY lexical, semantic
    """,
    doc="Dedup-signal AGREEMENT analysis — the validation step before "
    "trusting any single near-dup detector: candidate pairs flagged by "
    "the LEXICAL signal (char-3-gram Jaccard >= 0.65, "
    "dedup_ngram_jaccard) are cross-tabulated against pairs flagged by "
    "the SEMANTIC signal (embedding cosine >= 0.4, "
    "dedup_embedding_cosine; vec_id == doc_id in the fixture), via a "
    "full outer join on the pair key.  lexical-only pairs are "
    "surface-level dups (templates/boilerplate), semantic-only pairs "
    "are paraphrases lexical dedup misses — the quadrant sizes are "
    "exactly what decides whether a corpus needs SemDeDup on top of "
    "MinHash (Abbas et al.'s motivating measurement).  Both signal "
    "plans are the documented candidate-limited shapes; the agreement "
    "join keys on (a, b) pairs — tiny.",
)
def dedup_signal_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    lex = dedup_ngram_jaccard(spark, sf_dir).filter(F.col("jaccard") >= 0.65).select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"), F.lit(True).alias("lex")
    )
    emb = dedup_embedding_cosine(spark, sf_dir).select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b"), F.lit(True).alias("sem")
    )
    u = lex.join(emb, ["a", "b"], "full_outer").select(
        F.col("lex").isNotNull().alias("lexical"),
        F.col("sem").isNotNull().alias("semantic"),
    )
    return u.groupBy("lexical", "semantic").agg(F.count(F.lit(1)).alias("n_pairs"))


@register(
    "dedup_url_canonical",
    oracle=r"""
    WITH raw AS (
      SELECT doc_id, doc_id // 4 AS base,
             CASE doc_id % 4
               WHEN 0 THEN 'https://s' || CAST(doc_id // 4 % 7 AS VARCHAR)
                 || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
                 || '?id=' || CAST(doc_id // 4 AS VARCHAR) || '&p=1'
               WHEN 1 THEN 'HTTPS://S' || CAST(doc_id // 4 % 7 AS VARCHAR)
                 || '.EXAMPLE.COM:443/page/' || CAST(doc_id // 4 AS VARCHAR)
                 || '?id=' || CAST(doc_id // 4 AS VARCHAR) || '&p=1'
               WHEN 2 THEN 'https://s' || CAST(doc_id // 4 % 7 AS VARCHAR)
                 || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
                 || '?p=1&utm_source=news&id=' || CAST(doc_id // 4 AS VARCHAR)
               ELSE 'https://s' || CAST(doc_id // 4 % 7 AS VARCHAR)
                 || '.example.com/page/' || CAST(doc_id // 4 AS VARCHAR)
                 || '?utm_campaign=x&id=' || CAST(doc_id // 4 AS VARCHAR)
                 || '&p=1#sec2'
             END AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id, regexp_replace(url, '#.*$', '') AS nofrag FROM raw
    ),
    canon AS (
      SELECT doc_id,
             lower(regexp_extract(nofrag, '^([A-Za-z]+)://', 1)) || '://'
             || regexp_replace(
                  lower(regexp_extract(nofrag, '^[A-Za-z]+://([^/?]+)', 1)),
                  ':443$', '')
             || regexp_extract(nofrag, '^[A-Za-z]+://[^/?]+([^?]*)', 1)
             || CASE WHEN cq <> '' THEN '?' || cq ELSE '' END AS canonical_url
      FROM (
        SELECT doc_id, nofrag,
               array_to_string(
                 list_sort(list_filter(
                   string_split(regexp_extract(nofrag, '\?(.*)$', 1), '&'),
                   x -> x <> '' AND NOT starts_with(x, 'utm_'))),
                 '&') AS cq
        FROM parts
      )
    )
    SELECT canonical_url,
           CAST(count(*) AS BIGINT) AS n_variants,
           min(doc_id)              AS keeper
    FROM canon
    GROUP BY canonical_url
    """,
    doc="URL-CANONICALIZATION DEDUP — the first dedup pass of any web "
    "corpus: the same page arrives under scheme/host case variants, "
    "explicit default ports, tracking parameters, shuffled query order, "
    "and fragments.  Canonicalize (lowercase scheme+host, strip :443, "
    "drop the fragment, remove utm_* params, SORT the surviving query "
    "params) and group — here four synthetic variants per page collapse "
    "to one canonical URL with keeper = min(doc_id).  The pipeline is "
    "pure narrow string expressions (regexp component extraction + "
    "filter/array_sort/concat_ws higher-order array ops — all "
    "whole-stage-codegen JVM, no UDF), then the canonical dedup shape: "
    "ONE exchange keyed on the canonical-URL digest-equivalent.  The "
    "oracle replays the identical canonicalization with DuckDB's "
    "regexes and list lambdas, so a divergence in any normalization "
    "rule (port regex, param filter, sort order, fragment strip) splits "
    "a cluster and flips the hash.  At 100 TB this runs at scan speed "
    "before the heavier content dedups (exact digest -> MinHash).",
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load(spark, sf_dir, "documents").select("doc_id")
    base = (F.col("doc_id") / 4).cast("bigint")
    bs = base.cast("string")
    host_l = F.concat(F.lit("s"), (base % 7).cast("string"), F.lit(".example.com"))
    host_u = F.upper(host_l)
    variant = F.col("doc_id") % 4
    url = (
        F.when(
            variant == 0,
            F.concat(F.lit("https://"), host_l, F.lit("/page/"), bs,
                     F.lit("?id="), bs, F.lit("&p=1")),
        )
        .when(
            variant == 1,
            F.concat(F.lit("HTTPS://"), host_u, F.lit(":443/page/"), bs,
                     F.lit("?id="), bs, F.lit("&p=1")),
        )
        .when(
            variant == 2,
            F.concat(F.lit("https://"), host_l, F.lit("/page/"), bs,
                     F.lit("?p=1&utm_source=news&id="), bs),
        )
        .otherwise(
            F.concat(F.lit("https://"), host_l, F.lit("/page/"), bs,
                     F.lit("?utm_campaign=x&id="), bs, F.lit("&p=1#sec2")),
        )
    )
    raw = d.select("doc_id", url.alias("url"))
    nofrag = F.regexp_replace(F.col("url"), r"#.*$", "")
    parts = raw.select("doc_id", nofrag.alias("nofrag"))
    query = F.regexp_extract(F.col("nofrag"), r"\?(.*)$", 1)
    cq = F.array_join(
        F.array_sort(
            F.filter(
                F.split(query, "&"),
                lambda x: (x != "") & ~x.startswith("utm_"),
            )
        ),
        "&",
    )
    scheme = F.lower(F.regexp_extract(F.col("nofrag"), r"^([A-Za-z]+)://", 1))
    host = F.regexp_replace(
        F.lower(F.regexp_extract(F.col("nofrag"), r"^[A-Za-z]+://([^/?]+)", 1)),
        r":443$",
        "",
    )
    path = F.regexp_extract(F.col("nofrag"), r"^[A-Za-z]+://[^/?]+([^?]*)", 1)
    canonical = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(cq != "", F.concat(F.lit("?"), cq)).otherwise(F.lit("")),
    )
    return (
        parts.select("doc_id", canonical.alias("canonical_url"))
        .groupBy("canonical_url")
        .agg(F.count(F.lit(1)).alias("n_variants"), F.min("doc_id").alias("keeper"))
    )
