"""Similarity search over ``embeddings``: brute-force cosine top-k (baseline)
and anchor-bucketed LSH (the scale path).

North-star extension surface (BASELINE.json).  Scale design:

- **brute force** is exact and embarrassingly parallel when the query set is
  small: broadcast the queries, one pass over the corpus, per-query top-k via
  window — corpus is never shuffled except by the final (tiny) top-k.
- **anchor LSH** (random-hyperplane LSH with data-derived planes): each
  vector gets a compact sign-bit signature from dot products against a small
  broadcast anchor set; candidates share a signature bucket, exact cosine
  is computed only inside buckets.  At 100 TB the bucket join shuffles
  (bucket, id) pairs instead of the full vector set, and anchors (or IVF
  centroids trained offline) stay broadcast.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type-hint resolution needs it
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


def blocked_pairwise_cosine(
    e: DataFrame, n_blocks: int, threshold: float, round_to: int = 6
) -> DataFrame:
    """All-pairs cosine ≥ threshold via block-matrix multiplication.

    Vectors are hashed into ``n_blocks`` blocks; each of the B(B+1)/2 block
    pairs becomes one ``applyInPandas`` group computing a dense GEMM
    (ka×d)·(d×kb) in numpy — thousands of pairs per BLAS call instead of one
    interpreted fold per pair.  Each unordered vector pair lands in exactly
    one block pair (emitted as vec_a < vec_b).

    Scale: shuffle volume is corpus × 2·(B+1)/... ≈ each vector replicated
    B+1 times; block size is chosen so a block pair's two matrices fit in
    executor memory.  At 100 TB you put LSH/IVF pruning in front; this is
    the dense kernel that runs inside each pruned bucket.
    """
    import pandas as pd

    e = e.select("vec_id", "v")

    side_a = e.select(
        F.col("vec_id").alias("id"), F.col("v").alias("vec"),
        F.pmod("vec_id", F.lit(n_blocks)).alias("ba"), F.lit("a").alias("role"),
    )
    side_b = e.select(
        F.col("vec_id").alias("id"), F.col("v").alias("vec"),
        F.pmod("vec_id", F.lit(n_blocks)).alias("bb"), F.lit("b").alias("role"),
    )
    # replicate each row to every block-pair it participates in
    block_ids = list(range(n_blocks))
    a_rep = side_a.crossJoin(
        F.broadcast(side_a.sparkSession.createDataFrame([(b,) for b in block_ids], "bb int"))
    ).filter(F.col("ba") <= F.col("bb"))
    b_rep = side_b.crossJoin(
        F.broadcast(side_b.sparkSession.createDataFrame([(b,) for b in block_ids], "ba int"))
    ).filter(F.col("ba") <= F.col("bb"))
    stacked = a_rep.select("ba", "bb", "role", "id", "vec").unionByName(
        b_rep.select("ba", "bb", "role", "id", "vec")
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        same = pdf["ba"].iat[0] == pdf["bb"].iat[0]
        if same:
            sub = pdf[pdf["role"] == "a"]
            ids_a = ids_b = sub["id"].to_numpy()
            mat_a = mat_b = np.stack(sub["vec"].to_numpy())
        else:
            pa = pdf[pdf["role"] == "a"]
            pb = pdf[pdf["role"] == "b"]
            if pa.empty or pb.empty:
                return pd.DataFrame({"vec_a": [], "vec_b": [], "cosine": []}).astype(
                    {"vec_a": "int64", "vec_b": "int64", "cosine": "float64"}
                )
            ids_a, ids_b = pa["id"].to_numpy(), pb["id"].to_numpy()
            mat_a, mat_b = np.stack(pa["vec"].to_numpy()), np.stack(pb["vec"].to_numpy())
        na = np.linalg.norm(mat_a, axis=1)
        nb = np.linalg.norm(mat_b, axis=1)
        # raw-threshold superset + round-selected-only, exactly as in
        # broadcast_pairwise_cosine.gen (same lossless-superset argument,
        # same single np.outer denominator so rounded values are unchanged)
        raw = (mat_a @ mat_b.T) / np.outer(na, nb)
        ii, jj = np.where(raw >= threshold - 10.0 ** -round_to)
        cos_sel = np.round(raw[ii, jj], round_to)
        keep = cos_sel >= threshold
        if same:
            keep &= ids_a[ii] < ids_b[jj]
        ii, jj, cos_sel = ii[keep], jj[keep], cos_sel[keep]
        va, vb = ids_a[ii], ids_b[jj]
        lo, hi = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": lo, "vec_b": hi, "cosine": cos_sel})

    return stacked.groupBy("ba", "bb").applyInPandas(
        kernel, schema="vec_a long, vec_b long, cosine double"
    )


def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product (matches DuckDB's list accumulation order
    bit-for-bit, so rounded oracle comparisons are exact)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda s, x: s + x)


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda s, x: s + x))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


# Cosine similarity is undefined on zero-norm vectors (0/0), and every
# engine picks a different convention: DuckDB's list_cosine_similarity pins
# it to -1.0, Spark's fold division yields NULL, numpy yields NaN.  Operators
# that RANK raw cosine therefore exclude zero-norm vectors at ingest — the
# FAISS-style contract (filter before indexing); a zero embedding is a
# pipeline defect upstream, not a rankable point.  THRESHOLD operators need
# no filter: an undefined similarity fails every positive threshold under
# all three conventions, so they drop such pairs symmetrically already.
def _nonzero_sql(col: str = "embedding", id_col: str = "vec_id") -> str:
    """The DuckDB-side spelling of the nonzero() contract above — every
    oracle that states it interpolates THIS string, so impl and oracle
    cannot drift (ADVICE r12: a named constant nobody referenced).

    Also states the ID contract (round 13, null-KEYS tier): a vector with
    NULL ``vec_id`` has no identity — it can be neither indexed nor
    returned as a neighbor, so rankable corpora exclude it.  SQL equi-
    and theta-joins on the id drop NULLs implicitly; the Python kernels
    (numpy ``!=`` masks keep NaN ids) and collected-id sorts do not, so
    both sides exclude EXPLICITLY at ingest."""
    return f"{id_col} IS NOT NULL AND len(list_filter({col}, x -> x <> 0)) > 0"


def nonzero(e: DataFrame) -> DataFrame:
    """Drop zero-norm vectors AND NULL-id rows from a (vec_id, v) corpus
    (see the contract notes above)."""
    return e.filter(F.col("vec_id").isNotNull() & F.exists("v", lambda x: x != 0))


def ranked_topk(
    df: DataFrame,
    k: int,
    rank_name: str,
    score: str = "approx_d2_x1e6",
    descending: bool = False,
) -> DataFrame:
    """Per-query top-k over (query_id, neighbor_id, ``score``): ranked by
    ascending distance (the default) or ``descending`` similarity, ties to
    the lowest neighbor_id.  The one rank window of every ANN query.

    A single row_number window + rank filter is ALREADY map-side bounded
    in Spark 4: the WindowGroupLimit rule plants a Partial group-limit
    BELOW the exchange, so each map task ships at most k rows per query
    and the per-query reducer sees k*parts rows, never the full candidate
    set (verified on this build; tests/test_round15.py pins the
    Partial-below-Exchange shape for every PQ rank window).  A round-15
    experiment with manual salt-bucket two-level ranking was REMOVED for
    exactly this reason: it bought the same bound at the price of one
    extra full shuffle.  VERDICT r14 item 2 splits in two — the
    declarative half is native (this helper + the plan pin); the
    Arrow-kernel half, whose pair stream Spark cannot see into, emits its
    own batch-local top-k inside _pq_build_kernel so the 10xN pairs never
    cross the Python->JVM boundary at all.
    """
    order = F.col(score).desc() if descending else F.col(score)
    w_rank = W.partitionBy("query_id").orderBy(order, "neighbor_id")
    return df.withColumn(rank_name, F.row_number().over(w_rank)).filter(
        F.col(rank_name) <= k
    )


_TOPK_SCHEMA = "query_id long, neighbor_id long, cosine double, rnk int"


def _unit_rows(m):
    """``m`` with every row divided by its L2 norm."""
    import numpy as np

    return m / np.linalg.norm(m, axis=1, keepdims=True)


def broadcast_query_topk(
    e: DataFrame, k: int, score: str, rank_name: str, dims: int | None = None
) -> tuple[list, DataFrame]:
    """Exact cosine top-k of the query vectors (vec_id < 10) against the
    corpus ``e`` (vec_id, v), over the first ``dims`` components (all when
    None).

    The queries are collected once and broadcast; each corpus Arrow batch
    is one numpy GEMM plus a batch-local top-k (round(cos, 6) DESC,
    neighbor_id ASC) inside mapInPandas, so the corpus is scanned once and
    never shuffled.  The global top-k is a subset of the union of the
    batch-local ones under the same order, so ``ranked_topk`` finishes it
    over nparts x 10 x k rows.  Returns the sorted (vec_id, v) query rows
    and the ranked (query_id, neighbor_id, ``score``, ``rank_name``)
    frame, which is empty when there are no queries.
    """
    import numpy as np

    spark = e.sparkSession
    qrows = sorted(
        (r["vec_id"], r["v"]) for r in e.filter(F.col("vec_id") < 10).collect()
    )
    if not qrows:
        return qrows, spark.createDataFrame(
            [], f"query_id long, neighbor_id long, {score} double, {rank_name} int"
        )
    q_ids = np.array([i for i, _ in qrows], dtype=np.int64)
    q_mat = np.stack([np.asarray(v) for _, v in qrows])[:, :dims]
    q_norm = np.linalg.norm(q_mat, axis=1)
    bc = spark.sparkContext.broadcast((q_ids, q_mat, q_norm))

    def part_topk(batches):
        ids_q, mat_q, norm_q = bc.value
        for pdf in batches:
            if pdf.empty:
                continue
            c_ids = pdf["vec_id"].to_numpy()
            c_mat = np.stack(pdf["v"].to_numpy())[:, :dims]
            c_norm = np.linalg.norm(c_mat, axis=1)
            cos = np.round(mat_q @ c_mat.T / np.outer(norm_q, c_norm), 6)
            out_q, out_n, out_c = [], [], []
            for qi in range(len(ids_q)):
                mask = c_ids != ids_q[qi]
                cand_ids, cand_cos = c_ids[mask], cos[qi][mask]
                order = np.lexsort((cand_ids, -cand_cos))[:k]
                out_q.extend([ids_q[qi]] * len(order))
                out_n.extend(cand_ids[order])
                out_c.extend(cand_cos[order])
            yield pd.DataFrame({"query_id": out_q, "neighbor_id": out_n, score: out_c})

    local = e.mapInPandas(
        part_topk, schema=f"query_id long, neighbor_id long, {score} double"
    )
    return qrows, ranked_topk(local, k, rank_name, score, descending=True)


def assign_cells(e: DataFrame, cent_unit) -> DataFrame:
    """``e`` (vec_id, v) plus ``cell``: the row index of the nearest
    centroid in the unit-normalised ``cent_unit`` by micro-quantized
    cosine (floor(cos*1e6+0.5), ties to the lowest index).  One broadcast
    and one pandas_udf GEMM pass, no shuffle.

    Bit parity: callers pass the same unit matrix they probe with
    (``ivf_probe_topk``), so every quantized decision sees identical
    doubles."""
    import numpy as np

    bc = e.sparkSession.sparkContext.broadcast(cent_unit)

    @F.pandas_udf("int")
    def nearest_cell(vs: pd.Series) -> pd.Series:
        cm = np.floor(_unit_rows(np.stack(vs.to_numpy())) @ bc.value.T * 1e6 + 0.5)
        return pd.Series(np.argmax(cm, axis=1).astype("int32"))

    return e.withColumn("cell", nearest_cell("v"))


def ivf_probe_topk(assigned: DataFrame, cent_unit, n_probe: int, k: int) -> DataFrame:
    """IVF probe search over a cell-assigned corpus (vec_id, v, cell): each
    query (vec_id < 10) probes its ``n_probe`` nearest cells by the same
    micro-quantized cosine as ``assign_cells``, exact-scores only the
    vectors in those cells and keeps its top-k by round(cos, 6)."""
    import numpy as np

    spark = assigned.sparkSession
    queries_df = assigned.filter(F.col("vec_id") < 10).collect()
    if not queries_df:
        return spark.createDataFrame([], _TOPK_SCHEMA)
    q_ids = np.array([r["vec_id"] for r in queries_df])
    q_mat = np.stack([np.asarray(r["v"]) for r in queries_df])
    q_cm = np.floor(_unit_rows(q_mat) @ cent_unit.T * 1e6 + 0.5)
    # stable sort: equal-cm ties resolve to the lowest cell id, matching
    # the oracles' ORDER BY cm DESC, cell
    probe_cells = np.argsort(-q_cm, axis=1, kind="stable")[:, :n_probe]
    # (query, cell) probe list — broadcast to the cell-partitioned corpus
    probes = spark.createDataFrame(
        [
            (int(q_ids[i]), [float(x) for x in q_mat[i]], int(c))
            for i in range(len(q_ids))
            for c in probe_cells[i]
        ],
        "query_id long, qv array<double>, cell int",
    )
    cand = assigned.join(F.broadcast(probes), "cell").filter(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine"),
    )
    return ranked_topk(scored, k, "rnk", "cosine", descending=True)


def broadcast_pairwise_cosine(
    e: DataFrame, threshold: float, round_to: int = 6
) -> DataFrame:
    """All-pairs cosine >= threshold with the CORPUS BROADCAST: one map-side
    GEMM pass, zero shuffle.

    The whole (id, vector, norm) set is collected once on the driver and
    broadcast; each input partition multiplies its rows against the corpus
    matrix and emits pairs (vec_a < vec_b keeps each pair once).  Correct
    choice whenever N*d*8 bytes fits comfortably in executor memory — the
    blocked kernel's replication shuffle and B(B+1)/2 worker fan-out are pure
    overhead at that size.  Same pair semantics and 6dp rounding as
    ``blocked_pairwise_cosine``, so the two are drop-in interchangeable.
    """
    import numpy as np

    pdf = e.select("vec_id", "v").toPandas()
    if pdf.empty:
        # day-one pipeline: an empty corpus has no pairs (np.stack of zero
        # arrays would crash; the oracle's join over zero rows is empty)
        return e.sparkSession.createDataFrame(
            [], "vec_a long, vec_b long, cosine double"
        )
    ids_c = pdf["vec_id"].to_numpy()
    mat_c = np.stack(pdf["v"].to_numpy())
    norms_c = np.linalg.norm(mat_c, axis=1)
    bc = e.sparkSession.sparkContext.broadcast((ids_c, mat_c.T.copy(), norms_c))

    def gen(batches):
        ids_corpus, matT, norms = bc.value
        # r16 (guide §1.2 'per-task work'): threshold the RAW matrix first,
        # round only the surviving cells.  round(x, r) >= t implies
        # x >= t - 0.5*10^-r, so `raw >= t - 10^-r` is a strict superset of
        # the rounded decision; the exact rounded re-filter below restores
        # it bit-for-bit (output proven identical; the full-matrix
        # np.round + where over N*N cells was ~30% of the kernel wall).
        # The division keeps the single np.outer denominator so the IEEE
        # evaluation order (x / (na*nb)) — and thus every rounded value —
        # is unchanged.
        eps = 10.0 ** -round_to
        for b in batches:
            if b.empty:
                continue
            ida = b["vec_id"].to_numpy()
            mat_a = np.stack(b["v"].to_numpy())
            na = np.linalg.norm(mat_a, axis=1)
            raw = (mat_a @ matT) / np.outer(na, norms)
            ii, jj = np.where(raw >= threshold - eps)
            cos_sel = np.round(raw[ii, jj], round_to)
            keep = (cos_sel >= threshold) & (ida[ii] < ids_corpus[jj])
            yield pd.DataFrame(
                {
                    "vec_a": ida[ii][keep],
                    "vec_b": ids_corpus[jj][keep],
                    "cosine": cos_sel[keep],
                }
            )

    return e.select("vec_id", "v").mapInPandas(
        gen, schema="vec_a long, vec_b long, cosine double"
    )


def parquet_corpus_hint(sf_dir: str, table: str = "embeddings", column: str = "embedding"):
    """(rows, dim) from the parquet footer — a driver-side metadata read
    (microseconds, NO Spark job), so callers can size the cosine kernel
    without eager actions in the query path."""
    import os

    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(sf_dir, f"{table}.parquet"))
    n = pf.metadata.num_rows
    if n == 0:
        # empty corpus: no first row to read a dim from; (0, 0) routes the
        # dispatcher to the broadcast kernel, whose own empty guard returns
        # an empty pair set (day-one-pipeline contract)
        return 0, 0
    first = next(pf.iter_batches(batch_size=1, columns=[column]))
    dim = len(first.column(0)[0])
    return n, dim


def pairwise_cosine(
    e: DataFrame,
    threshold: float,
    n_blocks: int = 16,
    round_to: int = 6,
    broadcast_cap_bytes: int = 64 << 20,
    size_hint: tuple[int, int] | None = None,
) -> DataFrame:
    """Size-adaptive all-pairs cosine: broadcast kernel when the corpus fits
    under ``broadcast_cap_bytes`` (N*d*8), blocked GEMM kernel otherwise —
    the same decision AQE makes for joins, applied to the vector kernel.

    ``size_hint`` = (rows, dim).  Pass it (e.g. from
    ``parquet_corpus_hint``'s footer read) so dispatch is free; without it
    the fallback probe costs one count + one first-row job before any real
    work — fine interactively, avoid in benchmarked/hot paths.
    """
    if size_hint is not None:
        n, dim = size_hint
    else:
        n = e.count()
        dim_row = e.select(F.size("v").alias("d")).first()
        dim = int(dim_row["d"]) if dim_row and dim_row["d"] is not None else 0
    if n * dim * 8 <= broadcast_cap_bytes:
        return broadcast_pairwise_cosine(e, threshold, round_to)
    return blocked_pairwise_cosine(e, n_blocks, threshold, round_to)


@register(
    "ann_bruteforce_topk",
    oracle=f"""
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
               WHERE vec_id < 10 AND {_nonzero_sql()}),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
               WHERE {_nonzero_sql()})
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cosine,
             row_number() OVER (PARTITION BY q.vec_id
                                ORDER BY round(list_cosine_similarity(q.v, c.v), 6) DESC,
                                         c.vec_id) AS rnk
      FROM q JOIN c ON q.vec_id <> c.vec_id
    ) WHERE rnk <= 5
    """,
    doc="Brute-force cosine top-5 for 10 query vectors: queries broadcast to "
    "every partition, per-partition numpy GEMM + local top-k (mapInPandas — "
    "the corpus is scanned once and never shuffled), then a tiny global "
    "top-k reduce over nparts×10×5 candidate rows. Exact baseline for the "
    "ANN variants; the 100 TB ANN plan.  Zero-norm vectors are excluded "
    "from corpus and queries (see the nonzero() contract note).",
)
def ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = nonzero(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    return broadcast_query_topk(e, 5, "cosine", "rnk")[1]


_IVF_ORACLE = f"""
    WITH anchors AS (
      SELECT vec_id AS aid, CAST(embedding AS DOUBLE[]) AS av
      FROM embeddings
      WHERE vec_id < 16 AND {_nonzero_sql()}
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
          WHERE {_nonzero_sql()}),
    scored AS (  -- micro-quantized cosine of every vector vs every anchor
      SELECT v.vec_id, a.aid,
             CAST(floor(list_cosine_similarity(v.v, a.av) * 1e6 + 0.5) AS BIGINT) AS cm
      FROM v CROSS JOIN anchors a
    ),
    assign AS (  -- nearest cell, ties to the lowest anchor id
      SELECT vec_id, aid AS cell FROM (
        SELECT vec_id, aid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cm DESC, aid) AS rn
        FROM scored
      ) WHERE rn = 1
    ),
    qprobe AS (  -- each query probes its 4 nearest cells
      SELECT vec_id AS query_id, aid AS cell FROM (
        SELECT vec_id, aid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cm DESC, aid) AS rn
        FROM scored WHERE vec_id < 10
      ) WHERE rn <= 4
    ),
    cand AS (
      SELECT p.query_id, a2.vec_id AS neighbor_id,
             round(list_cosine_similarity(q.v, c.v), 6) AS cosine
      FROM qprobe p
      JOIN assign a2 ON a2.cell = p.cell
      JOIN v q ON q.vec_id = p.query_id
      JOIN v c ON c.vec_id = a2.vec_id
      WHERE a2.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT query_id, neighbor_id, cosine,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= 5
    """


@register(
    "ann_ivf_topk",
    oracle=_IVF_ORACLE,
    doc="IVF-style ANN: corpus vectors assigned to their nearest of 16 "
    "anchor 'centroids' (broadcast); each query probes its 4 nearest cells "
    "and exact-scores only those candidates (numpy GEMM per cell group). "
    "Cell assignment and probe ordering are micro-quantized "
    "(floor(cos*1e6+0.5), ties to lowest anchor id) so the probe set is "
    "bit-deterministic and replicated exactly by the SQL oracle. "
    "At 100 TB: centroids come from offline k-means, cells are partitions, "
    "a query touches nprobe/ncells of the corpus instead of all of it.",
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    N_CELLS, N_PROBE, K = 16, 4, 5
    e = nonzero(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    # anchors = first N_CELLS vectors (stand-in for trained centroids)
    anchors = sorted(
        (r["vec_id"], np.asarray(r["v"])) for r in e.filter(F.col("vec_id") < N_CELLS).collect()
    )
    if not anchors:
        # empty corpus: no cells, no probes, empty top-k
        return spark.createDataFrame([], _TOPK_SCHEMA)
    cent_unit = _unit_rows(np.stack([v for _, v in anchors]))
    return ivf_probe_topk(assign_cells(e, cent_unit), cent_unit, N_PROBE, K)


N_ANCHORS = 8  # 8 sign bits → 256 buckets


@register(
    "ann_anchor_lsh",
    oracle="""
    -- absent (NULL) embeddings excluded: no signature, no bucket
    -- (null-tier contract; zero vectors remain — thresholds drop them)
    WITH nz AS (SELECT vec_id, embedding FROM embeddings
                WHERE embedding IS NOT NULL),
    anchors AS (
      SELECT vec_id AS aid, CAST(embedding AS DOUBLE[]) av
      FROM nz WHERE vec_id < 8
    ),
    sigs AS (
      SELECT e.vec_id,
             CAST(sum(CASE WHEN list_dot_product(CAST(e.embedding AS DOUBLE[]), a.av) >= 0
                           THEN CAST(pow(2, a.aid) AS BIGINT) ELSE 0 END) AS BIGINT) AS sig
      FROM nz e CROSS JOIN anchors a
      GROUP BY e.vec_id
    ),
    v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM nz)
    SELECT sa.vec_id AS vec_a, sb.vec_id AS vec_b,
           round(list_cosine_similarity(a.v, b.v), 6) AS cosine
    FROM sigs sa JOIN sigs sb ON sa.sig = sb.sig AND sa.vec_id < sb.vec_id
    JOIN v a ON a.vec_id = sa.vec_id
    JOIN v b ON b.vec_id = sb.vec_id
    WHERE round(list_cosine_similarity(a.v, b.v), 6) >= 0.2
    """,
    doc="Random-hyperplane LSH with data-derived planes: 8 sign bits from "
    "dots against broadcast anchor vectors (vec_id<8) → 256 buckets; exact "
    "cosine only within buckets. The bucket join shuffles (id, signature) "
    "pairs ONLY — vectors are re-attached afterwards by id (two "
    "high-cardinality equi-joins), so the low-cardinality bucket exchange "
    "never carries the corpus. At larger corpora, scale the bit count with "
    "log2(N) (banding as in SimHash) so buckets stay skew-free.",
)
def ann_anchor_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL embeddings excluded (see the oracle's nz CTE): no signature, no
    # bucket.  Zero vectors remain — the >= 0.2 threshold drops their
    # undefined cosines under every engine convention.
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    anchors = [
        (r["vec_id"], r["v"])
        for r in e.filter(F.col("vec_id") < N_ANCHORS).collect()
    ]
    if not anchors:
        # empty corpus: no hyperplanes, no buckets, no pairs
        return spark.createDataFrame([], "vec_a long, vec_b long, cosine double")
    sig = None
    for aid, av in sorted(anchors):
        bit = F.when(dot(F.col("v"), F.array(*[F.lit(x) for x in av])) >= 0, F.lit(2**aid)).otherwise(
            F.lit(0)
        )
        sig = bit if sig is None else sig + bit
    # Bucket join on (id, sig) only: the sig key has just 2^N_ANCHORS values,
    # so anything wider than an id through that exchange is a skew hazard.
    sigs = e.select("vec_id", sig.cast("bigint").alias("sig"))
    a = sigs.select(F.col("vec_id").alias("vec_a"), F.col("sig").alias("sa"))
    b = sigs.select(F.col("vec_id").alias("vec_b"), F.col("sig").alias("sb"))
    cand = a.join(b, (F.col("sa") == F.col("sb")) & (F.col("vec_a") < F.col("vec_b"))).select(
        "vec_a", "vec_b"
    )
    # Re-attach vectors to the (pruned) candidate pairs by id.
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("v").alias("va"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("v").alias("vb"))
    cos = F.round(cosine(F.col("va"), F.col("vb")), 6)
    return (
        cand.join(va, "vec_a")
        .join(vb, "vec_b")
        .select("vec_a", "vec_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= 0.2)
    )


def kmeans_train(e: DataFrame, k: int = 16, iters: int = 3):
    """Distributed Lloyd's k-means over an embedding column (the offline
    centroid-training step the IVF docstring defers to).

    Deterministic init (first k vectors by vec_id).  Per iteration:

    - **assign**: ``assign_cells`` — broadcast the k×d centroid matrix,
      one ``pandas_udf`` argmax pass over the corpus (numpy GEMM — no
      shuffle);
    - **recompute**: ``posexplode`` the vectors to (cell, dim, val), one
      partial-aggregated shuffle of k·d running means, collect k·d doubles
      to the driver (centroids, never data rows).

    Every float that feeds a decision is MICRO-QUANTIZED
    (``floor(x*1e6+0.5)/1e6``): centroid components after each
    normalize/mean step, and the assignment cosine before the argmax
    (ties to the lowest cell id).  That makes the whole training run
    bit-replicable by an unrolled SQL oracle — distributed-summation
    order no longer leaks into any comparison — at a centroid precision
    loss (1e-6) far below any recall effect.

    Driver holds only centroids — the classic scalable k-means shape
    (Spark MLlib's KMeans does the same rounds with the same broadcast).
    Returns (unit-normalized quantized centroid ndarray, assigned DataFrame).
    """
    import numpy as np

    def unit_quant(m: "np.ndarray") -> "np.ndarray":
        return np.floor(_unit_rows(m) * 1e6 + 0.5) / 1e6

    init = sorted(
        (r["vec_id"], np.asarray(r["v"]))
        for r in e.orderBy("vec_id").limit(k).collect()
    )
    if not init:
        # empty corpus: no centroids to train, empty assignment — callers
        # map this to an empty result (day-one-pipeline contract)
        return None, e.withColumn("cell", F.lit(None).cast("int"))
    cent = unit_quant(np.stack([v for _, v in init]))

    for _ in range(iters):
        means = (
            # quantized centroids are re-normalized before the cosine
            assign_cells(e, _unit_rows(cent))
            .select("cell", F.posexplode("v").alias("dim", "val"))
            .groupBy("cell", "dim")
            .agg(F.avg("val").alias("m"))
            .collect()
        )
        new = cent.copy()  # empty cells keep their centroid
        by_cell: dict[int, dict[int, float]] = {}
        for r in means:
            by_cell.setdefault(r["cell"], {})[r["dim"]] = r["m"]
        for c, dims in by_cell.items():
            vec = np.floor(np.array([dims[i] for i in range(len(dims))]) * 1e6 + 0.5) / 1e6
            n = np.linalg.norm(vec)
            if n > 0:
                new[c] = unit_quant(vec[None, :])[0]
        cent = new
    # assignment under the FINAL centroids (one extra narrow pass)
    return cent, assign_cells(e, _unit_rows(cent))


def _kmeans_cte_prefix(k: int = 16, iters: int = 3, dim: int = 64) -> list[str]:
    """Shared unrolled-Lloyd CTE prefix (through the final assignment
    ``af``): each iteration is one assign-CTE (micro-quantized cosine
    argmax, ties to lowest cell) + one recompute-CTE (per-dim mean →
    micro-quant → normalize → micro-quant; empty cells keep the previous
    centroid), replicating ``kmeans_train`` decision-for-decision.  Used
    by the ``ann_ivf_kmeans_topk`` and ``dedup_semdedup`` oracles."""
    parts = [
        # zero-norm vectors excluded (nonzero() contract): they cannot be
        # unit-normalized for init and their assignment cosine is undefined
        "WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"
        f" WHERE {_nonzero_sql()}),",
        f"dims AS (SELECT CAST(range AS INT) + 1 AS dim FROM range({dim})),",
        # init: unit-normalize the first k vectors BY ORDER (kmeans_train's
        # orderBy(vec_id).limit(k) — not a literal id cut, which diverges on
        # gapped/filtered id domains), micro-quantize.  cell ids are ranks
        # 0..k-1 to match the trainer's row indices.
        "c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,"
        " list_transform(v, x -> floor(x / sqrt(list_dot_product(v, v)) * 1e6 + 0.5)/1e6) AS c"
        f" FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k})),",
    ]
    for i in range(1, iters + 1):
        prev = f"c{i-1}"
        parts.append(
            f"a{i} AS (SELECT vec_id, cell FROM ("
            f" SELECT v.vec_id, c.cell,"
            f" row_number() OVER (PARTITION BY v.vec_id ORDER BY"
            f" floor(list_cosine_similarity(v.v, c.c)*1e6+0.5) DESC, c.cell) AS rn"
            f" FROM v CROSS JOIN {prev} c) WHERE rn = 1),"
        )
        parts.append(
            f"m{i} AS (SELECT a.cell, d.dim, floor(avg(v.v[d.dim])*1e6+0.5)/1e6 AS mq"
            f" FROM a{i} a JOIN v USING (vec_id) CROSS JOIN dims d"
            f" GROUP BY a.cell, d.dim),"
        )
        parts.append(
            f"n{i} AS (SELECT cell, list(mq ORDER BY dim) AS mv FROM m{i} GROUP BY cell),"
        )
        parts.append(
            # mv IS NULL = empty cell; zero dot = all-zero quantized mean —
            # both keep the previous centroid, mirroring kmeans_train's
            # 'if n > 0' norm guard
            f"c{i} AS (SELECT p.cell, CASE WHEN n.mv IS NULL"
            f" OR list_dot_product(n.mv, n.mv) = 0 THEN p.c ELSE"
            f" list_transform(n.mv, x -> floor(x / sqrt(list_dot_product(n.mv, n.mv)) * 1e6 + 0.5)/1e6)"
            f" END AS c FROM {prev} p LEFT JOIN n{i} n USING (cell)),"
        )
    final = f"c{iters}"
    parts.append(
        f"af AS (SELECT vec_id, cell FROM ("
        f" SELECT v.vec_id, c.cell,"
        f" row_number() OVER (PARTITION BY v.vec_id ORDER BY"
        f" floor(list_cosine_similarity(v.v, c.c)*1e6+0.5) DESC, c.cell) AS rn"
        f" FROM v CROSS JOIN {final} c) WHERE rn = 1),"
    )
    return parts


def _ivf_kmeans_oracle(k: int = 16, iters: int = 3, dim: int = 64) -> str:
    """Probe-search oracle of ``ann_ivf_kmeans_topk`` over the shared
    unrolled-Lloyd prefix."""
    final = f"c{iters}"
    parts = _kmeans_cte_prefix(k, iters, dim)
    parts.append(
        f"qprobe AS (SELECT vec_id AS query_id, cell FROM ("
        f" SELECT v.vec_id, c.cell,"
        f" row_number() OVER (PARTITION BY v.vec_id ORDER BY"
        f" floor(list_cosine_similarity(v.v, c.c)*1e6+0.5) DESC, c.cell) AS rn"
        f" FROM v CROSS JOIN {final} c WHERE v.vec_id < 10) WHERE rn <= 4),"
    )
    parts.append(
        "cand AS (SELECT p.query_id, a2.vec_id AS neighbor_id,"
        " round(list_cosine_similarity(q.v, c.v), 6) AS cosine"
        " FROM qprobe p JOIN af a2 ON a2.cell = p.cell"
        " JOIN v q ON q.vec_id = p.query_id"
        " JOIN v c ON c.vec_id = a2.vec_id"
        " WHERE a2.vec_id <> p.query_id)"
    )
    parts.append(
        "SELECT query_id, neighbor_id, cosine, rnk FROM ("
        " SELECT query_id, neighbor_id, cosine,"
        " row_number() OVER (PARTITION BY query_id"
        " ORDER BY cosine DESC, neighbor_id) AS rnk"
        " FROM cand) WHERE rnk <= 5"
    )
    return "\n".join(parts)


@register(
    "ann_ivf_kmeans_topk",
    oracle=_ivf_kmeans_oracle(),
    doc="IVF with TRAINED centroids: 3 distributed Lloyd's iterations "
    "(kmeans_train — broadcast-centroid argmin assignment + partial-agg "
    "mean recompute, driver sees only k*d doubles per round), then the "
    "probe search of ann_ivf_topk over the learned cells (4 of 16 probed). "
    "Training is micro-quantized at every decision point, so the EXACT "
    "oracle replays all 3 Lloyd rounds as unrolled SQL CTEs "
    "(_ivf_kmeans_oracle). Balanced trained cells beat the "
    "arbitrary-anchor cells: fewer empty cells, tighter candidate sets at "
    "equal recall.",
)
def ann_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    N_CELLS, N_PROBE, K = 16, 4, 5
    e = nonzero(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    cent, assigned = kmeans_train(e, k=N_CELLS, iters=3)
    if cent is None:
        # empty corpus: kmeans_train returned no centroids
        return spark.createDataFrame([], _TOPK_SCHEMA)
    return ivf_probe_topk(assigned, _unit_rows(cent), N_PROBE, K)


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH v AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
      SELECT vec_id, v,
             list_max(list_transform(v, x -> abs(x))) AS scale
      FROM v
    )
    SELECT vec_id,
           CAST(floor(scale * 1e6 + 0.5) AS BIGINT) AS scale_micro,
           CASE WHEN scale > 0 THEN array_to_string(list_transform(v,
                 x -> CAST(CAST(floor(x / scale * 127 + 0.5) AS INT) AS VARCHAR)), ',')
           END AS q,
           CASE WHEN scale > 0 THEN CAST(floor(list_max(list_transform(v,
                 x -> abs(x - floor(x / scale * 127 + 0.5) * scale / 127)))
                 * 1e6 + 0.5) AS BIGINT)
           END AS err_micro
    FROM s
    """,
    doc="Int8 embedding quantization (max-abs per-vector scaling): q_i = "
    "round(x_i/scale*127), plus the reconstruction-error audit column — the "
    "4x storage/bandwidth compression step before an ANN index is shipped.  "
    "All rounding is floor(y+0.5) and the float outputs are reported as "
    "integer microunits on BOTH sides (identical doubles -> identical "
    "floor), avoiding the Spark-HALF_UP vs DuckDB-exact-binary round() "
    "divergence on .5 boundaries.  The int8 vector is serialized as a "
    "comma-joined string on both sides: the driver comparator canonicalizes "
    "via pandas sort_values, which cannot hash ndarray cells — scalar "
    "columns keep the query gate-compatible.  A zero vector cannot be "
    "max-abs quantized (scale 0): q and err_micro are NULL by explicit "
    "CASE on both sides, not by engine-accidental x/0 behavior.  Narrow "
    "per-row transform, zero shuffle.",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    scale = F.array_max(F.transform("v", lambda x: F.abs(x)))
    s = e.withColumn("scale", scale)
    quant = F.transform("v", lambda x: F.floor(x / F.col("scale") * 127 + 0.5).cast("int"))
    err = F.array_max(
        F.transform(
            "v",
            lambda x: F.abs(
                x - F.floor(x / F.col("scale") * 127 + 0.5) * F.col("scale") / 127
            ),
        )
    )
    # zero vector (scale 0) is unquantizable: q/err_micro NULL by explicit
    # CASE, mirroring the oracle (not engine-accidental division-by-zero)
    ok = F.col("scale") > 0
    return s.select(
        "vec_id",
        F.floor(F.col("scale") * 1e6 + 0.5).alias("scale_micro"),
        F.when(ok, F.array_join(quant.cast("array<string>"), ",")).alias("q"),
        F.when(ok, F.floor(err * 1e6 + 0.5)).alias("err_micro"),
    )


_PQ_M, _PQ_SUB, _PQ_K, _PQ_TOPK = 4, 16, 16, 5

_PQ_CTES = f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    subs AS (
      SELECT vec_id, m.m,
             v[m.m * {_PQ_SUB} + 1 : m.m * {_PQ_SUB} + {_PQ_SUB}] AS sub
      FROM v CROSS JOIN (VALUES (0), (1), (2), (3)) m(m)
    ),
    cb AS (  -- codebook: subvectors of the first {_PQ_K} corpus vectors
      SELECT m, vec_id AS j, sub AS cw FROM subs WHERE vec_id < {_PQ_K}
    ),
    d2 AS (  -- micro-quantized squared L2 of every subvector vs every codeword
      SELECT s.vec_id, s.m, c.j,
             CAST(floor((list_inner_product(s.sub, s.sub)
                         - 2 * list_inner_product(s.sub, c.cw)
                         + list_inner_product(c.cw, c.cw)) * 1e6 + 0.5)
                  AS BIGINT) AS q
      FROM subs s JOIN cb c ON c.m = s.m
    ),
    enc AS (  -- PQ code: nearest codeword per subspace, ties to lowest id.
              -- q NULLS FIRST pins the argmin to Spark's ASC default (the
              -- kernel's NULL-q-wins convention); on every reachable input
              -- the branch is moot — a NULL element inside a codebook
              -- vector makes DuckDB's list_inner_product ERROR rather
              -- than yield NULL q, so the oracle can never exercise it
              -- (ADVICE r15 low #2: pinned for drift-proofing, not parity)
      SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY q NULLS FIRST, j) AS rn
        FROM d2
      ) WHERE rn = 1
    ),
    adc AS (  -- asymmetric distance: query's table entry at each code
      SELECT t.vec_id AS query_id, e.vec_id AS neighbor_id,
             CAST(sum(t.q) AS BIGINT) AS approx_d2_x1e6
      FROM d2 t
      JOIN enc e ON e.m = t.m AND e.code = t.j
      WHERE t.vec_id < 10 AND e.vec_id <> t.vec_id
      GROUP BY query_id, neighbor_id
    )
    """

_PQ_ORACLE = (
    _PQ_CTES
    + f"""
    SELECT query_id, neighbor_id, approx_d2_x1e6, rnk FROM (
      SELECT query_id, neighbor_id, approx_d2_x1e6,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_d2_x1e6, neighbor_id) AS rnk
      FROM adc
    ) WHERE rnk <= {_PQ_TOPK}
    """
)


@register(
    "ann_pq_topk",
    oracle=_PQ_ORACLE,
    doc=f"Product-quantization ANN (PQ with asymmetric distance, Jegou et "
    f"al. 2011): vectors split into {_PQ_M} x {_PQ_SUB}-dim subvectors, "
    f"each encoded as its nearest of {_PQ_K} codewords (codebook = "
    f"subvectors of the first {_PQ_K} corpus vectors, standing in for "
    f"offline-trained centroids), so a 64-dim float vector compresses to "
    f"{_PQ_M} bytes of codes.  Queries never decode: each query builds a "
    f"{_PQ_M}x{_PQ_K} distance table and a candidate's approximate "
    f"distance is {_PQ_M} TABLE LOOKUPS summed — here inside the "
    f"scan-local Arrow kernel.  Every per-subspace distance is "
    f"micro-quantized to an INTEGER (floor(d2*1e6+0.5)) before the "
    f"table/argmin, so codes, ADC sums, and ranks are all exact integer "
    f"arithmetic and the oracle replays the whole pipeline.  Squared-L2 "
    f"expanded as x.x - 2x.c + c.c with the sequential-fold dot (matches "
    f"DuckDB's list accumulation bit-for-bit).  At 100 TB: the encode is "
    f"one broadcast join + per-(vector, subspace) argmin, storage drops "
    f"64x, and query cost is O(M*K) table build + a code-column scan — "
    f"the memory-bound regime IVF alone cannot reach; IVF-PQ composes "
    f"this with ann_ivf_topk's cell routing.  Execution (round 14): the "
    f"codebook slice (vec_id < {_PQ_K}, which contains the 10 query "
    f"vectors) is ONE bounded driver collect; codewords and per-query "
    f"distance tables become literal expressions, so encode + ADC run as "
    f"a single scan-local projection over the corpus — zero joins, zero "
    f"encode shuffles; the only exchange left is the final top-k rank "
    f"window on (query, neighbor) pairs (10 rows per corpus vector).  "
    f"Previously encode/ADC were two broadcast joins + a per-(vec,m) "
    f"window: 18 scheduled jobs at sf0.1 where the data needs ~3.",
)
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _pq_topk(spark, sf_dir, _PQ_TOPK, "rnk")


def _pq_topk(spark: SparkSession, sf_dir: str, k: int, rank_name: str) -> DataFrame:
    """The one PQ ADC top-k pipeline — ``ann_pq_topk`` (k=5) and the
    coarse stage of ``ann_pq_rerank`` (``ann_pq_topk_candidates``) both
    run it: (query_id, neighbor_id, approx_d2_x1e6, ``rank_name``)."""
    # Codebook/query head via a DRIVER-SIDE pruned parquet read (the
    # parquet_corpus_hint convention, VERDICT r15 item 2): vec_id < _PQ_K
    # is a fixed 16-row slice, and reading it through pyarrow with
    # row-group-stat pruning costs ~1 ms where the previous
    # ``e.filter(vec_id < 16).collect()`` scheduled a whole Spark job —
    # the query now runs in 2 jobs (kernel scan + windowed result), not 3.
    # vec_id < k implies vec_id IS NOT NULL on every engine (NULL < k is
    # NULL), and pyarrow's compute.less gives null -> dropped, matching.
    kernel = _pq_build_kernel(_pq_head_from_parquet(sf_dir), topk=k)
    if kernel is None:
        # no codewords or no queries -> the oracle's adc CTE is empty
        return spark.createDataFrame(
            [],
            f"query_id bigint, neighbor_id bigint, approx_d2_x1e6 bigint, {rank_name} int",
        )
    # NULL-vec_id corpus rows are neither queries nor neighbors (the
    # oracle's <> / < predicates drop them); one explicit filter here.
    # The kernel already emits only the batch-local top-k per query, so
    # the rank window's input is <= 10*k rows per Arrow batch, not 10*N.
    pairs = (
        load(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .filter(F.col("vec_id").isNotNull())
        .mapInArrow(kernel, schema="query_id long, neighbor_id long, approx_d2_x1e6 long")
    )
    return ranked_topk(pairs, k, rank_name)


def _pq_head_from_parquet(sf_dir: str, k: int = _PQ_K) -> dict:
    """``{vec_id: [float|None, ...] | None}`` for ``vec_id < k`` — a
    driver-side pyarrow read with row-group-stat pruning (microseconds on
    any tier; at 100 TB the head lives in the first row group of the first
    file and min/max stats skip everything else).

    Value parity with the Spark collect it replaces
    (``e.filter(vec_id < k).collect()`` over
    ``embedding CAST array<double>``):

    - float32 -> float64 widening is exact on both paths (pyarrow
      ``to_pylist`` returns Python floats; Spark's array cast widens
      element-wise) and matches the DuckDB oracle's
      ``CAST(embedding AS DOUBLE[])``;
    - NULL vec_id rows drop on both (``NULL < k`` is NULL under 3VL;
      ``pyarrow.compute.less`` yields null -> mask-excluded);
    - NULL embeddings / NULL elements surface as ``None`` in both.
    """
    import os

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    pf = pq.ParquetFile(os.path.join(sf_dir, "embeddings.parquet"))
    head: dict = {}
    ncols = pf.schema_arrow.names
    vi = ncols.index("vec_id")
    for rg in range(pf.metadata.num_row_groups):
        stats = pf.metadata.row_group(rg).column(vi).statistics
        # stats.has_min_max False (or stats None) -> cannot prune, read it
        if stats is not None and stats.has_min_max and stats.min is not None:
            if stats.min >= k:
                continue
        tbl = pf.read_row_group(rg, columns=["vec_id", "embedding"])
        mask = pc.less(tbl.column("vec_id"), k)
        tbl = tbl.filter(mask)  # null mask entries are excluded
        for vid, emb in zip(
            tbl.column("vec_id").to_pylist(), tbl.column("embedding").to_pylist()
        ):
            head[int(vid)] = (
                None if emb is None else [None if x is None else float(x) for x in emb]
            )
    return head


def _pq_build_kernel(head: dict, topk: int = _PQ_TOPK):
    """Build the scan-local PQ encode+ADC Arrow kernel from a collected
    codebook head (``vec_id -> vector`` for ``vec_id < _PQ_K``).

    Module-level rather than a closure inside ``ann_pq_topk`` so unit
    tests can drive the kernel directly on hand-built Arrow batches:
    batch-local top-k boundedness, scalar-vs-vector path agreement, the
    trailing-NULL-element mask fixture (ADVICE r14 medium), and the
    NULL-codeword argmin convention (tests/test_round15.py).  Returns
    ``None`` when there are no codewords or no queries (the oracle's
    adc CTE is empty).
    """
    import math

    cb_js = sorted(head)
    q_ids = [j for j in cb_js if j < 10]
    if not cb_js or not q_ids:
        return None

    def pydot(a, b):
        """Sequential left fold over zip_with-style pairing — the same
        IEEE accumulation order as dot() and DuckDB list_inner_product,
        with Spark's semantics on length mismatch / NULL elements (the
        shorter side zero-pads with NULL, and any NULL product poisons
        the running sum to NULL)."""
        if a is None or b is None:
            return None
        s = 0.0
        for i in range(max(len(a), len(b))):
            x = a[i] if i < len(a) else None
            y = b[i] if i < len(b) else None
            if x is None or y is None:
                return None
            s += x * y
        return s

    def sub_of(v, m):
        return None if v is None else v[m * _PQ_SUB : m * _PQ_SUB + _PQ_SUB]

    def q_of(sub, cw):
        """floor((s.s - 2 s.c + c.c) * 1e6 + 0.5) as a Python int — the
        identical double expression both engines evaluate; finite on every
        exercised dataset (a non-finite d would already fail the DuckDB
        CAST in the oracle)."""
        d1, dx, d3 = pydot(sub, sub), pydot(sub, cw), pydot(cw, cw)
        if d1 is None or dx is None or d3 is None:
            return None
        return int(math.floor((d1 - 2 * dx + d3) * 1e6 + 0.5))

    # per-query distance tables: tbl[qid][m][j] = q (may be None)
    tbl = {
        qid: [
            {j: q_of(sub_of(head[qid], m), sub_of(head[j], m)) for j in cb_js}
            for m in range(_PQ_M)
        ]
        for qid in q_ids
    }

    # Encode + ADC run in ONE vectorized Arrow kernel (the sibling
    # ann_bruteforce_topk / embedding_label_centroid_arrow pattern): the
    # codebook and per-query tables ride the task closure, so the corpus
    # is scanned once with zero joins and zero encode shuffles.  Two
    # earlier cuts of this rewrite kept encode declarative — composed
    # Columns spent 8-9 s/call in py4j literal round-trips, and generated
    # SQL text spent ~1 s/call in parse + codegen of a 1k-literal tree;
    # the kernel closure carries the same 16 vectors for free.
    #
    # Bit parity: every accumulation below is a SEQUENTIAL left fold over
    # the subvector dimension (numpy loops dimension-wise, vectorized
    # across rows), the exact IEEE order of dot() / list_inner_product;
    # d2 combines as (d1 - 2*dx) + qcc like both engines.
    import numpy as np
    import pyarrow as pa

    dim = _PQ_M * _PQ_SUB

    def clean_sub(s):
        return (
            s is not None
            and len(s) == _PQ_SUB
            and not any(x is None for x in s)
        )

    # per-subspace codebook: js whose codeword yields a numeric q against
    # a clean sub (null_js get q NULL -> they win the ASC-nulls-first
    # argmin at the lowest such j, for EVERY clean row).
    # ORACLE-INEXPRESSIBLE: this NULL-first choice is a Spark-side
    # definition the differential can never check — the only geometry
    # that reaches it (a NULL element inside a vec_id<16 codebook
    # vector) makes DuckDB's list_inner_product ERROR instead of
    # returning NULL q, so the oracle cannot even state the case.  The
    # enc windows still say q NULLS FIRST for drift-proofing; do NOT
    # "fix" this branch against a differential that cannot exist
    # (VERDICT r14 What's-wrong #2 / ADVICE r15 low #2).  The
    # convention itself is pinned Spark-side by
    # tests/test_round15.py::test_pq_null_codeword_convention.
    cb_norm, cb_null = [], []
    for m in range(_PQ_M):
        norm_js = [j for j in cb_js if clean_sub(sub_of(head[j], m))]
        null_js = [j for j in cb_js if j not in norm_js]
        C = (
            np.array([sub_of(head[j], m) for j in norm_js], dtype=np.float64)
            if norm_js
            else np.zeros((0, _PQ_SUB))
        )
        qcc = np.array(
            [pydot(sub_of(head[j], m), sub_of(head[j], m)) for j in norm_js],
            dtype=np.float64,
        )
        cb_norm.append((np.array(norm_js, dtype=np.int64), C, qcc))
        cb_null.append(min(null_js) if null_js else None)

    # per-query lookup tables indexed by code j: values + null mask
    max_j = max(cb_js)
    tbl_val = {}
    tbl_nul = {}
    for qid in q_ids:
        vals = np.zeros((_PQ_M, max_j + 1), dtype=np.int64)
        nuls = np.ones((_PQ_M, max_j + 1), dtype=bool)
        for m in range(_PQ_M):
            for j in cb_js:
                q = tbl[qid][m][j]
                if q is not None:
                    vals[m, j] = q
                    nuls[m, j] = False
        tbl_val[qid] = vals
        tbl_nul[qid] = nuls

    def code_py(sub, m):
        """Argmin over codewords for ONE degenerate subvector — q NULL
        sorts first, ties to the lowest j (the window's ORDER BY q, j)."""
        best = None
        for j in cb_js:
            q = q_of(sub, sub_of(head[j], m))
            key = (1, q, j) if q is not None else (0, 0, j)
            if best is None or key < best:
                best = key
        return best[2]

    def kernel(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column("vec_id").to_numpy(zero_copy_only=False)
            varr = batch.column("v")
            if isinstance(varr, pa.ChunkedArray):
                varr = varr.combine_chunks()
            # clean rows: non-null list, exactly dim elements, no null
            # elements -> vectorized; everything else -> exact scalar path
            row_null = varr.is_null().to_numpy(zero_copy_only=False)
            offs = varr.offsets.to_numpy(zero_copy_only=False)
            lens = offs[1:] - offs[:-1]
            elem_null = varr.values.is_null().to_numpy(zero_copy_only=False)
            # exact per-row null-element counts via prefix sums of the
            # mask: csum[offs[i+1]] - csum[offs[i]].  (The previous
            # reduceat-over-clamped-offsets truncated the PRECEDING
            # row's segment whenever a row ended exactly at the values
            # buffer and was followed by null/empty rows — its trailing
            # NULL element went uncounted, the row mis-entered the
            # vectorized path, and floor(NaN) produced a garbage code;
            # ADVICE r14 medium, fixture in tests/test_round15.py.)
            if len(elem_null):
                csum = np.concatenate(
                    ([0], np.cumsum(elem_null, dtype=np.int64))
                )
                bad_elems = csum[offs[1:]] - csum[offs[:-1]]
            else:
                bad_elems = np.zeros(n, dtype=np.int64)
            clean = (~row_null) & (lens == dim) & (bad_elems == 0)

            codes = np.zeros((n, _PQ_M), dtype=np.int64)
            if clean.any():
                flat = varr.values.to_numpy(zero_copy_only=False)
                starts = offs[:-1][clean]
                mat = flat[(starts[:, None] + np.arange(dim)[None, :])]
                for m in range(_PQ_M):
                    norm_js, C, qcc = cb_norm[m]
                    if cb_null[m] is not None:
                        # a NULL-q codeword outranks every numeric q
                        codes[clean, m] = cb_null[m]
                        continue
                    S = mat[:, m * _PQ_SUB : (m + 1) * _PQ_SUB]
                    d1 = np.zeros(len(S))
                    for i in range(_PQ_SUB):
                        d1 = d1 + S[:, i] * S[:, i]
                    dx = np.zeros((len(S), len(norm_js)))
                    for i in range(_PQ_SUB):
                        dx = dx + S[:, i : i + 1] * C[:, i][None, :]
                    d2 = (d1[:, None] - 2 * dx) + qcc[None, :]
                    q = np.floor(d2 * 1e6 + 0.5).astype(np.int64)
                    codes[clean, m] = norm_js[np.argmin(q, axis=1)]
            if (~clean).any():
                py_rows = varr.to_pylist()
                for ridx in np.flatnonzero(~clean):
                    vec = py_rows[ridx]
                    for m in range(_PQ_M):
                        codes[ridx, m] = code_py(sub_of(vec, m), m)

            out_q, out_n, out_d = [], [], []
            for qid in q_ids:
                vals = tbl_val[qid][np.arange(_PQ_M)[None, :], codes]
                nuls = tbl_nul[qid][np.arange(_PQ_M)[None, :], codes]
                approx = np.where(nuls, 0, vals).sum(axis=1)
                all_null = nuls.all(axis=1)
                keep = ids != qid
                cn = ids[keep]
                cv = approx[keep]
                ca = all_null[keep]
                if len(cn) > topk:
                    # batch-local top-k under the EXACT global window
                    # order (approx ASC NULLS FIRST, neighbor_id ASC):
                    # lexsort's LAST key is primary — ~ca puts NULL
                    # distances first (the window's ASC-nulls-first),
                    # then value, then id.  The global top-k is a
                    # subset of the union of batch-local top-ks under
                    # the same total order, so only <=k rows per query
                    # per batch reach the rank window (VERDICT r14
                    # item 2 — the bruteforce pattern).
                    sel = np.lexsort((cn, cv, ~ca))[:topk]
                    cn, cv, ca = cn[sel], cv[sel], ca[sel]
                out_q.append(np.full(len(cn), qid, dtype=np.int64))
                out_n.append(cn)
                if ca.any():
                    out_d.append(
                        pa.array(
                            [
                                None if an else int(v)
                                for v, an in zip(cv, ca)
                            ],
                            type=pa.int64(),
                        )
                    )
                else:
                    out_d.append(pa.array(cv, type=pa.int64()))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(np.concatenate(out_q), type=pa.int64()),
                    pa.array(np.concatenate(out_n), type=pa.int64()),
                    pa.concat_arrays(out_d),
                ],
                names=["query_id", "neighbor_id", "approx_d2_x1e6"],
            )

    return kernel


_IVFPQ_ORACLE = f"""
    -- absent (NULL) embeddings cannot be cell-assigned or PQ-encoded:
    -- excluded on both sides (null-tier contract)
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
               WHERE embedding IS NOT NULL),
    anchors AS (SELECT vec_id AS aid, v AS av FROM v WHERE vec_id < 16),
    cellscore AS (
      SELECT v.vec_id, a.aid,
             CAST(floor(list_cosine_similarity(v.v, a.av) * 1e6 + 0.5) AS BIGINT) AS cm
      FROM v CROSS JOIN anchors a
    ),
    assign AS (
      SELECT vec_id, aid AS cell FROM (
        SELECT vec_id, aid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cm DESC, aid) AS rn
        FROM cellscore
      ) WHERE rn = 1
    ),
    qprobe AS (
      SELECT vec_id AS query_id, aid AS cell FROM (
        SELECT vec_id, aid,
               row_number() OVER (PARTITION BY vec_id ORDER BY cm DESC, aid) AS rn
        FROM cellscore WHERE vec_id < 10
      ) WHERE rn <= 4
    ),
    subs AS (
      SELECT vec_id, m.m,
             v[m.m * {_PQ_SUB} + 1 : m.m * {_PQ_SUB} + {_PQ_SUB}] AS sub
      FROM v CROSS JOIN (VALUES (0), (1), (2), (3)) m(m)
    ),
    cb AS (SELECT m, vec_id AS j, sub AS cw FROM subs WHERE vec_id < {_PQ_K}),
    d2 AS (
      SELECT s.vec_id, s.m, c.j,
             CAST(floor((list_inner_product(s.sub, s.sub)
                         - 2 * list_inner_product(s.sub, c.cw)
                         + list_inner_product(c.cw, c.cw)) * 1e6 + 0.5)
                  AS BIGINT) AS q
      FROM subs s JOIN cb c ON c.m = s.m
    ),
    enc AS (
      -- q NULLS FIRST: same pin as ann_pq_topk's enc window (the branch
      -- is unreachable in DuckDB — list_inner_product errors on NULL
      -- elements — pinned so the stated order matches the Spark plan)
      SELECT vec_id, m, j AS code FROM (
        SELECT vec_id, m, j,
               row_number() OVER (PARTITION BY vec_id, m
                                  ORDER BY q NULLS FIRST, j) AS rn
        FROM d2
      ) WHERE rn = 1
    ),
    adc AS (
      SELECT p.query_id, a2.vec_id AS neighbor_id, CAST(sum(t.q) AS BIGINT) AS approx_d2_x1e6
      FROM qprobe p
      JOIN assign a2 ON a2.cell = p.cell AND a2.vec_id <> p.query_id
      JOIN enc e ON e.vec_id = a2.vec_id
      JOIN d2 t ON t.vec_id = p.query_id AND t.m = e.m AND t.j = e.code
      GROUP BY p.query_id, a2.vec_id
    )
    SELECT query_id, neighbor_id, approx_d2_x1e6, rnk FROM (
      SELECT query_id, neighbor_id, approx_d2_x1e6,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_d2_x1e6, neighbor_id) AS rnk
      FROM adc
    ) WHERE rnk <= {_PQ_TOPK}
    """


@register(
    "ann_ivfpq_topk",
    oracle=_IVFPQ_ORACLE,
    doc="IVF-PQ: the composition the billion-scale ANN systems ship "
    "(FAISS IVFPQ) — IVF cell routing bounds WHICH candidates a query "
    "touches (4 of 16 cells, from ann_ivf_topk's micro-quantized "
    "assignment), and PQ codes bound WHAT is read per candidate "
    "(4 bytes of codes + a broadcast distance table, from ann_pq_topk's "
    "integer ADC).  Every decision — cell assignment, probe order, "
    "codes, ADC sums, ranks — is quantized integer arithmetic, so the "
    "oracle replays the full two-stage pipeline exactly.  At 100 TB: "
    "candidate count scales with nprobe/ncells of the corpus, bytes-"
    "per-candidate with M codes instead of the raw vector — the two "
    "multiplicative reductions that make memory-bound ANN feasible; "
    "cells shard naturally into partitions and the code column "
    "colocates with the cell assignment.",
)
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NULL embeddings excluded (see oracle) — they can't be cell-assigned
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    anchors = e.filter(F.col("vec_id") < 16).select(
        F.col("vec_id").alias("aid"), F.col("v").alias("av")
    )
    cm = F.floor(cosine(F.col("v"), F.col("av")) * 1e6 + 0.5).cast("bigint")
    cellscore = e.crossJoin(F.broadcast(anchors)).select("vec_id", "aid", cm.alias("cm"))
    w_assign = W.partitionBy("vec_id").orderBy(F.col("cm").desc(), "aid")
    ranked = cellscore.withColumn("rn", F.row_number().over(w_assign))
    assign = ranked.filter(F.col("rn") == 1).select("vec_id", F.col("aid").alias("cell"))
    qprobe = (
        ranked.filter((F.col("vec_id") < 10) & (F.col("rn") <= 4))
        .select(F.col("vec_id").alias("query_id"), F.col("aid").alias("cell"))
    )

    ms = F.explode(F.array(*[F.lit(m) for m in range(_PQ_M)])).alias("m")
    subs = e.select("vec_id", "v", ms).select(
        "vec_id", "m", F.expr(f"slice(v, m * {_PQ_SUB} + 1, {_PQ_SUB})").alias("sub")
    )
    cb = subs.filter(F.col("vec_id") < _PQ_K).select(
        "m", F.col("vec_id").alias("j"), F.col("sub").alias("cw")
    )
    d2_expr = (
        dot(F.col("sub"), F.col("sub"))
        - 2 * dot(F.col("sub"), F.col("cw"))
        + dot(F.col("cw"), F.col("cw"))
    )
    d2 = subs.join(F.broadcast(cb), "m").select(
        "vec_id", "m", "j", F.floor(d2_expr * 1e6 + 0.5).cast("bigint").alias("q")
    )
    w_enc = W.partitionBy("vec_id", "m").orderBy("q", "j")
    enc = (
        d2.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select(F.col("vec_id").alias("nid"), "m", F.col("j").alias("code"))
    )
    tbl = d2.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "m", "j", "q"
    )
    # qprobe/assign and enc/tbl are same-origin subtrees (both pairs derive
    # from cellscore / d2) — join through explicit plan aliases, not
    # attribute disambiguation.
    cand = (
        qprobe.alias("qp")
        .join(assign.alias("asg"), F.col("qp.cell") == F.col("asg.cell"))
        .filter(F.col("asg.vec_id") != F.col("qp.query_id"))
        .select(F.col("qp.query_id").alias("query_id"), F.col("asg.vec_id").alias("nid"))
    )
    adc = (
        cand.alias("cand")
        .join(enc.alias("enc"), F.col("cand.nid") == F.col("enc.nid"))
        .join(
            F.broadcast(tbl.alias("tbl")),
            (F.col("cand.query_id") == F.col("tbl.query_id"))
            & (F.col("enc.m") == F.col("tbl.m"))
            & (F.col("enc.code") == F.col("tbl.j")),
        )
        .groupBy(
            F.col("cand.query_id").alias("query_id"),
            F.col("cand.nid").alias("neighbor_id"),
        )
        .agg(F.sum(F.col("tbl.q")).cast("bigint").alias("approx_d2_x1e6"))
    )
    return ranked_topk(adc, _PQ_TOPK, "rnk").select(
        "query_id", "neighbor_id", "approx_d2_x1e6", "rnk"
    )


@register(
    "embedding_label_centroid_arrow",
    oracle="""
    WITH v AS (
      -- aggregate-skip semantics: absent (NULL) embeddings contribute to
      -- neither the centroid nor n (a bare count(*) would count them while
      -- sum() skipped them — half-null statistics; null-tier find)
      SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
      WHERE embedding IS NOT NULL
    ),
    el AS (
      SELECT label, d.dim AS dim,
             CAST(floor(v[d.dim] * 1e6 + 0.5) AS BIGINT) AS m
      FROM v CROSS JOIN (SELECT CAST(range AS INT) + 1 AS dim FROM range(64)) d
    )
    SELECT label, CAST(dim AS INT) AS dim,
           CAST(count(*) AS BIGINT) AS n,
           CAST(floor((2 * sum(m) + count(*)) / (2.0 * count(*))) AS BIGINT)
             AS centroid_micro
    FROM el GROUP BY label, dim
    """,
    doc="Per-label embedding centroids via groupBy().applyInArrow — the "
    "zero-copy grouped-kernel API (Spark 4): each label group arrives as "
    "ONE pyarrow Table, the kernel runs a numpy column reduction, and "
    "only (label, dim, n, centroid) rows leave the worker.  Arithmetic "
    "is exact end-to-end: each float32 component is quantized to integer "
    "micro-units FIRST (bit-identical in any engine), the per-dim sums "
    "are integer (order-free — no float accumulation anywhere), and the "
    "rounded mean is the integer floor-division (2S+n) // (2n) on both "
    "sides.  Scale: one shuffle on label; group state = one label's "
    "vectors (bounded); 64 output rows per label.  The class-centroid "
    "building block behind SemDeDup / nearest-class-mean classifiers.",
)
def embedding_label_centroid_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    # aggregate-skip: NULL embeddings excluded before grouping (see oracle)
    e = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("embedding").isNotNull())
        .select("label", F.col("embedding").cast("array<double>").alias("v"))
    )
    return e.groupBy("label").applyInArrow(
        _label_centroid_kernel, schema="label int, dim int, n long, centroid_micro long"
    )


def _label_centroid_kernel(table):
    """Grouped Arrow kernel for embedding_label_centroid_arrow — module
    level (the _pq_build_kernel convention) so tests can drive it on
    hand-built mixed clean/degenerate groups against a pure-Python
    reference without a Spark job."""
    import math

    import numpy as np
    import pyarrow as pa

    _D = 64  # the oracle's fixed dim axis (CROSS JOIN range(64))

    label = table.column("label")[0].as_py()
    varr = table.column("v").combine_chunks()
    nvec = len(varr)
    offs = varr.offsets.to_numpy(zero_copy_only=False)
    lens = offs[1:] - offs[:-1]
    elem_null = varr.values.is_null().to_numpy(zero_copy_only=False)
    # exact per-row NULL-element counts via prefix sums — round-15
    # sibling audit of the PQ kernel's element-validity bug class
    # (ADVICE r14 medium): np.stack(to_pylist()).astype(float64)
    # turned a NULL element into NaN and the whole dim's integer sum
    # into garbage, where the oracle's sum(m) SKIPS the NULL element
    # while count(*) still counts the vector (and an all-NULL dim
    # sums to NULL).  Witnessed vs DuckDB in tests/test_round15.py.
    if len(elem_null):
        csum = np.concatenate(([0], np.cumsum(elem_null, dtype=np.int64)))
        n_bad = csum[offs[1:]] - csum[offs[:-1]]
    else:
        n_bad = np.zeros(nvec, dtype=np.int64)
    clean = (n_bad == 0) & (lens == _D)
    if clean.all():
        # fast path: rectangular fully-valid group — one vectorized
        # column reduction (the hot path on every benign/skewed tier)
        mat = np.asarray(varr.flatten(), dtype=np.float64).reshape(nvec, _D)
        m = np.floor(mat * 1e6 + 0.5).astype("int64")
        s = m.sum(axis=0)
        cent = pa.array((2 * s + nvec) // (2 * nvec), pa.int64())
    else:
        # mixed path (ADVICE r15: PER-ROW split, not per-group): the
        # clean-row subset still takes the vectorized column reduction;
        # only the degenerate rows (a NULL element / short or long
        # vector) fall back to scalar accumulation — one hostile row in
        # a million-vector label group no longer degrades the whole
        # group to Python speed.  Semantics per dim: sum quantized
        # NON-NULL elements (dims beyond a short vector are NULL in
        # the oracle's v[d.dim] and likewise skipped); a dim with zero
        # contributions has a NULL sum -> NULL centroid.
        n_clean = int(clean.sum())
        if n_clean:
            flat = varr.values.to_numpy(zero_copy_only=False)
            idx = (
                offs[:-1][clean][:, None] + np.arange(_D, dtype=offs.dtype)
            ).ravel()
            mat = flat[idx].astype(np.float64, copy=False).reshape(n_clean, _D)
            vs = np.floor(mat * 1e6 + 0.5).astype("int64").sum(axis=0)
            sums = [int(s) for s in vs]  # Python ints: the scalar tail
            cnts = [n_clean] * _D  # below combines without np overflow
        else:
            sums = [0] * _D
            cnts = [0] * _D
        bad_rows = varr.take(pa.array(np.flatnonzero(~clean)))
        for r in bad_rows.to_pylist():
            for di in range(min(len(r), _D)):
                x = r[di]
                if x is not None:
                    sums[di] += int(math.floor(x * 1e6 + 0.5))
                    cnts[di] += 1
        cent = pa.array(
            [
                (2 * sums[di] + nvec) // (2 * nvec) if cnts[di] else None
                for di in range(_D)
            ],
            pa.int64(),
        )
    dims = np.arange(1, _D + 1, dtype="int32")
    return pa.table(
        {
            "label": pa.array([label] * _D, pa.int32()),
            "dim": pa.array(dims, pa.int32()),
            "n": pa.array([nvec] * _D, pa.int64()),
            "centroid_micro": cent,
        }
    )



_PQ_COARSE = 25

_PQ_RERANK_ORACLE = (
    _PQ_CTES
    + f"""
    , coarse AS (
      SELECT query_id, neighbor_id, approx_d2_x1e6,
             row_number() OVER (PARTITION BY query_id
                                ORDER BY approx_d2_x1e6, neighbor_id) AS coarse_rank
      FROM adc
    ),
    -- the coarse PQ stage is pure (integer) L2 and keeps zero-norm vectors;
    -- the exact-COSINE rerank is undefined on them, so the rerank joins go
    -- through the nonzero view (nonzero() contract): zero-norm candidates
    -- drop out of the rerank, zero-norm queries produce no rerank rows
    vnz AS (SELECT * FROM v WHERE {_nonzero_sql("v")})
    SELECT query_id, neighbor_id, cosine, coarse_rank, rnk FROM (
      SELECT c.query_id, c.neighbor_id, c.coarse_rank,
             round(list_cosine_similarity(q.v, n.v), 6) AS cosine,
             row_number() OVER (PARTITION BY c.query_id
                                ORDER BY round(list_cosine_similarity(q.v, n.v), 6) DESC,
                                         c.neighbor_id) AS rnk
      FROM coarse c
      JOIN vnz q ON q.vec_id = c.query_id
      JOIN vnz n ON n.vec_id = c.neighbor_id
      WHERE c.coarse_rank <= {_PQ_COARSE}
    ) WHERE rnk <= {_PQ_TOPK}
    """
)


@register(
    "ann_pq_rerank",
    oracle=_PQ_RERANK_ORACLE,
    doc=f"Two-stage retrieve-and-rerank ANN — the production vector-"
    f"serving shape (FAISS/ScaNN default): stage 1 retrieves "
    f"{_PQ_COARSE} candidates per query with the cheap memory-bound PQ "
    f"asymmetric distance (integer table lookups over 4-byte codes — "
    f"ann_pq_topk's kernel), stage 2 fetches ONLY those candidates' "
    f"full vectors and reranks by exact cosine to the final top-"
    f"{_PQ_TOPK}.  The two-stage split is the whole economics of "
    f"billion-vector search: full vectors are touched for 25 rows per "
    f"query instead of the corpus, so the exact pass costs nothing "
    f"while repairing the quantization error of the coarse pass.  "
    f"Exactness: coarse stage all-integer, rerank cosine round-6 from "
    f"one identical expression tree; candidate fetch = id equi-join "
    f"(at 100 TB a broadcast of the query x candidate id list).  The "
    f"oracle replays both stages.",
)
def ann_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # coarse PQ stage keeps zero-norm vectors (pure integer L2); the exact
    # cosine rerank joins through the nonzero view — see the oracle's vnz CTE
    e = nonzero(
        load(spark, sf_dir, "embeddings").select(
            "vec_id", F.col("embedding").cast("array<double>").alias("v")
        )
    )
    coarse = ann_pq_topk_candidates(spark, sf_dir, k=_PQ_COARSE)
    q = e.select(F.col("vec_id").alias("query_id"), F.col("v").alias("qv"))
    n = e.select(F.col("vec_id").alias("neighbor_id"), F.col("v").alias("nv"))
    reranked = (
        coarse.join(q, "query_id")
        .join(n, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "coarse_rank",
            F.round(cosine(F.col("qv"), F.col("nv")), 6).alias("cosine"),
        )
    )
    return ranked_topk(reranked, _PQ_TOPK, "rnk", "cosine", descending=True).select(
        "query_id", "neighbor_id", "cosine", "coarse_rank", "rnk"
    )


def ann_pq_topk_candidates(spark: SparkSession, sf_dir: str, k: int) -> DataFrame:
    """PQ ADC candidate retrieval (stage 1 of ann_pq_rerank): ann_pq_topk's
    pipeline at top-``k``, exposing the rank as ``coarse_rank``."""
    return _pq_topk(spark, sf_dir, k, "coarse_rank").select(
        "query_id", "neighbor_id", "coarse_rank"
    )


_MRL_D0 = 16  # coarse prefix dims (Matryoshka truncation)
_MRL_C = 20  # coarse candidates per query
_MRL_K = 5  # final top-k


@register(
    "ann_matryoshka_rerank",
    oracle=f"""
    -- corpus/query contract: nonzero D0-PREFIX norm (which implies nonzero
    -- full norm, since ||v|| >= ||v[1:D0]||) — the truncated-dim coarse
    -- cosine is undefined on zero prefixes (see the nonzero() note)
    WITH q AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v
               FROM embeddings WHERE vec_id < 10
               AND {_nonzero_sql(f"embedding[1:{_MRL_D0}]")}),
         c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings
               WHERE {_nonzero_sql(f"embedding[1:{_MRL_D0}]")}),
    coarse AS (
      SELECT query_id, neighbor_id, crnk FROM (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
               row_number() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY round(list_cosine_similarity(
                            q.v[1:{_MRL_D0}], c.v[1:{_MRL_D0}]), 6) DESC,
                          c.vec_id) AS crnk
        FROM q JOIN c ON q.vec_id <> c.vec_id
      ) WHERE crnk <= {_MRL_C}
    ),
    rer AS (
      SELECT co.query_id, co.neighbor_id,
             CAST(co.crnk AS INTEGER) AS coarse_rnk,
             round(list_cosine_similarity(q.v, c.v), 6) AS cosine
      FROM coarse co
      JOIN q ON q.vec_id = co.query_id
      JOIN c ON c.vec_id = co.neighbor_id
    )
    SELECT query_id, neighbor_id, coarse_rnk, cosine, rnk FROM (
      SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id
                  ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk
      FROM rer
    ) WHERE rnk <= {_MRL_K}
    """,
    doc="MATRYOSHKA two-stage retrieval: stage 1 scores the corpus with "
    f"only the first {_MRL_D0} of 64 embedding dims (MRL-style prefix "
    "truncation — the cheap representation a 100 TB deployment stores "
    "as its own column/index so the coarse scan reads 1/4 of the "
    f"bytes), keeping the top {_MRL_C} candidates per query; stage 2 "
    "re-scores ONLY those candidates with the full 64-dim cosine and "
    f"emits the top {_MRL_K}.  Stage 1 is the proven broadcast-queries "
    "shape (per-partition numpy GEMM on the sliced matrix + local "
    "top-C inside mapInPandas, corpus never shuffled, then a tiny "
    "global top-C reduce); stage 2 joins the candidate list back to "
    "the corpus (broadcast — C*Q rows) and computes the exact cosine "
    "JVM-side with zip_with/aggregate higher-order expressions, no "
    "Python in the rerank.  Both stages rank on round(cos, 6) with "
    "vec_id tiebreaks so Spark and the DuckDB oracle (which replays "
    "the identical two-stage plan with list_slice/"
    "list_cosine_similarity) agree exactly; coarse_rnk in the output "
    "exposes how the full-dim rerank reorders the truncated-dim "
    "candidates.  At 100 TB: coarse cost scales with D0/D, rerank "
    "cost with C*Q — both knobs explicit.",
)
def ann_matryoshka_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    # prefix-nonzero contract (implies full-norm nonzero) + non-NULL id
    # (the numpy coarse kernel would otherwise keep a NaN-id candidate a
    # SQL <> predicate drops) — see the oracle
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).filter(
        F.col("vec_id").isNotNull()
        & F.exists(F.slice("v", 1, _MRL_D0), lambda x: x != 0)
    )
    qrows, coarse = broadcast_query_topk(e, _MRL_C, "ccos", "coarse_rnk", dims=_MRL_D0)
    cand = coarse.select("query_id", "neighbor_id", "coarse_rnk")
    # an empty query set flows through as empty frames: the joins below
    # fold to an empty relation with the output schema
    qv = spark.createDataFrame(
        [(int(i), [float(x) for x in v]) for i, v in qrows], "query_id long, qv array<double>"
    )
    rer = (
        F.broadcast(cand)
        .join(e.withColumnRenamed("vec_id", "neighbor_id"), "neighbor_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn("cosine", F.round(cosine(F.col("qv"), F.col("v")), 6))
    )
    return ranked_topk(rer, _MRL_K, "rnk", "cosine", descending=True).select(
        "query_id", "neighbor_id", "coarse_rnk", "cosine", "rnk"
    )


_PCA_ITERS = 3


def _pca_oracle(iters: int = _PCA_ITERS) -> str:
    """Unrolled power-iteration oracle: mean-center (quantized means), v0 =
    all-ones, each round computes s = Xv (per-vector), u = X^T s (per-dim),
    max-|component|-normalizes (order-independent, like graph_hits) and
    micro-quantizes before the next round — decision-for-decision the
    Spark loop."""
    parts = [
        """WITH x AS MATERIALIZED (
      SELECT vec_id, u.pos AS pos, CAST(u.val AS DOUBLE) AS val
      FROM embeddings,
           LATERAL (SELECT unnest(embedding) AS val,
                           generate_subscripts(embedding, 1) AS pos) u
    ),
    mu AS (
      SELECT pos, floor(sum(val) / count(*) * 1e9 + 0.5) / 1e9 AS m
      FROM x GROUP BY pos
    ),
    c AS MATERIALIZED (
      SELECT vec_id, x.pos, val - m AS v FROM x JOIN mu ON mu.pos = x.pos
    ),
    v0 AS (SELECT pos, 1.0 AS w FROM mu),"""
    ]
    for i in range(1, iters + 1):
        parts.append(
            f"s{i} AS (SELECT c.vec_id, sum(c.v * p.w) AS s"
            f" FROM c JOIN v{i-1} p ON p.pos = c.pos GROUP BY c.vec_id),"
            f" u{i} AS (SELECT c.pos, sum(c.v * s.s) AS u"
            f" FROM c JOIN s{i} s ON s.vec_id = c.vec_id GROUP BY c.pos),"
            f" m{i} AS (SELECT max(abs(u)) AS mx FROM u{i}),"
            f" v{i} AS (SELECT pos, floor(u / m.mx * 1e9 + 0.5) / 1e9 AS w"
            f" FROM u{i} CROSS JOIN m{i} m),"
        )
    parts[-1] = parts[-1].rstrip(",")
    parts.append(
        f"SELECT CAST(pos AS BIGINT) AS dim,"
        f" CAST(floor(w * 1e9 + 0.5) AS BIGINT) AS pc1_x1e9 FROM v{iters}"
    )
    return "\n".join(parts)


@register(
    "embedding_pca_top_component",
    oracle=_pca_oracle(),
    doc="PCA TOP COMPONENT by POWER ITERATION, fully relational: the "
    "embedding matrix lives in LONG FORM (vec_id, dim, value) and each "
    "of 3 iterations is two join+aggregate rounds — s = Xv (dot every "
    "centered vector with the current direction), u = X^T s (accumulate "
    "back per dimension) — i.e., distributed matvec as a GROUP BY, the "
    "same shape GraphX gives PageRank.  Means and iterates are micro-"
    "quantized (1e-9) and normalization is by max |component| (order-"
    "independent, the graph_hits discipline), so the DuckDB oracle "
    "replays the identical rounds unrolled.  This is the in-engine "
    "dimensionality-reduction primitive (drift directions, whitening, "
    "Matryoshka-style truncation audits) that complements "
    "embedding_label_centroid_arrow (per-class means) and the ANN "
    "family (which CONSUME such projections).  Scale: X is shuffled "
    "once per round on its join key (vec side, then dim side); the "
    "direction vector is 64 rows broadcast; convergence is fixed-round, "
    "driver holds only the loop counter.  At 1B vectors the same plan "
    "holds — matvec cost is |X| per round, never |X|^2.",
)
def embedding_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    x = emb.select(
        "vec_id", F.posexplode("embedding").alias("pos0", "val_f")
    ).select(
        "vec_id",
        (F.col("pos0") + 1).alias("pos"),
        F.col("val_f").cast("double").alias("val"),
    )

    def quant(col):
        return F.floor(col * 1e9 + 0.5) / 1e9

    mu = x.groupBy("pos").agg(quant(F.sum("val") / F.count(F.lit(1))).alias("m"))
    c = (
        x.join(mu, "pos")
        .select("vec_id", "pos", (F.col("val") - F.col("m")).alias("v"))
        .localCheckpoint()
    )
    v = mu.select("pos", F.lit(1.0).alias("w"))
    for _ in range(_PCA_ITERS):
        s = (
            c.join(v, "pos")
            .groupBy("vec_id")
            .agg(F.sum(F.col("v") * F.col("w")).alias("s"))
        )
        u = (
            c.join(s, "vec_id")
            .groupBy("pos")
            .agg(F.sum(F.col("v") * F.col("s")).alias("u"))
        )
        mx = u.agg(F.max(F.abs(F.col("u"))).alias("mx"))
        v = (
            u.crossJoin(F.broadcast(mx))
            .select("pos", quant(F.col("u") / F.col("mx")).alias("w"))
            .localCheckpoint(eager=False)
        )
    return v.select(
        F.col("pos").cast("bigint").alias("dim"),
        F.floor(F.col("w") * 1e9 + 0.5).cast("bigint").alias("pc1_x1e9"),
    )


# --- ANN recall@k report (round 10) ----------------------------------------

_RECALL_METHODS = (
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "ann_ivfpq_topk",
    "ann_matryoshka_rerank",
    "ann_pq_topk",
    "ann_pq_rerank",
)


def _recall_report_oracle() -> str:
    """Compose the component oracles (fetched from the registry, so the
    report can never drift from what each family's own gate checks) into
    one recall@5 report: each approximate family's top-5 LEFT-joined
    against the exact brute-force top-5, hits counted per method."""
    from ..registry import REGISTRY

    exact = REGISTRY["ann_bruteforce_topk"].oracle
    branches = "\n      UNION ALL ".join(
        f"SELECT '{m}' AS method, query_id, neighbor_id FROM ({REGISTRY[m].oracle})"
        for m in _RECALL_METHODS
    )
    values = ", ".join(f"('{m}')" for m in _RECALL_METHODS)
    return f"""
    WITH exact AS (SELECT query_id, neighbor_id FROM ({exact})),
    approx AS (
      {branches}
    ),
    methods(method) AS (VALUES {values})
    SELECT m.method,
           CAST(count(DISTINCT e.query_id) AS BIGINT) AS n_queries,
           CAST(count(a.query_id) AS BIGINT) AS hits,
           CAST(floor(count(a.query_id) * 10000.0 / count(*) + 0.5) AS BIGINT)
             AS recall_at5_x1e4
    FROM methods m
    CROSS JOIN exact e
    LEFT JOIN approx a
      ON a.method = m.method AND a.query_id = e.query_id
         AND a.neighbor_id = e.neighbor_id
    GROUP BY m.method
    ORDER BY m.method
    """


@register(
    "ann_recall_report",
    oracle=_recall_report_oracle(),
    doc="End-to-end ANN recall@5 report, one artifact (round-10 gap "
    "analysis / VERDICT r9 item 2): every approximate family's top-5 "
    "(IVF, trained-kmeans IVF, IVF-PQ, Matryoshka rerank, PQ ADC, PQ "
    "retrieve-and-rerank) joined against the exact brute-force top-5 "
    "over the same 10 query vectors, reporting per-method hits and "
    "integer recall (floor(hits*1e4/n_exact+0.5)) — the recall-vs-cost "
    "table a deployment reads to pick nprobe/M/D0, previously only "
    "probed per-family in tests.  Every component is bit-deterministic "
    "with an exact SQL replica, so the composed report is fully "
    "oracle-backed: the oracle nests the component oracles verbatim "
    "from the registry.  Each per-method branch is a 50-row left join "
    "aggregated to ONE row (integer hits), so the report adds no "
    "data-scale work beyond its components; at 100 TB the components "
    "run on a sampled query set and the report stays a per-method "
    "one-row fold.  The plan inherits ann_ivfpq_topk's two allowlisted "
    "bounded cartesians (16-anchor broadcast cellscore) by composition.",
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    from functools import reduce

    fns = {
        "ann_ivf_topk": ann_ivf_topk,
        "ann_ivf_kmeans_topk": ann_ivf_kmeans_topk,
        "ann_ivfpq_topk": ann_ivfpq_topk,
        "ann_matryoshka_rerank": ann_matryoshka_rerank,
        "ann_pq_topk": ann_pq_topk,
        "ann_pq_rerank": ann_pq_rerank,
    }
    from pyspark import StorageLevel

    # persist fence (the dedup/curation barrier pattern): exact top-5 is
    # the most expensive component and every one of the six union
    # branches joins against it — without the fence the brute-force
    # corpus pass would re-execute per branch (review r10).  50 rows
    # cached.  Like every fence, it registers the subtree with the
    # CacheManager at construction: plan inspectors must clearCache first
    # (plan_audit.py does, per build).
    exact = (
        ann_bruteforce_topk(spark, sf_dir)
        .select("query_id", "neighbor_id")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    parts = []
    for m in _RECALL_METHODS:
        approx = (
            fns[m](spark, sf_dir)
            .select("query_id", "neighbor_id")
            .withColumn("hit", F.lit(1))
        )
        # top-5 rows are unique per (query_id, neighbor_id) on both sides,
        # so the left join cannot fan out: count(*) == 5 * n_queries exact
        # rows, hits == matched rows
        parts.append(
            exact.join(approx, ["query_id", "neighbor_id"], "left")
            .agg(
                F.count_distinct("query_id").alias("n_queries"),
                F.count(F.lit(1)).alias("n_exact"),
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("hits"),
            )
            # empty corpus: the global agg still emits one zero row per
            # method, but the oracle's GROUP BY over zero exact rows is
            # EMPTY — no queries, no report (day-one-pipeline contract)
            .filter(F.col("n_exact") > 0)
            .select(
                F.lit(m).alias("method"),
                F.col("n_queries").cast("bigint").alias("n_queries"),
                F.col("hits").cast("bigint").alias("hits"),
                F.floor(F.col("hits") * 10000.0 / F.col("n_exact") + 0.5)
                .cast("bigint")
                .alias("recall_at5_x1e4"),
            )
        )
    return reduce(lambda a, b: a.unionByName(b), parts).orderBy("method")
