

import math

import pytest

from selfcheck import duck_on
from tests.conftest import SF0001, SF001


# ---------------------------------------------------------------------------
# _pq_head_from_parquet parity with the Spark collect it replaced
# ---------------------------------------------------------------------------


def _collect_head(spark, sf_dir):
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.operators.similarity import _PQ_K

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return {
        int(r["vec_id"]): r["v"] for r in e.filter(F.col("vec_id") < _PQ_K).collect()
    }


def test_pq_head_parquet_read_matches_spark_collect(spark):
    from gcp_cloudsql_to_bigquery_spark.operators.similarity import (
        _pq_head_from_parquet,
    )
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    assert _pq_head_from_parquet(SF0001) == _collect_head(spark, SF0001)
    # and the head drives the full ranked result: 10 queries x top 5
    assert len(queries()["ann_pq_topk"](spark, SF0001).collect()) == 50


def test_pq_head_parquet_read_matches_on_degenerate_rows(
    spark, nullelem_embeddings_sf
):
    """NULL elements, empty lists, short vectors, and the row-NULL all
    round-trip identically through pyarrow and the Spark collect (ids
    100-106 of the fixture are inside the vec_id<16 head only when <16,
    but the full-dict compare catches any divergence either way)."""
    from gcp_cloudsql_to_bigquery_spark.operators.similarity import (
        _pq_head_from_parquet,
    )

    got = _pq_head_from_parquet(nullelem_embeddings_sf)
    assert got == _collect_head(spark, nullelem_embeddings_sf)


def test_pq_head_parquet_read_empty_tier(tmp_path):
    """Zero-row embeddings -> empty head -> ann_pq_topk's empty-result
    branch (the day-one-pipeline contract)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from gcp_cloudsql_to_bigquery_spark.operators.similarity import (
        _pq_head_from_parquet,
    )

    t = pa.table(
        {
            "vec_id": pa.array([], pa.int64()),
            "embedding": pa.array([], pa.list_(pa.float32())),
            "label": pa.array([], pa.int32()),
        }
    )
    pq.write_table(t, tmp_path / "embeddings.parquet")
    assert _pq_head_from_parquet(str(tmp_path)) == {}


# ---------------------------------------------------------------------------
# per-row fast/exact split in the label-centroid kernel
# ---------------------------------------------------------------------------

_D = 64


def _ref_centroids(vecs):
    """Pure-Python oracle semantics: per dim, sum floor(x*1e6+0.5) over
    NON-NULL elements at that dim; n = len(vecs); centroid
    (2S+n)//(2n), NULL when no element contributed."""
    n = len(vecs)
    out = []
    for di in range(_D):
        s, c = 0, 0
        for v in vecs:
            if v is not None and di < len(v) and v[di] is not None:
                s += int(math.floor(v[di] * 1e6 + 0.5))
                c += 1
        out.append((2 * s + n) // (2 * n) if c else None)
    return out


def _drive_kernel(vecs, label=7):
    import pyarrow as pa

    from gcp_cloudsql_to_bigquery_spark.operators.similarity import (
        _label_centroid_kernel,
    )

    t = pa.table(
        {
            "label": pa.array([label] * len(vecs), pa.int32()),
            "v": pa.array(vecs, pa.list_(pa.float64())),
        }
    )
    got = _label_centroid_kernel(t)
    assert got.column("n").to_pylist() == [len(vecs)] * _D
    assert got.column("dim").to_pylist() == list(range(1, _D + 1))
    return got.column("centroid_micro").to_pylist()


def test_centroid_kernel_mixed_group_matches_reference():
    """One degenerate row in a 500-row group: the vectorized clean subset
    plus the scalar tail must combine to EXACTLY the pure-Python
    per-dim sums (ADVICE r15: per-row split, not per-group)."""
    import numpy as np

    rng = np.random.default_rng(16)
    clean = [[float(x) for x in rng.normal(size=_D)] for _ in range(500)]
    degenerate = [
        clean[0][:5] + [None] + clean[0][6:],  # mid NULL
        clean[1][:32],  # short vector
        [None] * _D,  # all-NULL
        [],  # empty
        [float(x) for x in rng.normal(size=_D + 9)],  # long vector
    ]
    vecs = clean[: len(clean) // 2] + degenerate + clean[len(clean) // 2 :]
    assert _drive_kernel(vecs) == _ref_centroids(vecs)


def test_centroid_kernel_all_degenerate_group_matches_reference():
    vecs = [[None] * _D, [], [1.25] * 10, [None, 2.5] * 32]
    assert _drive_kernel(vecs) == _ref_centroids(vecs)


def test_centroid_kernel_clean_group_unchanged():
    import numpy as np

    rng = np.random.default_rng(61)
    vecs = [[float(x) for x in rng.normal(size=_D)] for _ in range(64)]
    assert _drive_kernel(vecs) == _ref_centroids(vecs)


# ---------------------------------------------------------------------------
# AND-2 banding expected-miss budget (ADVICE r15)
# ---------------------------------------------------------------------------


@pytest.mark.parametrize("sf_dir", [SF0001, SF001])
def test_minhash_ml_oracle_pairs_carry_negligible_miss_budget(sf_dir):
    """The r15 contract: P(miss) per true pair = (1-j^2)^8 under 8 OR-ed
    AND-2 bands.  Summed over the ACTUAL oracle pair population of each
    driver-checked tier the expected miss count must be ~0 (< 0.005), so
    any future differential flake on this query is a code regression, not
    a probabilistic band miss.  (A pair at j=0.8 contributes 2.8e-4; this
    asserts no tier is dense in such borderline pairs.)"""
    import __spark_entry__ as entry

    with duck_on(sf_dir) as con:
        rows = con.execute(entry.oracle_sql()["dedup_minhash_ml"]).fetchall()
    assert rows, f"oracle returned no pairs at {sf_dir} — fixture drifted"
    js = [r[-1] for r in rows]
    assert all(j >= 0.8 for j in js)
    budget = sum((1 - j * j) ** 8 for j in js)
    assert budget < 0.005, (
        f"expected-miss budget {budget:.5f} at {sf_dir}: the tier is dense "
        f"in borderline pairs; re-derive the banding contract before "
        f"trusting differential greens"
    )


# ---------------------------------------------------------------------------
# integer-exact rank selection == percentile_disc (r16 buffer-agg fixes)
# ---------------------------------------------------------------------------
# elt_incremental_bookmark_extract and elt_range_partition_layout replaced
# their GLOBAL percentile_disc aggregates (value->count buffer merged on a
# single reducer — plan_audit invariant 5) with rank selection over
# scale.global_order_stats: percentile_disc(p) == the smallest value whose
# exact 1-based rank r satisfies r >= p*n, cross-multiplied to integers
# (r*q >= n*p_num) so no double comparison exists on the Spark side.  The
# registry oracles witness this against DuckDB's independent quantile_disc
# on 8 data geometries; this net pins the equivalence ON CRAFTED EDGE
# FIXTURES (exact-boundary n, duplicates straddling the cut, n=1, all-
# equal values) directly against Spark's own percentile_disc aggregate,
# so a future refactor of the rank arithmetic fails here first.


@pytest.mark.parametrize(
    "values",
    [
        list(range(1, 11)),            # n=10: 0.6*n exact integer boundary
        list(range(1, 8)),             # n=7: ceil lands mid-gap
        [5, 5, 5, 7, 7, 9, 9, 9, 9],   # duplicates straddling every cut
        [42],                          # n=1: every percentile is the value
        [3, 3, 3, 3],                  # all-equal, n divisible by 4
        list(range(1, 6)),             # n=5: 0.25/0.75 non-integer ranks
    ],
)
def test_rank_selection_matches_percentile_disc(spark, values):
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.operators.scale import global_order_stats

    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    ranked = global_order_stats(df, ["x"])
    got = ranked.agg(
        F.min(F.when(F.col("_rn") * 4 >= F.col("_n_total"), F.col("x"))).alias("p25"),
        F.min(F.when(F.col("_rn") * 10 >= F.col("_n_total") * 6, F.col("x"))).alias("p60"),
        F.min(F.when(F.col("_rn") * 4 >= F.col("_n_total") * 3, F.col("x"))).alias("p75"),
    ).first()
    want = df.agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY x)").alias("p25"),
        F.expr("percentile_disc(0.6) WITHIN GROUP (ORDER BY x)").alias("p60"),
        F.expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY x)").alias("p75"),
    ).first()
    assert (got.p25, got.p60, got.p75) == (want.p25, want.p60, want.p75), values


def test_bookmark_plan_has_no_percentile_and_one_rank_pass(spark):
    """The rewritten bookmark query must carry ZERO percentile aggregates
    (the buffer-agg class it left), and its ranks come from ONE
    materialization: every audit branch's copy of the high-water mark
    reads the same global_order_stats checkpoint, with no fence of its
    own — so the walk sees the 1-row mark's aggregate and the broadcast
    crosses stay bounded binds."""
    from gcp_cloudsql_to_bigquery_spark.plans import inspect
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    df = queries()["elt_incremental_bookmark_extract"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert "percentile" not in plan, plan
    assert inspect.unbounded_global_buffer_aggregates(df) == []
    fences = [n for n in inspect._plan_nodes(df) if inspect._is_checkpoint_scan(n)]
    assert len(fences) >= 2, plan
    assert len({n.rdd().id() for n in fences}) == 1, plan
    assert inspect.fact_cartesian_count(df) == 0


# ---------------------------------------------------------------------------
# RocksDB state store — the production large-state scale path
# ---------------------------------------------------------------------------
# The HDFS-backed (in-JVM-heap) state store the suite runs on caps state at
# executor memory; the 100 TB story for stateful streaming is Spark's
# bundled RocksDB provider (state spills to local SSD, bounded heap).  This
# witness drives a real stateful aggregation end-to-end under RocksDB and
# asserts EXACT result parity with the default provider — validating the
# scale path is a one-conf swap, not a semantics change.  (The provider is
# read at query start, so a runtime conf set/restore scopes it to this
# test; each run_to_completion call uses a fresh checkpoint, so providers
# never mix within one checkpoint lineage.)


def test_rocksdb_state_store_parity(spark):
    from gcp_cloudsql_to_bigquery_spark.streaming.events import (
        stream_tumbling_window,
    )

    key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    base = stream_tumbling_window(spark, SF0001).orderBy(
        "win_start", "event_type"
    ).collect()
    prev = spark.conf.get(key)
    spark.conf.set(key, rocks)
    try:
        got = stream_tumbling_window(spark, SF0001).orderBy(
            "win_start", "event_type"
        ).collect()
    finally:
        spark.conf.set(key, prev)
    assert got == base
    assert len(got) > 0
