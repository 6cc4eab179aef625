"""Round-14 witnesses: the ADVICE r13 closures.

- ``analytics_top_paths`` / ``analytics_repurchase_intervals``: nullable
  ``ts`` window order pinned NULLS FIRST on BOTH sides (Spark ASC puts
  NULL first, DuckDB defaults to NULLS LAST) — the fixtures here plant
  NULL ts densely enough that the divergent lead()/lag() neighbors MUST
  reach the visible output, which the nullkeys tier's sparse planting
  never forced (the divergent paths sat below the top-20 cut).
- ``_TypeTotalsProcessor``: carries a non-null counter ``nv`` in its
  ValueState and emits ``total_value`` None when nv==0 — the SQL
  sum-over-zero-non-null-rows contract, adopted BEFORE the protobuf
  promotion gate instead of deferred to it.
- ``elt_bad_records_quarantine``: a row with BOTH c_custkey and c_acctbal
  NULL now exports a 3-field line (balance coalesced to ''), which
  PERMISSIVE reads back as a good row — matching the oracle.
"""

from __future__ import annotations

import os
import shutil
import sys

import pandas as pd
import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

SF0001 = "/root/testdata/sf0.001"

_TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _copy_sf(dst):
    for name in _TABLES:
        shutil.copy(f"{SF0001}/{name}.parquet", dst / f"{name}.parquet")


# ---------------------------------------------------------------------------
# NULLS FIRST ts pin (ADVICE r13, medium) — forced-divergence fixtures
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def nullts_events_sf(tmp_path_factory):
    """sf0.001 with every third event's ts nulled (purchases included):
    dense enough that NULL-ts rows sit adjacent to real rows in most user
    timelines, so an unpinned ORDER BY ts diverges between engines in the
    lead()/lag() neighborhoods that reach the final output."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("nullts_events_sf")
    _copy_sf(out)
    t = pq.read_table(out / "events.parquet")
    mask = pc.equal(pc.bit_wise_and(t["event_id"], 3), 0)
    ts = pc.if_else(mask, None, t["ts"])
    t = t.set_column(t.schema.get_field_index("ts"), "ts", ts)
    pq.write_table(t, out / "events.parquet")
    return str(out)


def _duck_on(sf_dir):
    import duckdb

    con = duckdb.connect()
    for t in _TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _match(spark, sf_dir, name):
    import importlib.util

    import __spark_entry__ as entry

    spec = importlib.util.spec_from_file_location(
        "selfcheck", os.path.join(_ROOT, "scripts", "selfcheck.py")
    )
    selfcheck = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(selfcheck)

    sdf = entry.queries()[name](spark, sf_dir)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    con = _duck_on(sf_dir)
    try:
        res = con.execute(entry.oracle_sql()[name])
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    finally:
        con.close()
    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch"
    assert len(srows) == len(orows), (
        f"{name}: rowcount spark={len(srows)} duckdb={len(orows)}"
    )
    s = selfcheck.rowset(scols, srows)
    o = selfcheck.rowset(ocols, orows)
    assert s == o, f"{name}: first diffs {[p for p in zip(s, o) if p[0] != p[1]][:3]}"


def test_top_paths_null_ts_matches_oracle(spark, nullts_events_sf):
    """With 1/4 of ts NULL, an unpinned window order shifts lead() trigrams
    engine-to-engine; the NULLS FIRST pin makes both sides agree."""
    _match(spark, nullts_events_sf, "analytics_top_paths")


def test_repurchase_intervals_null_ts_matches_oracle(spark, nullts_events_sf):
    """NULL-ts purchases must sort to the head of each user's purchase
    timeline on both engines, else the lag() neighbor of the first real
    purchase differs and the bucket counts drift."""
    _match(spark, nullts_events_sf, "analytics_repurchase_intervals")


def test_null_ts_ordering_is_load_bearing(nullts_events_sf):
    """The pin is not vacuous on this fixture: DuckDB's default (NULLS
    LAST) and the pinned NULLS FIRST order produce DIFFERENT trigram
    counts on the nulled-ts events — i.e. an unpinned oracle would have
    diverged from Spark's ASC-nulls-first here."""
    con = _duck_on(nullts_events_sf)
    try:
        base = """
        WITH seq AS (
          SELECT user_id, event_type,
                 lead(event_type, 1) OVER w AS e2,
                 lead(event_type, 2) OVER w AS e3
          FROM (SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts, event_id
                FROM events)
          WINDOW w AS (PARTITION BY user_id ORDER BY ts {nulls}, event_id)
        )
        SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
        FROM seq WHERE e2 IS NOT NULL AND e3 IS NOT NULL
        GROUP BY path ORDER BY path
        """
        first = con.execute(base.format(nulls="NULLS FIRST")).fetchall()
        last = con.execute(base.format(nulls="NULLS LAST")).fetchall()
    finally:
        con.close()
    assert first != last, "fixture failed to force a NULL-ts ordering divergence"


# ---------------------------------------------------------------------------
# _TypeTotalsProcessor nv contract (ADVICE r13, low)
# ---------------------------------------------------------------------------


class _FakeValueState:
    def __init__(self):
        self._v = None

    def exists(self):
        return self._v is not None

    def get(self):
        return self._v

    def update(self, v):
        self._v = tuple(v)


class _FakeHandle:
    def getValueState(self, name, schema):
        assert "nv" in schema, "state schema must carry the non-null counter"
        return _FakeValueState()


def _run_tws(batches):
    from gcp_cloudsql_to_bigquery_spark.streaming.stateful import (
        _TypeTotalsProcessor,
    )

    p = _TypeTotalsProcessor()
    p.init(_FakeHandle())
    out = None
    for pdf in batches:
        out = list(p.handleInputRows(("purchase",), iter([pdf]), None))[-1]
    return out.iloc[0]


def test_tws_all_null_cents_emit_null_total():
    """sum() over zero non-null rows is SQL NULL (TWS_ORACLE_SQL), not 0.0
    — the running_user_stats nv contract, adopted pre-promotion."""
    row = _run_tws([pd.DataFrame({"cents": pd.array([None, None], dtype="Int64")})])
    assert row["n"] == 2
    assert row["total_value"] is None or pd.isna(row["total_value"])


def test_tws_null_total_recovers_on_first_non_null():
    """A later batch with a real value flips the emitted total from NULL to
    the numeric sum — nv must persist across batches in the ValueState."""
    row = _run_tws(
        [
            pd.DataFrame({"cents": pd.array([None], dtype="Int64")}),
            pd.DataFrame({"cents": pd.array([250, None], dtype="Int64")}),
        ]
    )
    assert row["n"] == 3
    assert row["total_value"] == pytest.approx(2.50)


# ---------------------------------------------------------------------------
# quarantine: both-NULL (key, balance) row is good (ADVICE r13, low)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def bothnull_customer_sf(tmp_path_factory):
    """sf0.001 with one customer row carrying BOTH c_custkey and c_acctbal
    NULL — the combination no hostile tier plants (the nullkeys tier nulls
    keys and values on different rows)."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("bothnull_customer_sf")
    _copy_sf(out)
    t = pq.read_table(out / "customer.parquet")
    first = pc.equal(t["c_custkey"], t["c_custkey"][0])
    t = t.set_column(
        t.schema.get_field_index("c_acctbal"),
        "c_acctbal",
        pc.if_else(first, pa.scalar(None, pa.float64()), t["c_acctbal"]),
    )
    t = t.set_column(
        t.schema.get_field_index("c_custkey"),
        "c_custkey",
        pc.if_else(first, pa.scalar(None, pa.int64()), t["c_custkey"]),
    )
    pq.write_table(t, out / "customer.parquet")
    return str(out)


def test_quarantine_both_null_row_counts_good(spark, bothnull_customer_sf):
    """The both-NULL row must export as a 3-field ',,<nation>,' style line
    (balance coalesced to ''), load back un-corrupt, and count good —
    matching the oracle, which never sees the CSV round-trip."""
    _match(spark, bothnull_customer_sf, "elt_bad_records_quarantine")


# ---------------------------------------------------------------------------
# ann_pq_topk Arrow-kernel rewrite (VERDICT r13 item 3): the encode + ADC
# moved from two broadcast joins + a per-(vec,m) window into one scan-local
# vectorized kernel.  The oracle differential (3 SFs + 4 hostile tiers) pins
# the clean path; these pin the kernel's DEGENERATE-row path, which only a
# fixture can force deterministically.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def nullvec_embeddings_sf(tmp_path_factory):
    """sf0.001 with every 7th embedding OUTSIDE the codebook/query head
    (vec_id >= 16) nulled: those rows take the kernel's scalar path and
    must still encode (all-NULL q -> lowest codeword, both engines agree)
    and surface as neighbors with a real ADC distance."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out = tmp_path_factory.mktemp("nullvec_embeddings_sf")
    _copy_sf(out)
    t = pq.read_table(out / "embeddings.parquet")
    mask = pc.and_(
        pc.equal(pc.bit_wise_and(t["vec_id"], 7), 0), pc.greater(t["vec_id"], 15)
    )
    emb = pc.if_else(mask, pa.scalar(None, t["embedding"].type), t["embedding"])
    t = t.set_column(t.schema.get_field_index("embedding"), "embedding", emb)
    pq.write_table(t, out / "embeddings.parquet")
    return str(out)


def test_pq_null_embedding_rows_match_oracle(spark, nullvec_embeddings_sf):
    """NULL-embedding corpus rows (scalar kernel path) match the oracle:
    every per-subspace distance is NULL, so both engines tie-break the
    argmin to the lowest codeword id and the rows stay rankable."""
    _match(spark, nullvec_embeddings_sf, "ann_pq_topk")


def test_pq_topk_deterministic_across_runs(spark):
    """Determinism only: two runs of the registered query agree and yield
    exactly 10 x 5 ranked rows.  (ADVICE r14 low: this test's old name
    claimed scalar-vs-vector agreement it never checked — the REAL
    agreement test now lives in tests/test_round15.py, driving the
    extracted _pq_build_kernel on mixed clean/degenerate Arrow batches
    against a pure-Python reference.)"""
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    a = queries()["ann_pq_topk"](spark, SF0001).collect()
    b = queries()["ann_pq_topk"](spark, SF0001).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    assert len(a) == 50


# ---------------------------------------------------------------------------
# Skewed-VOLUME geometry (VERDICT r13 item 2): sf0.1 row counts with
# hostile distributions (scripts/make_skewed_sf.py).  The full-registry
# sweep at this geometry found ONE divergence — join_star_q3's
# round(sum(double), 2) rounded different cents per engine on tie-heavy
# sums landing within an ulp of a .xx5 boundary.  Revenue is now
# cent-quantized per item before an exact integer sum; this pins the fix
# on the exact data that exposed it.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def skewed_sf(tmp_path_factory):
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "make_skewed_sf", os.path.join(_ROOT, "scripts", "make_skewed_sf.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    out = tmp_path_factory.mktemp("skewed_sf")
    return mod.main(str(out))


def test_star_q3_cent_sums_match_on_tie_heavy_volume(spark, skewed_sf):
    """The three groups that rounded differently pre-fix (orderkeys 49493,
    85495, 94801 in the sweep log) now hash-match, along with the rest of
    the 552-row result."""
    _match(spark, skewed_sf, "join_star_q3")


def test_star_q3_rounding_was_order_dependent(skewed_sf):
    """Load-bearing check: on this data, DuckDB's round(sum(...), 2) and
    the cent-quantized form genuinely DISAGREE for at least one group —
    i.e. the old oracle shape was unfixable by any Spark-side summation
    order, and the contract change was necessary."""
    con = _duck_on(skewed_sf)
    try:
        diff = con.execute(
            """
            WITH g AS (
              SELECT l_orderkey,
                     round(sum(l_extendedprice * (1 - l_discount)), 2) AS a,
                     CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount)
                                         * 100 + 0.5) AS BIGINT)) AS BIGINT)
                       / 100.0 AS b
              FROM customer
              JOIN orders   ON c_custkey = o_custkey
              JOIN lineitem ON l_orderkey = o_orderkey
              WHERE c_mktsegment = 'BUILDING'
                AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
                AND l_shipdate  > TIMESTAMP '1995-03-15 00:00:00'
              GROUP BY l_orderkey
            )
            SELECT count(*) FROM g WHERE a <> b
            """
        ).fetchone()[0]
    finally:
        con.close()
    assert diff > 0, "fixture no longer forces the rounding-boundary case"


# ---------------------------------------------------------------------------
# dedup_minhash_ml (VERDICT r13 item 2's SCALE finding): MLlib
# approxSimilarityJoin collapsed into a single 19-minute task at sf0.1
# volume (one-partition explode feeding a broadcast join whose per-row
# Iterator keyDistance ran on every bucket pair — jstack-confirmed).
# Candidates now come from an explicit (table, hash)-keyed self-join over
# the estimator's signature column: same buckets, same recall contract
# (the approx-distance prefilter was redundant under the exact
# jaccard >= 0.8 gate), but the pair work shuffles on the bucket key.
# ---------------------------------------------------------------------------


def test_minhash_ml_candidate_join_is_bucket_keyed(spark):
    """The plan must shuffle/join on the (table, hash) bucket key — never
    a nested-loop or single-partition pair scan."""
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    df = queries()["dedup_minhash_ml"](spark, SF0001)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the bucket equi-join keys (t, h) appear as join/exchange keys
    assert "t#" in plan and "h#" in plan, plan


def test_minhash_ml_matches_exact_ground_truth(spark):
    """End-to-end vs the exact all-pairs oracle at sf0.001 — the recall
    contract (since r15: 8 OR-ed AND-2 bands over 16 estimator tables,
    j >= 0.8 -> P(candidate) >= 0.99972) must survive the candidate-stage
    rewrites."""
    _match(spark, SF0001, "dedup_minhash_ml")


# ---------------------------------------------------------------------------
# global_order_stats branch-divergence bug (the round's worst find): the
# offsets branch and the final-join branch each re-executed the range
# exchange, and RangePartitioner's boundary sample depends on the upstream
# aggregate's row order — which differs between the branches' column-pruned
# plans.  At sf0.1 volume EVERY partition's count described different
# contents than the rows being ranked; ranks interleaved silently (rfm
# quintiles off by one for hundreds of customers).  Fixed by an eager
# localCheckpoint fence pinning ONE physical layout for both branches.
# ---------------------------------------------------------------------------


def test_global_order_stats_ranks_are_a_permutation_in_order(spark, skewed_sf):
    """On the exposing data (wide rollup + tie-heavy order key), the rank
    column must be exactly 1..n AND walking ranks in order must never
    violate the sort order — the unfenced form failed both (297 seam
    violations)."""
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.operators.scale import global_order_stats
    from pyspark.sql import functions as F

    o = load(spark, skewed_sf, "orders")
    tx = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.max("o_orderdate").alias("last_order"),
        F.count(F.lit(1)).alias("frequency"),
    )
    ranked = global_order_stats(
        tx, [F.col("frequency").desc(), F.asc_nulls_first("custkey")]
    )
    rows = sorted((r["_rn"], r["frequency"], r["custkey"]) for r in ranked.collect())
    assert [r[0] for r in rows] == list(range(1, len(rows) + 1))
    keys = [(-r[1], r[2]) for r in rows]
    assert keys == sorted(keys), "rank walk violates the sort order"


def test_rfm_quintiles_match_oracle_on_skewed_volume(spark, skewed_sf):
    """End-to-end: the three ntile scores hash-match DuckDB's on the
    exposing geometry."""
    _match(spark, skewed_sf, "analytics_rfm_segmentation")


def test_sla_ppm_survives_int64_overflow_volume(spark, skewed_sf):
    """effective_us * 1e6 exceeds INT64 at sf0.1 volume (~107 days of
    microseconds per type): DuckDB errored, Spark would wrap silently.
    Both sides now floor-divide in 128-bit (HUGEINT / exact decimal)."""
    _match(spark, skewed_sf, "ts_interval_subtract_sla")
