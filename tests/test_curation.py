"""Curation operator tests: stratified sample proportions + determinism,
hash sample stability across scale factors."""

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def test_stratified_proportions_and_determinism(spark):
    d = load(spark, SF0001, "documents")
    totals = {r.lang: r.n for r in d.groupBy("lang").count().withColumnRenamed("count", "n").collect()}
    s1 = queries()["sample_stratified"](spark, SF0001).collect()
    s2 = queries()["sample_stratified"](spark, SF0001).collect()
    assert sorted(map(tuple, s1)) == sorted(map(tuple, s2))  # seeded → stable
    got = {}
    for r in s1:
        got[r.lang] = got.get(r.lang, 0) + 1
    for lang, n in got.items():
        frac = n / totals[lang]
        assert 0.02 <= frac <= 0.95, (lang, frac)  # loose Bernoulli bounds


def test_native_sampleby_seeded_is_stable(spark):
    # Spark's seeded Bernoulli stratified sampler: stable for a fixed seed
    # within Spark (but engine-specific, hence not oracle-able — the
    # registry's sample_stratified uses keyed digests instead)
    d = load(spark, SF0001, "documents")
    fracs = {r.lang: 0.3 for r in d.select("lang").distinct().collect()}
    s1 = {r.doc_id for r in d.sampleBy("lang", fracs, seed=42).collect()}
    s2 = {r.doc_id for r in d.sampleBy("lang", fracs, seed=42).collect()}
    assert s1 == s2
    assert 0 < len(s1) < d.count()


def test_hash_sample_is_stable_subset_across_sf(spark):
    # the same doc_id keeps/loses membership regardless of corpus size —
    # the property TABLESAMPLE lacks (sf0.001 has ids 0..499; sf0.1 0..4999)
    small = {r.doc_id for r in queries()["sample_hash_based"](spark, SF0001).collect()}
    big = {r.doc_id for r in queries()["sample_hash_based"](spark, "/root/testdata/sf0.1").collect()}
    assert small == {d for d in big if d < 500}


def test_percentile_approx_accuracy(spark):
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.catalog import load

    exact = {
        r.l_returnflag: (r.p50, r.p99)
        for r in load(spark, SF0001, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.percentile("l_extendedprice", F.lit(0.5)).alias("p50"),
            F.percentile("l_extendedprice", F.lit(0.99)).alias("p99"),
        )
        .collect()
    }
    rows = {r.l_returnflag: r for r in queries()["agg_percentile_approx"](spark, SF0001).collect()}
    assert set(rows) == set(exact)
    for k, (p50, p99) in exact.items():
        r = rows[k]
        assert abs(r.p50_exact - p50) < 1e-3 and abs(r.p99_exact - p99) < 1e-3
        assert r.p50_in_bounds and r.p99_in_bounds, (k, r)
