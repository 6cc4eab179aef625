"""Tests for the hashed-classifier scorer (zero-shuffle plan contract) and
the corpus-duplicated span fraction (synthetic known-duplicate fixture)."""

import os

from gcp_cloudsql_to_bigquery_spark.plans.inspect import exchange_count
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def test_classifier_score_is_zero_shuffle(spark):
    """The scorer is a pure per-row expression: the plan must contain no
    exchange at all — that is the 'scores 100 TB at scan speed' contract."""
    df = queries()["text_hashed_classifier_score"](spark, SF0001)
    assert exchange_count(df) == 0, df._jdf.queryExecution().executedPlan().toString()
    rows = df.collect()
    assert all((r.score > 0) == r.accept for r in rows)
    # mean weight bounded by the weight range [-6, 6]
    assert all(-6 * 10000 <= r.mean_weight_x1e4 <= 6 * 10000 for r in rows)


def _write_docs(spark, path, docs):
    df = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(docs)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    df.write.mode("overwrite").parquet(os.path.join(path, "documents.parquet"))


def test_duplicate_span_fraction_detects_shared_spans(spark, tmp_path):
    """Two docs sharing one 8-word span each report exactly one duplicated
    shingle; a disjoint doc reports zero."""
    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 words
    docs = [
        shared + " one two three",
        "x y z " + shared,
        "totally different words with no overlap at all here now",
    ]
    _write_docs(spark, str(tmp_path), docs)
    out = {r.doc_id: r for r in queries()["text_duplicate_span_fraction"](spark, str(tmp_path)).collect()}
    assert out[0].n_dup_shingles == 1 and out[1].n_dup_shingles == 1
    assert out[2].n_dup_shingles == 0 and out[2].dup_frac_x1e6 == 0
    # doc 0 has 11 tokens -> 4 shingles, 1 duplicated -> 250000 micro-frac
    assert out[0].n_shingles == 4 and out[0].dup_frac_x1e6 == 250000


def test_duplicate_span_short_doc_whole_text_shingle(spark, tmp_path):
    """Documents shorter than the span width contribute one whole-text
    shingle — identical short docs still register as duplicates."""
    docs = ["tiny doc", "tiny doc", "other tiny"]
    _write_docs(spark, str(tmp_path), docs)
    out = {r.doc_id: r for r in queries()["text_duplicate_span_fraction"](spark, str(tmp_path)).collect()}
    assert out[0].n_shingles == 1 and out[0].n_dup_shingles == 1
    assert out[1].dup_frac_x1e6 == 1000000
    assert out[2].n_dup_shingles == 0
