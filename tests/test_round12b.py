"""Round-12 wave-2 witnesses: the HOSTILE-DATA sweep and its fixes.

The per-round selfcheck sweeps vary EXECUTION geometry (local[3]/[5]/[8],
prime shuffle counts); `scripts/make_hostile_sf.py` varies DATA geometry —
a schema-identical micro-dataset whose content is degenerate in every way
the driver testdata is benign.  The first sweep found 28 real impl/oracle
divergences (Spark crashes, silent int64 wraparound, zero-vector cosine,
unicode semantics, timestamp truncation, float rounding boundaries).

This file pins them: every previously-failing query must now match its
DuckDB oracle ON THE HOSTILE DATA, plus unit witnesses for the sharpest
mechanisms (packed-trim decode on negative cents, -0.0 canonicalization,
zero-vector exclusion, short-doc n-gram guard).
"""

from __future__ import annotations

import importlib.util
import os
import sys

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)

from gcp_cloudsql_to_bigquery_spark.catalog import TABLES  # noqa: E402


def _load_script(name: str):
    spec = importlib.util.spec_from_file_location(name, os.path.join(_ROOT, "scripts", f"{name}.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_selfcheck = _load_script("selfcheck")


@pytest.fixture(scope="module")
def hostile_sf(tmp_path_factory):
    mod = _load_script("make_hostile_sf")
    out = tmp_path_factory.mktemp("hostile_sf")
    return mod.main(str(out))


@pytest.fixture(scope="module")
def duck(hostile_sf):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{hostile_sf}/{t}.parquet'"
        )
    yield con
    con.close()


# every query the first hostile sweep flagged (the fix regression set)
HOSTILE_FIXED = [
    "text_contamination_ngram",
    "text_repetition_filter",
    "fn_json_variant",
    "fn_json",
    "fn_map_functions",
    "fn_map_higher_order",
    "src_json_roundtrip",
    "agg_grouped_pandas_udaf",
    "agg_ab_ttest",
    "ts_autocorrelation",
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "ann_pq_rerank",
    "ann_matryoshka_rerank",
    "ann_recall_report",
    "dedup_semdedup",
    "embedding_normalize_arrow",
    "embedding_quantize_int8",
    "q4_exists_predicate",
    "fn_mask_pii",
    "fn_arrow_python_udf",
    "fn_aes_roundtrip",
    "fn_string_similarity",
    "fn_pandas_udf_iter",
    "src_fixed_width_trailer",
    "stream_stateful_user_stats",
    "join_lateral_topn",  # comparator -0.0 canonicalization
]


@pytest.mark.parametrize("name", HOSTILE_FIXED)
def test_hostile_fixed_query_matches_oracle(spark, duck, hostile_sf, name):
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, hostile_sf)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck.execute(entry.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch"
    assert len(srows) == len(orows), (
        f"{name}: rowcount spark={len(srows)} duckdb={len(orows)}"
    )
    mismatches = _selfcheck.type_mismatches(duck, entry.oracle_sql()[name], sdf.schema)
    assert not mismatches, f"{name}: {mismatches}"
    s = _selfcheck.rowset(scols, srows)
    o = _selfcheck.rowset(ocols, orows)
    assert s == o, f"{name}: first diffs {[p for p in zip(s, o) if p[0] != p[1]][:3]}"


@pytest.fixture(scope="module")
def hostile_nulls_sf(tmp_path_factory):
    mod = _load_script("make_hostile_sf")
    out = tmp_path_factory.mktemp("hostile_nulls_sf")
    return mod.main(str(out), tier="nulls")


@pytest.fixture(scope="module")
def duck_nulls(hostile_nulls_sf):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{hostile_nulls_sf}/{t}.parquet'"
        )
    yield con
    con.close()


# every query the null-tier sweep flagged (45): size(NULL)=-1 legacy conf,
# null-kernel crashes, engine null-placement/null-skipping divergences,
# NULL-exclusion contracts for dedup/ANN index builds
NULLS_FIXED = [
    "text_repetition_filter",
    "agg_grouped_pandas_udaf",
    "ann_recall_report",
    "embedding_normalize_arrow",
    "fn_arrow_python_udf",
    "fn_pandas_udf_iter",
    "src_fixed_width_trailer",
    "fn_string",
    "fn_unpivot_stack",
    "window_distribution",
    "stream_lsh_dedup_ttl",
    "src_python_datasource_stream",
    "ann_anchor_lsh",
    "curation_pack_sequences",
    "src_python_datasource",
    "dedup_embedding_cosine",
    "dedup_simhash",
    "fn_array",
    "fn_array_advanced",
    "fn_pandas_udaf_geomean",
    "curation_source_overlap",
    "sample_stratified",
    "text_bpe_tokens",
    "text_langid",
    "text_pii_redaction",
    "text_quality_score",
    "text_rolling_hash_shingles",
    "text_token_stats",
    "elt_delimiter_sniffing",
    "agg_percentile_exact_grouped",
    "fn_uuid3_name_based",
    "fn_pandas_on_spark_api",
    "dedup_connected_components",
    "dedup_cluster_representatives",
    "dedup_ngram_jaccard",
    "dedup_minhash_lsh",
    "ann_ivfpq_topk",
    "curation_dataset_card",
    "dedup_signal_agreement",
    "embedding_label_centroid_arrow",
    "text_lang_confusion",
    "analytics_equidepth_histogram",
    "fn_array_higher_order",
    "fn_udtf_table_argument",
    "dedup_minhash_ml",
    # ADVICE r12: NULL `value` rows reached the stateful fold as NaN and
    # floored to INT64_MIN; nulls tier now exercises the NaN-mask fix.
    "stream_stateful_user_stats",
]


@pytest.mark.parametrize("name", NULLS_FIXED)
def test_nulls_fixed_query_matches_oracle(spark, duck_nulls, hostile_nulls_sf, name):
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, hostile_nulls_sf)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck_nulls.execute(entry.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch"
    assert len(srows) == len(orows), (
        f"{name}: rowcount spark={len(srows)} duckdb={len(orows)}"
    )
    s = _selfcheck.rowset(scols, srows)
    o = _selfcheck.rowset(ocols, orows)
    assert s == o, f"{name}: first diffs {[p for p in zip(s, o) if p[0] != p[1]][:3]}"


@pytest.fixture(scope="module")
def hostile_empty_sf(tmp_path_factory):
    mod = _load_script("make_hostile_sf")
    out = tmp_path_factory.mktemp("hostile_empty_sf")
    return mod.main(str(out), tier="empty")


@pytest.fixture(scope="module")
def duck_empty(hostile_empty_sf):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS "
            f"SELECT * FROM '{hostile_empty_sf}/{t}.parquet'"
        )
    yield con
    con.close()


# every query the empty-tier sweep flagged (14 — all Spark-side crashes on
# zero-row documents/embeddings/events): np.stack of zero arrays, empty
# k-means init, empty partitioned write read-back, streams over empty
# feeds, crosstab with zero pivot columns.  Contract: empty in, empty out.
EMPTY_FIXED = [
    "ann_bruteforce_topk",
    "ann_ivf_topk",
    "ann_ivf_kmeans_topk",
    "ann_matryoshka_rerank",
    "ann_anchor_lsh",
    "ann_recall_report",
    "dedup_semdedup",
    "dedup_embedding_cosine",
    "dedup_signal_agreement",
    "agg_crosstab",
    "stream_incremental_sessionize",
    "elt_dynamic_partition_overwrite",
    "stream_processing_time_trigger",
    "stream_lsh_dedup_ttl",
]


@pytest.mark.parametrize("name", EMPTY_FIXED)
def test_empty_fixed_query_matches_oracle(spark, duck_empty, hostile_empty_sf, name):
    import __spark_entry__ as entry

    sdf = entry.queries()[name](spark, hostile_empty_sf)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]
    res = duck_empty.execute(entry.oracle_sql()[name])
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(scols) == sorted(ocols), f"{name}: column mismatch"
    assert len(srows) == len(orows), (
        f"{name}: rowcount spark={len(srows)} duckdb={len(orows)}"
    )
    s = _selfcheck.rowset(scols, srows)
    o = _selfcheck.rowset(ocols, orows)
    assert s == o, f"{name}: first diffs {[p for p in zip(s, o) if p[0] != p[1]][:3]}"


def test_size_of_null_is_null(spark):
    """spark.sql.legacy.sizeOfNull=false is load-bearing: with ANSI off the
    engine default resurrects size(NULL) = -1, which silently turns every
    token count of a null text into -1 where SQL propagates NULL."""
    assert spark.conf.get("spark.sql.legacy.sizeOfNull") == "false"
    row = spark.sql("SELECT size(CAST(NULL AS array<int>)) AS s").first()
    assert row["s"] is None


def test_sentinel_export_every_field_coalesced(spark, hostile_nulls_sf, tmp_path):
    """A NULL in ANY exported column must become the sentinel, never a
    silently-dropped field: every rendered line has exactly 4 fields and
    the null balance row carries the sentinel."""
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import write_arrival_files

    out = str(tmp_path / "exports")
    write_arrival_files(spark, hostile_nulls_sf, out, n_files=2)
    import glob

    lines = []
    for f in glob.glob(out + "/arrival=*/part-*"):
        with open(f) as fh:
            lines += [ln.rstrip("\n") for ln in fh if ln.strip()]
    assert lines
    assert all(len(ln.split(",")) == 4 for ln in lines)
    assert any(ln.split(",")[3] == '"N' for ln in lines)  # null acctbal row


def test_packed_trim_decode_exact_for_any_sign():
    """The trimmed-sum packing cents*M + r (0 <= r < M) decodes exactly via
    arithmetic right shift for NEGATIVE cents too: >> is floor division and
    floor((c*M + r)/M) = c whenever 0 <= r < M.  (The removed guard claimed
    otherwise; the hazard was a sign-preserving % making r negative.)"""
    import numpy as np

    M = 1 << 20
    rng = np.random.RandomState(7)
    cents = rng.randint(-10**7, 10**7, size=1000).astype(np.int64)
    r = rng.randint(0, M, size=1000).astype(np.int64)
    packed = cents * M + r
    assert (packed >> 20 == cents).all()
    # and ordering by packed == lexicographic by (cents, r)
    order = np.argsort(packed, kind="stable")
    lex = np.lexsort((r, cents))
    assert (packed[order] == packed[lex]).all()


def test_minus_zero_canonicalization():
    """-0.0 == 0.0 (IEEE) but str() differs; Spark's round() normalizes the
    sign while DuckDB keeps it — canon must collapse both to +0.0 so the
    str-keyed row sort cannot split numerically-equal rows."""
    from decimal import Decimal

    assert str(_selfcheck.canon(-0.0)) == str(_selfcheck.canon(0.0)) == "0.0"
    assert str(_selfcheck.canon(Decimal("-0"))) == "0.0"
    assert _selfcheck.canon(-1.5) == -1.5


def test_zero_vector_excluded_from_cosine_ranking(spark, hostile_sf):
    """vec_id 0 is the all-zero vector: it must appear in NEITHER the query
    nor the neighbor column of any cosine-ranking ANN output (the nonzero()
    contract), and every emitted cosine must be non-NULL."""
    import __spark_entry__ as entry

    for name in ("ann_bruteforce_topk", "ann_ivf_topk"):
        rows = entry.queries()[name](spark, hostile_sf).collect()
        assert rows, name
        for r in rows:
            assert r["query_id"] != 0, name
            assert r["neighbor_id"] != 0, name
            assert r["cosine"] is not None, name


def test_short_doc_ngram_zero_grams(spark, hostile_sf):
    """Docs shorter than the n-gram width produce ZERO grams (no crash, no
    descending sequence): the empty doc reports n_grams=0 and NULL
    dup_fraction/flagged on the Spark side."""
    import __spark_entry__ as entry

    out = {
        r["doc_id"]: r
        for r in entry.queries()["text_repetition_filter"](spark, hostile_sf).collect()
    }
    # '', 'a', '\n\t\n' — each a single space-token, so zero 3-grams
    # (doc 2, '   ', splits into FOUR empty tokens and legally has 2 grams)
    for doc_id in (0, 1, 3):
        assert out[doc_id]["n_grams"] == 0
        assert out[doc_id]["dup_fraction"] is None
        assert out[doc_id]["flagged"] is None
    assert out[2]["n_grams"] == 2
    assert out[6]["n_grams"] > 0  # the 10k-char doc still scores


def test_contamination_planted_pair_found(spark, hostile_sf):
    """The generator plants a 12-token overlap between eval doc 20 and
    train doc 55 — the contamination scan must flag exactly that pair
    above its >= 5 shared-5-gram threshold."""
    import __spark_entry__ as entry

    rows = entry.queries()["text_contamination_ngram"](spark, hostile_sf).collect()
    pairs = {(r["eval_doc"], r["train_doc"]) for r in rows}
    assert (20, 55) in pairs
    flagged = [r for r in rows if (r["eval_doc"], r["train_doc"]) == (20, 55)]
    assert flagged[0]["n_shared"] >= 5
