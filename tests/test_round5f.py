"""Triple-witness tests for the ninth-wave operators: brute-force Python
recomputation, semantic properties (shift-robustness, eigen-alignment,
RFC layout), and plan shape where it carries the scale claim."""

import math

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001, md5_hex


# ------------------------------------------------- exact grouped percentiles


def test_percentiles_match_bruteforce(spark):
    rows = {r["pri"]: r for r in queries()["agg_percentile_exact_grouped"](spark, SF0001).collect()}
    orders = load(spark, SF0001, "orders").select("o_orderpriority", "o_totalprice").collect()
    by_pri = {}
    for pri, p in orders:
        by_pri.setdefault(pri, []).append(math.floor(p * 100 + 0.5))
    for pri, cents in by_pri.items():
        cents.sort()
        n = len(cents)
        r = rows[pri]
        assert r["n"] == n
        assert r["p50_cents"] == cents[(n + 1) // 2 - 1]
        assert r["p90_cents"] == cents[(9 * n + 9) // 10 - 1]
        assert r["p99_cents"] == cents[(99 * n + 99) // 100 - 1]


def test_equidepth_bins_balanced_and_ordered(spark):
    rows = sorted(
        queries()["analytics_equidepth_histogram"](spark, SF0001).collect(),
        key=lambda r: r["bin"],
    )
    assert [r["bin"] for r in rows] == list(range(1, 11))
    sizes = [r["n"] for r in rows]
    assert max(sizes) - min(sizes) <= 1  # ntile's balance guarantee
    for a, b in zip(rows, rows[1:]):
        assert a["hi_cents"] <= b["lo_cents"]  # bins tile the sorted domain


# ------------------------------------------------------------ Fellegi-Sunter


def test_fs_weights_and_partition(spark):
    rows = queries()["linkage_fellegi_sunter"](spark, SF0001).collect()
    w = {"name": (9288, -1414), "seg": (2129, -2678), "band": (3366, -3862)}
    total_pairs = 0
    for r in rows:
        expect = (
            w["name"][0 if r["name_agree"] else 1]
            + w["seg"][0 if r["seg_agree"] else 1]
            + w["band"][0 if r["band_agree"] else 1]
        )
        assert r["weight_milli"] == expect
        expect_dec = (
            "link" if expect >= 6000 else "possible" if expect >= 0 else "non_link"
        )
        assert r["decision"] == expect_dec
        total_pairs += r["n_pairs"]
    # true pairs concentrate in the all-agree / near-agree patterns
    best = max(rows, key=lambda r: r["weight_milli"])
    assert best["n_true_pairs"] > 0
    # every candidate pair is classified exactly once (patterns partition)
    c = load(spark, SF0001, "customer").select("c_custkey", "c_nationkey").collect()
    import collections

    nat_a = collections.Counter(nk for _, nk in c)
    nat_b = collections.Counter()
    for k, nk in c:
        if md5_hex(f"fs2:{k}")[0] == "0":
            nat_b[(nk + 1) % 25] += 1
        else:
            nat_b[nk] += 1
    assert total_pairs == sum(nat_a[n] * nat_b[n] for n in nat_b)


# ------------------------------------------------------------ feature hashing


def test_feature_hashing_matches_bruteforce(spark):
    docs = load(spark, SF0001, "documents").select("doc_id", "text").collect()
    expected = {}
    for doc_id, text in docs:
        for t in text.lower().split(" "):
            idx = int(md5_hex(f"fh:{t}")[:8], 16) % 32
            sgn = 1 if md5_hex(f"fs:{t}")[0] <= "7" else -1
            key = (doc_id, idx)
            expected[key] = expected.get(key, 0) + sgn
    expected = {k: v for k, v in expected.items() if v != 0}
    got = {
        (r["doc_id"], r["feature_idx"]): r["val"]
        for r in queries()["text_feature_hashing"](spark, SF0001).collect()
    }
    assert got == expected


# ---------------------------------------------------------------- kfold split


def test_kfold_exact_balance_and_determinism(spark):
    rows = queries()["curation_kfold_split"](spark, SF0001).collect()
    import collections

    per = collections.defaultdict(collections.Counter)
    for r in rows:
        per[r["source"]][r["fold"]] += 1
    for src, folds in per.items():
        assert set(folds) == {1, 2, 3, 4, 5}
        assert max(folds.values()) - min(folds.values()) <= 1, (src, folds)
    # deterministic: re-running yields the identical assignment
    again = {
        (r["doc_id"], r["fold"]) for r in queries()["curation_kfold_split"](spark, SF0001).collect()
    }
    assert again == {(r["doc_id"], r["fold"]) for r in rows}


# ------------------------------------------------------------------ TIFF walk


def test_tiff_roundtrip_both_endiannesses(spark):
    rows = queries()["multimodal_tiff_metadata"](spark, SF0001).collect()
    assert rows
    seen = {r["byte_order"] for r in rows}
    assert seen == {"II", "MM"}  # the corpus genuinely exercises both
    docs = {r[0]: r[1] for r in load(spark, SF0001, "documents").select("doc_id", "n_chars").collect()}
    for r in rows:
        assert r["byte_order"] == ("II" if r["doc_id"] % 2 == 0 else "MM")
        assert r["width"] == r["doc_id"] % 200 + 16
        assert r["height"] == docs[r["doc_id"]] % 100 + 8
        assert (r["bits"], r["compression"], r["n_entries"]) == (8, 1, 5)
        assert r["orientation"] == r["doc_id"] % 8 + 1


# ------------------------------------------------------------- CDC chunking


def _cdc_chunks(text: str) -> list[str]:
    toks = text.lower().split(" ")
    chunks, cur = [], []
    for i, t in enumerate(toks):
        brk = False
        if i >= 2:
            tri = " ".join(toks[i - 2 : i + 1])
            brk = int(md5_hex(tri)[:8], 16) % 8 == 0
        if brk and cur:
            chunks.append(cur)
            cur = []
        cur.append(t)
    if cur:
        chunks.append(cur)
    return [" ".join(c) for c in chunks]


def test_cdc_chunks_match_bruteforce(spark):
    docs = load(spark, SF0001, "documents").select("doc_id", "text").collect()
    rows = {}
    for r in queries()["text_cdc_chunk_dedup"](spark, SF0001).collect():
        rows.setdefault(r["doc_id"], {})[r["chunk_idx"]] = r
    for doc_id, text in docs:
        chunks = _cdc_chunks(text)
        got = rows.get(doc_id, {})
        assert len(got) == len(chunks), doc_id
        for idx, chunk in enumerate(chunks):
            r = got[idx]
            assert r["chunk_fp"] == md5_hex(chunk)
            assert r["n_toks"] == len(chunk.split(" "))


def test_cdc_chunking_is_shift_robust():
    # THE property fixed-width slicing lacks: prepending a sentence must
    # leave the chunk fingerprints of the untouched tail intact
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps near the warm stove and the rain falls softly outside "
        "the old wooden house on the quiet hill beyond the river"
    )
    shifted = "breaking news update " + base
    a, b = _cdc_chunks(base), _cdc_chunks(shifted)
    # all but the first chunk(s) around the insertion survive verbatim
    common = set(a) & set(b)
    assert len(common) >= len(a) - 2, (a, b)


# ----------------------------------------------------------------------- PCA


def test_pca_aligns_with_numpy_eigenvector(spark):
    import numpy as np

    emb = load(spark, SF0001, "embeddings").select("vec_id", "embedding").collect()
    X = np.array([r[1] for r in emb], dtype=np.float64)
    Xc = X - X.mean(axis=0)
    cov = Xc.T @ Xc
    vals = np.linalg.eigvalsh(cov)
    rows = sorted(queries()["embedding_pca_top_component"](spark, SF0001).collect(), key=lambda r: r["dim"])
    v = np.array([r["pc1_x1e9"] for r in rows], dtype=np.float64)
    v /= np.linalg.norm(v)
    rq = v @ cov @ v
    ones = np.ones(64) / 8.0
    # this corpus's spectrum is nearly flat (λ1/λ2 ≈ 1.07), so 3 rounds
    # cannot pin the exact eigenvector — assert the power-iteration
    # INVARIANT instead: the Rayleigh quotient amplifies strictly past the
    # start vector and lands in the top of the spectrum
    assert rq > ones @ cov @ ones, (rq, vals[-1])
    assert rq >= 0.75 * vals[-1], (rq, vals[-1])
    assert rq <= vals[-1] + 1e-9


# ---------------------------------------------------------------------- UUID


def test_uuid3_layout_and_determinism(spark):
    rows = queries()["fn_uuid3_name_based"](spark, SF0001).collect()
    import re

    pat = re.compile(r"^[0-9a-f]{8}-[0-9a-f]{4}-3[0-9a-f]{3}-[89ab][0-9a-f]{3}-[0-9a-f]{12}$")
    c = {r[0]: r[1] for r in load(spark, SF0001, "customer").select("c_custkey", "c_name").collect()}
    for r in rows:
        assert pat.match(r["uuid"]), r["uuid"]
        assert r["version_ok"] and r["variant_ok"]
        d = md5_hex(f"uuid3:customers:{c[r['c_custkey']]}")
        assert r["uuid"].replace("-", "")[:12] == d[:12]  # prefix passes through
    assert len({r["uuid"] for r in rows}) == len(rows)  # injective on this corpus
