"""Round-10 additions (ADVICE r9 closures).

1. Delimiter-sniffed feed: only the FINAL trailing newline is stripped —
   an interior blank line is a corruption signal and must surface as a
   visible all-null row, not vanish silently (ADVICE r9 item 4; the r9
   guard filtered every empty line).
2. A ``"\\n\\n"`` tail: the final newline is stripped, the now-final blank
   line stays visible (the ``\\z`` anchor vs the ``$``-eats-two hazard).
"""

from tests.conftest import SF0001


def test_sniffer_interior_blank_line_stays_visible(spark):
    """An interior blank line — a corruption the consistent producer never
    emits — must parse into a visible all-null row, not disappear."""
    from gcp_cloudsql_to_bigquery_spark.sources.files import sniff_and_parse_feed

    content = "custkey,name,segment\n1,ALICE,AUTO\n\n2,BOB,MACHINERY\n"
    feeds = spark.createDataFrame([(0, content)], "shard int, content string")
    rows = sniff_and_parse_feed(feeds).collect()
    assert len(rows) == 3, rows  # 2 data rows + 1 visible junk row
    junk = [r for r in rows if r["custkey"] is None]
    assert len(junk) == 1
    assert junk[0]["name"] is None and junk[0]["segment"] is None
    keys = sorted(r["custkey"] for r in rows if r["custkey"] is not None)
    assert keys == [1, 2]


def test_sniffer_double_trailing_newline_keeps_one_blank(spark):
    """A feed ending in two newlines: exactly ONE is the delivery artifact;
    the blank line before it is data-side corruption and stays visible."""
    from gcp_cloudsql_to_bigquery_spark.sources.files import sniff_and_parse_feed

    content = "custkey,name,segment\n1,ALICE,AUTO\n\n"
    feeds = spark.createDataFrame([(0, content)], "shard int, content string")
    rows = sniff_and_parse_feed(feeds).collect()
    assert len(rows) == 2, rows  # 1 data row + 1 visible blank-line row
    assert sorted([r["custkey"] for r in rows], key=lambda x: (x is None, x)) == [1, None]


# --- round-10 registry additions (gap analysis, VERDICT r9 item 2) ----------


def _py_shingles(text: str) -> set:
    """Pure-Python mirror of SHINGLE_EXPR: distinct char 3-grams at
    1-indexed positions 1..max(len-2, 1)."""
    return {text[i - 1 : i + 2] for i in range(1, max(len(text) - 2, 1) + 1)}


def test_stream_lsh_dedup_ttl_matches_python_bruteforce(spark):
    """Third witness (pure Python, independent of Spark AND DuckDB): the
    streaming TTL dedup's verified pairs equal the exact all-pairs Jaccard
    >= 0.8 within the TTL window, computed row-by-row from the parquet."""
    import pyarrow.parquet as pq

    from gcp_cloudsql_to_bigquery_spark.streaming.elt import (
        _LSH_TTL,
        stream_lsh_dedup_ttl,
    )

    tbl = pq.read_table(f"{SF0001}/documents.parquet", columns=["doc_id", "text"])
    docs = sorted(zip(tbl["doc_id"].to_pylist(), tbl["text"].to_pylist()))
    sh = {d: _py_shingles(t) for d, t in docs}
    expect = {}
    ids = [d for d, _ in docs]
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            if b - a > _LSH_TTL:
                continue
            inter = len(sh[a] & sh[b])
            jac = round(inter / (len(sh[a]) + len(sh[b]) - inter), 6)
            if jac >= 0.8:
                expect[(a, b)] = jac
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in stream_lsh_dedup_ttl(spark, SF0001).collect()
    }
    assert set(got) == set(expect), (
        sorted(set(expect) - set(got)),
        sorted(set(got) - set(expect)),
    )
    for k, v in expect.items():
        assert abs(got[k] - v) < 1e-9, (k, got[k], v)


def test_ann_recall_report_matches_manual_intersection(spark):
    """The report layer (join/agg/floor) witnessed against a manual
    intersection: numpy exact top-5 vs each method's own collected top-5."""
    import math

    import numpy as np
    import pyarrow.parquet as pq

    from gcp_cloudsql_to_bigquery_spark.operators import similarity as S

    tbl = pq.read_table(f"{SF0001}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = np.array(tbl["vec_id"].to_pylist())
    mat = np.array(tbl["embedding"].to_pylist(), dtype=np.float64)
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    norms = np.linalg.norm(mat, axis=1)
    q_mask = ids < 10
    cos = np.round(mat[q_mask] @ mat.T / np.outer(norms[q_mask], norms), 6)
    exact = set()
    for qi, qid in enumerate(ids[q_mask]):
        mask = ids != qid
        cand_ids, cand_cos = ids[mask], cos[qi][mask]
        for j in np.lexsort((cand_ids, -cand_cos))[:5]:
            exact.add((int(qid), int(cand_ids[j])))
    n_q = int(q_mask.sum())
    assert len(exact) == 5 * n_q

    rep = {r["method"]: r for r in S.ann_recall_report(spark, SF0001).collect()}
    fns = {
        "ann_ivf_topk": S.ann_ivf_topk,
        "ann_ivf_kmeans_topk": S.ann_ivf_kmeans_topk,
        "ann_ivfpq_topk": S.ann_ivfpq_topk,
        "ann_matryoshka_rerank": S.ann_matryoshka_rerank,
        "ann_pq_topk": S.ann_pq_topk,
        "ann_pq_rerank": S.ann_pq_rerank,
    }
    assert set(rep) == set(fns)
    for m, fn in fns.items():
        approx = {
            (r["query_id"], r["neighbor_id"]) for r in fn(spark, SF0001).collect()
        }
        hits = len(exact & approx)
        assert rep[m]["n_queries"] == n_q, m
        assert rep[m]["hits"] == hits, (m, rep[m]["hits"], hits)
        assert rep[m]["recall_at5_x1e4"] == math.floor(
            hits * 1e4 / len(exact) + 0.5
        ), m


def test_banded_buckets_shift_invariant(spark):
    """Regression for the transform-arity bug: a two-parameter lambda
    (``lambda s, i=i:``) is called by ``F.transform`` as (element, INDEX),
    so the array index silently shadowed the minhash seed and coupled
    every hash to shingle POSITION — two near-identical docs offset by a
    3-char prefix then shared ZERO bands (caught live at sf0.1: a
    j=0.983 pair missed).  Correct MinHash is position-free: the shifted
    pair must collide on (nearly) every band."""
    from collections import defaultdict

    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _banded_buckets

    t = "the quick brown fox jumps over the lazy dog " * 10
    docs = spark.createDataFrame(
        [(0, t), (1, "xy " + t)], "doc_id long, text string"
    )
    m = defaultdict(dict)
    for r in _banded_buckets(docs).collect():
        m[r["band"]][r["doc_id"]] = r["bucket"]
    shared = sum(
        1 for d in m.values() if len(d) == 2 and len(set(d.values())) == 1
    )
    assert shared >= 8, f"only {shared}/16 bands shared — position-coupled hash?"


def test_row_minhash_sig_equals_batch_minhash_signatures(spark):
    """Equivalence net for the arity bug class: the streaming per-row
    signature expression must produce BIT-IDENTICAL values to the batch
    explode/groupBy ``minhash_signatures`` on random documents — any
    silent divergence between the two formulations (position coupling,
    seed shadowing, hash-argument drift) fails here instead of as a
    recall loss at some SF."""
    import random

    from gcp_cloudsql_to_bigquery_spark.operators.dedup import (
        minhash_signatures,
        with_shingles,
    )
    from gcp_cloudsql_to_bigquery_spark.streaming.elt import _row_minhash_sig

    r = random.Random(99)
    docs = spark.createDataFrame(
        [
            (
                i,
                " ".join(
                    "".join(
                        r.choice("abcdefghijklmnopqrstuvwxyz0123456789 .,")
                        for _ in range(r.randint(3, 9))
                    )
                    for _ in range(r.randint(5, 40))
                ),
            )
            for i in range(40)
        ],
        "doc_id long, text string",
    )
    sh = with_shingles(docs)
    batch = {r_["doc_id"]: list(r_["sig"]) for r_ in minhash_signatures(sh).collect()}
    mine = {
        r_["doc_id"]: list(r_["sig"])
        for r_ in sh.withColumn("sig", _row_minhash_sig()).select("doc_id", "sig").collect()
    }
    assert batch == mine


def test_sniffer_roundtrip_property(spark):
    """Property test over the r10-changed sniffer read-side: random rows
    rendered with each delimiter (with and without the trailing-newline
    delivery artifact) must parse back exactly, with the right delimiter
    detected."""
    import random

    from gcp_cloudsql_to_bigquery_spark.sources.files import sniff_and_parse_feed

    r = random.Random(4)
    delims = {",": "comma", "|": "pipe", "\t": "tab"}
    feeds, expect = [], {}
    for shard, (d, name) in enumerate(
        (d, n) for d, n in delims.items() for _ in range(3)
    ):
        rows = [
            (
                r.randint(1, 10**6),
                "".join(r.choice("ABCDEFGHIJKLMNOPQRSTUVWXYZ ") for _ in range(r.randint(3, 12))).strip() or "X",
                r.choice(("AUTO", "MACHINERY", "FURNITURE")),
            )
            for _ in range(r.randint(1, 8))
        ]
        header = d.join(("custkey", "name", "segment"))
        body = "\n".join(d.join((str(k), nm, seg)) for k, nm, seg in rows)
        content = header + "\n" + body + ("\n" if r.random() < 0.5 else "")
        feeds.append((shard, content))
        expect[shard] = (name, sorted(rows))
    df = spark.createDataFrame(feeds, "shard int, content string")
    out = sniff_and_parse_feed(df)
    # group rows back per detected delimiter name; every shard must
    # round-trip its rows exactly and detect its own delimiter
    got = {}
    for row in out.collect():
        got.setdefault(row["detected"], []).append(
            (row["custkey"], row["name"], row["segment"])
        )
    for shard, (name, rows) in expect.items():
        for t in rows:
            assert t in got[name], (shard, t)
    # global row-count conservation: nothing dropped, nothing invented
    assert sum(len(v) for v in got.values()) == sum(
        len(rows) for _, rows in expect.values()
    )
