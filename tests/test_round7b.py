"""Round-7b: brute-force third witnesses for replay-style oracles in the
rounds-8/9 gate tail (README third-witness rule).  Each test recomputes
the query's ground truth from the parquet in pure Python/numpy — fully
independent of BOTH the Spark implementation and the DuckDB oracle, which
share the algorithm for these queries and so could share a bug."""

import hashlib
from collections import Counter

import numpy as np
import pyarrow.parquet as pq

from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001, SF001


def test_pseudonymize_matches_hashlib(spark):
    """Both engines build 'user_' + md5('salt2026:'+key)[:12] — a shared
    digest pipeline.  hashlib recomputes tokens and the >=20 aggregation
    from the raw parquet (sf0.01: exactly the 6 heavy customers qualify,
    so the HAVING gate is exercised non-trivially)."""
    custkeys = pq.read_table(
        SF001 + "/orders.parquet", columns=["o_custkey"]
    ).column(0).to_pylist()
    per_key = Counter(custkeys)

    def tok(k):
        return "user_" + hashlib.md5(f"salt2026:{k}".encode()).hexdigest()[:12]

    want = {
        tok(k): (n, 1) for k, n in per_key.items() if n >= 20
    }
    assert len(want) == 6  # non-trivial: the gate actually filters
    got = {
        r["pseud"]: (r["n_orders"], r["n_raw_keys"])
        for r in queries()["fn_pseudonymize_consistent"](spark, SF001).collect()
    }
    assert got == want
    # joinability contract: no token collision across ALL keys, not just
    # the heavy ones (48-bit token space, 1500 keys)
    assert len({tok(k) for k in per_key}) == len(per_key)


def test_matryoshka_rerank_matches_numpy(spark):
    """Coarse-by-16-dim-prefix then full-dim rerank, replayed in numpy.
    Also proves no cosine in this corpus sits within 1e-9 of a 6dp
    rounding boundary, so the implementation's round-half-even and the
    oracle's round-half-up cannot diverge here."""
    t = pq.read_table(SF0001 + "/embeddings.parquet")
    ids = np.array(t.column("vec_id").to_pylist(), dtype=np.int64)
    mat = np.stack([np.asarray(v, dtype=np.float64) for v in t.column("embedding").to_pylist()])
    order = np.argsort(ids)
    ids, mat = ids[order], mat[order]
    D0, C, K = 16, 20, 5

    def cos_rounded(a, b):
        c = float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))
        # rounding-boundary guard: no cosine in this corpus sits near a
        # x.5e-6 tie, so half-up (oracle) and half-even (numpy/python)
        # produce the same 6dp value and the witness is mode-independent
        frac = (c * 1e6) % 1.0
        assert abs(frac - 0.5) > 1e-6, c
        return round(c, 6)

    want = set()
    for qi in np.where(ids < 10)[0]:
        scored = [
            (cos_rounded(mat[qi][:D0], mat[ci][:D0]), int(ids[ci]))
            for ci in range(len(ids)) if ci != qi
        ]
        coarse = sorted(scored, key=lambda t2: (-t2[0], t2[1]))[:C]
        rer = [
            (cos_rounded(mat[qi], mat[np.searchsorted(ids, nid)]), nid, crnk + 1)
            for crnk, (_, nid) in enumerate(coarse)
        ]
        for rnk, (c, nid, crnk) in enumerate(
            sorted(rer, key=lambda t3: (-t3[0], t3[1]))[:K], start=1
        ):
            want.add((int(ids[qi]), nid, crnk, c, rnk))
    got = {
        (r["query_id"], r["neighbor_id"], r["coarse_rnk"],
         round(r["cosine"], 6), r["rnk"])
        for r in queries()["ann_matryoshka_rerank"](spark, SF0001).collect()
    }
    assert got == want and len(want) == 10 * K


def test_random_walk_matches_python(spark):
    """The walk policy (md5-argmin neighbor choice per step) is replayed
    by the oracle SQL step-for-step; this witness replays it from first
    principles: rebuild the co-purchase graph from raw parquet, walk 4
    steps with hashlib, compare every (walk, step, node)."""
    li = pq.read_table(SF0001 + "/lineitem.parquet", columns=["l_orderkey", "l_partkey"])
    orders = pq.read_table(SF0001 + "/orders.parquet", columns=["o_orderkey", "o_custkey"])
    ok2ck = dict(zip(orders.column(0).to_pylist(), orders.column(1).to_pylist()))
    cp = set()
    for ok, pk in zip(li.column(0).to_pylist(), li.column(1).to_pylist()):
        if pk % 10 == 0:
            cp.add((ok2ck[ok], pk))
    by_c = {}
    for c, p in cp:
        by_c.setdefault(c, set()).add(p)
    cooc = Counter()
    for parts in by_c.values():
        sp = sorted(parts)
        for i, pa in enumerate(sp):
            for pb in sp[i + 1:]:
                cooc[(pa, pb)] += 1
    und = {}
    for (pa, pb), n in cooc.items():
        if n >= 2:
            und.setdefault(pa, set()).add(pb)
            und.setdefault(pb, set()).add(pa)
    want = set()
    for seed in sorted(und):
        if seed % 50 != 0:
            continue
        want.add((seed, 0, seed))
        node = seed
        for step in range(1, 5):
            nbrs = und.get(node)
            if not nbrs:
                break
            node = min(
                nbrs,
                key=lambda d: hashlib.md5(
                    f"walk:{seed}:{step}:{node}:{d}".encode()
                ).hexdigest(),
            )
            want.add((seed, step, node))
    got = {
        (r["walk_id"], r["step"], r["node"])
        for r in queries()["graph_random_walk"](spark, SF0001).collect()
    }
    assert got == want and want


def test_cell_level_diff_matches_python(spark):
    """The replica corruptions (k%97 status flip, k%131 cents drift) are
    replayed identically in the oracle; recompute the expected cell diff
    directly from the raw parquet."""
    t = pq.read_table(
        SF0001 + "/orders.parquet",
        columns=["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority"],
    )
    want = set()
    for k, st, price, pri in zip(*(t.column(i).to_pylist() for i in range(4))):
        if k > 6000:
            continue
        cents = int(np.floor(price * 100 + 0.5))
        if k % 97 == 0 and st != "X":
            want.add((k, "st", st, "X"))
        if k % 131 == 0:
            want.add((k, "cents", str(cents), str(cents + 7)))
    got = {
        (r["k"], r["col"], r["old_val"], r["new_val"])
        for r in queries()["elt_cell_level_diff"](spark, SF0001).collect()
    }
    assert got == want and want


def test_url_canonical_matches_urllib(spark):
    """URL synthesis AND canonicalization are replayed identically by the
    oracle; this witness re-derives both through urllib.parse (a third,
    structurally different parser) and a plain dict aggregation."""
    from urllib.parse import urlsplit

    doc_ids = pq.read_table(SF0001 + "/documents.parquet", columns=["doc_id"]).column(0).to_pylist()

    def synth(k):
        b = k // 4
        host = f"s{b % 7}.example.com"
        return [
            f"https://{host}/page/{b}?id={b}&p=1",
            f"HTTPS://{host.upper()}:443/page/{b}?id={b}&p=1",
            f"https://{host}/page/{b}?p=1&utm_source=news&id={b}",
            f"https://{host}/page/{b}?utm_campaign=x&id={b}&p=1#sec2",
        ][k % 4]

    agg = {}
    for k in doc_ids:
        u = urlsplit(synth(k))
        host = u.netloc.lower()
        host = host[:-4] if host.endswith(":443") else host
        params = sorted(
            kv for kv in u.query.split("&") if kv and not kv.startswith("utm_")
        )
        canon = u.scheme.lower() + "://" + host + u.path + (
            "?" + "&".join(params) if params else ""
        )
        n, keeper = agg.get(canon, (0, k))
        agg[canon] = (n + 1, min(keeper, k))
    got = {
        r["canonical_url"]: (r["n_variants"], r["keeper"])
        for r in queries()["dedup_url_canonical"](spark, SF0001).collect()
    }
    assert got == agg
    # the synthesis really exercises all four variant shapes into ONE key
    assert Counter(n for n, _ in agg.values())[4] > 0
