"""Triple-witness tests for the fourteenth-to-sixteenth-wave operators."""

import hashlib
import math

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


# ------------------------------------------------------------- Kneser-Ney


def test_kneser_ney_matches_bruteforce(spark):
    docs = load(spark, SF0001, "documents").select("doc_id", "text").collect()
    bi = {}
    for _, text in docs:
        toks = [t for t in text.lower().split(" ") if t]
        for a, b in zip(toks, toks[1:]):
            if b:
                bi[(a, b)] = bi.get((a, b), 0) + 1
    cw, n1p_fwd, n1p_rev = {}, {}, {}
    for (a, b), c in bi.items():
        cw[a] = cw.get(a, 0) + c
        n1p_fwd[a] = n1p_fwd.get(a, 0) + 1
        n1p_rev[b] = n1p_rev.get(b, 0) + 1
    nbt = len(bi)
    rows = queries()["text_bigram_kneser_ney"](spark, SF0001).collect()
    assert len(rows) == 200
    top = sorted(bi.items(), key=lambda kv: (-kv[1], kv[0]))[:200]
    assert {(r["w"], r["nxt"]) for r in rows} == {k for k, _ in top}
    for r in rows:
        w, nxt, cb = r["w"], r["nxt"], bi[(r["w"], r["nxt"])]
        assert r["cb"] == cb
        pkn = (
            max(cb - 0.75, 0.0) / cw[w]
            + 0.75 * n1p_fwd[w] / cw[w] * (n1p_rev[nxt] / nbt)
        )
        assert r["pkn_x1e9"] == math.floor(pkn * 1e9 + 0.5)
    # the KN property: probabilities are valid and discounted below MLE
    for r in rows:
        assert 0 < r["pkn_x1e9"] <= 10**9


# -------------------------------------------------------- point in polygon

_POLY = ((20000, 10000), (80000, 20000), (90000, 70000), (50000, 95000), (10000, 60000))


def test_point_in_polygon_matches_bruteforce(spark):
    rows = queries()["geo_point_in_polygon"](spark, SF0001).collect()
    assert rows
    n_in = 0
    for r in rows:
        x, y = r["x"], r["y"]
        inside = all(
            (x2 - x1) * (y - y1) - (y2 - y1) * (x - x1) >= 0
            for (x1, y1), (x2, y2) in zip(_POLY, _POLY[1:] + _POLY[:1])
        )
        assert r["inside"] == inside, r
        n_in += inside
    # the fence covers a substantial interior: both classes occur
    assert 0 < n_in < len(rows)


# ------------------------------------------------------ harmonic centrality


def test_harmonic_matches_bfs(spark):
    li = load(spark, SF0001, "lineitem").select("l_orderkey", "l_suppkey").collect()
    o = {
        r[0]: r[1]
        for r in load(spark, SF0001, "orders").select("o_orderkey", "o_custkey").collect()
    }
    c = {r[0]: r[1] for r in load(spark, SF0001, "customer").select("c_custkey", "c_nationkey").collect()}
    s = {r[0]: r[1] for r in load(spark, SF0001, "supplier").select("s_suppkey", "s_nationkey").collect()}
    adj = {}
    for ok, sk in li:
        a, b = c[o[ok]], s[sk]
        if a != b:
            adj.setdefault(a, set()).add(b)
            adj.setdefault(b, set()).add(a)
    got = {r["n_nationkey"]: r for r in queries()["graph_harmonic_centrality"](spark, SF0001).collect()}
    assert len(got) == 25
    for u in range(25):
        dist = {u: 0}
        frontier = {u}
        for d in range(1, 5):
            frontier = {v for f in frontier for v in adj.get(f, ()) if v not in dist}
            for v in frontier:
                dist[v] = d
        expect = sum(1_000_000 // d for v, d in dist.items() if d > 0)
        r = got[u]
        assert r["harmonic_x1e6"] == expect, (u, r)
        assert r["n_reached"] == len(dist) - 1


# ------------------------------------------------- geo nearest neighbor


def test_geo_nn_matches_allpairs(spark):
    cust = load(spark, SF0001, "customer").select("c_custkey").collect()

    def axis(tag, k):
        return int(hashlib.md5(f"{tag}{k}".encode()).hexdigest()[:5], 16) % 100_000

    pts = {k[0]: (axis("x", k[0]), axis("y", k[0])) for k in cust}
    got = {r["k"]: (r["nearest_k"], r["dist_sq"]) for r in queries()["join_geo_nearest_neighbor"](spark, SF0001).collect()}
    expected = {}
    for k, (x, y) in pts.items():
        best = None
        for k2, (x2, y2) in pts.items():
            if k2 == k:
                continue
            d2 = (x - x2) ** 2 + (y - y2) ** 2
            if d2 <= 700 * 700 and (best is None or (d2, k2) < best):
                best = (d2, k2)
        if best:
            expected[k] = (best[1], best[0])
    assert got == expected


# --------------------------------------------------------------- BMFF walk


def test_bmff_walk_rejects_bad_sizes(spark):
    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import (
        synthesize_bmff,
        walk_bmff,
    )

    ((_, payload),) = synthesize_bmff(5, 123)
    rows = list(walk_bmff(5, payload))
    assert [path for _, path, _, _ in rows] == [
        "/ftyp", "/moov", "/moov/mvhd", "/moov/trak", "/moov/trak/tkhd", "/mdat",
    ]
    # nested sizes are consistent: moov = header + children
    sizes = {path: size for _, path, size, _ in rows}
    assert sizes["/moov"] == 8 + sizes["/moov/mvhd"] + sizes["/moov/trak"]
    assert sizes["/moov/trak"] == 8 + sizes["/moov/trak/tkhd"]
    # corrupt a size field: the walker must refuse, not mis-walk
    import struct

    b = bytearray(payload)
    struct.pack_into(">I", b, 0, 7)  # ftyp size < 8
    try:
        next(walk_bmff(5, bytes(b)))
        raise AssertionError("expected ValueError on bad box size")
    except ValueError:
        pass


# ------------------------------------------------- streaming python source


def test_export_queue_reader_offset_contract():
    from gcp_cloudsql_to_bigquery_spark.sources.pysource import ExportQueueStreamReader

    r = ExportQueueStreamReader({"path": f"{SF0001}/customer.parquet"})
    off = r.initialOffset()
    seen = []
    for _ in range(6):
        rows, nxt = r.read(off)
        rows = list(rows)
        if nxt == off:
            assert rows == []  # drained queue must not advance
            break
        assert rows, "advancing offset must carry rows at this SF"
        seen.extend(rows)
        off = nxt
    ks = [k for k, _, _ in seen]
    assert len(ks) == len(set(ks))  # exactly-once across blocks
    # block lineage is consistent with key ranges
    for k, _, block in seen:
        assert k // 500 == block
