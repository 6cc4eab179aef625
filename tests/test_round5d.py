"""Triple-witness tests for the round-5 late additions (phash dedup,
correlation matrix, Holt smoothing): the oracle proves Spark==DuckDB; these
prove both equal a from-first-principles Python computation, and pin the
plan shapes that make each operator scale."""

import math

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.plans import inspect
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def _expected_phash(doc_id: int) -> str:
    h = doc_id % 48 + 8
    return "".join(
        "ff" if (i * h) // 8 + ((i + 1) * h) // 8 > h else "00" for i in range(8)
    )


def test_phash_matches_closed_form(spark):
    rows = queries()["multimodal_phash_dedup"](spark, SF0001).collect()
    assert rows, "no docs"
    by_hash = {}
    for r in rows:
        assert r["phash"] == _expected_phash(r["doc_id"]), r
        by_hash.setdefault(r["phash"], []).append(r)
    for members in by_hash.values():
        rep = min(m["doc_id"] for m in members)
        for m in members:
            assert m["cluster_size"] == len(members)
            assert m["rep_doc_id"] == rep
            assert m["is_dup"] == (len(members) > 1 and m["doc_id"] != rep)


def test_phash_single_exchange(spark):
    # synthesize -> decode -> hash are narrow mapInPandas stages; the ONLY
    # shuffle is the phash-partitioned cluster window (doc_id + 8-byte hash,
    # never the payload bytes)
    df = queries()["multimodal_phash_dedup"](spark, SF0001)
    assert inspect.exchange_count(df) == 1, inspect.physical_plan(df)


def _scaled_lineitem(spark):
    rows = (
        load(spark, SF0001, "lineitem")
        .select("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        .collect()
    )
    def c(v, k):  # exact integer scaling, Python bigints
        return math.floor(v * k + 0.5)
    return [
        (c(r[0], 1), c(r[1], 100), c(r[2], 100), c(r[3], 100)) for r in rows
    ]


def test_correlation_matrix_matches_bruteforce(spark):
    data = _scaled_lineitem(spark)
    n = len(data)
    cols = list(zip(*data))
    names = ["qty", "price", "disc", "tax"]
    got = {
        (r["x_name"], r["y_name"]): r
        for r in queries()["agg_correlation_matrix"](spark, SF0001).collect()
    }
    assert len(got) == 6
    for i in range(4):
        for j in range(i + 1, 4):
            x, y = cols[i], cols[j]
            sx, sy = sum(x), sum(y)
            sxx = sum(v * v for v in x)
            syy = sum(v * v for v in y)
            sxy = sum(a * b for a, b in zip(x, y))
            # exact Python ints -> double with the engines' op order
            r = (
                float(n * sxy - sx * sy)
                / math.sqrt(float(n * sxx - sx * sx))
                / math.sqrt(float(n * syy - sy * sy))
            )
            row = got[(names[i], names[j])]
            assert row["n_rows"] == n
            assert row["corr_x1e6"] == math.floor(r * 1e6 + 0.5), (names[i], names[j])


def test_correlation_matrix_plan(spark):
    # one pass over the fact table: a single partial-aggregated global agg
    # (one exchange of one 15-number state row per partition), melt is
    # explode on the 1-row result — no second scan
    df = queries()["agg_correlation_matrix"](spark, SF0001)
    plan = inspect.physical_plan(df)
    assert inspect.exchange_count(df) == 0, plan  # no hash/range shuffle at all
    assert plan.count("Exchange SinglePartition") == 1, plan
    assert "partial_sum" in plan, plan  # map-side combine of the 15 statistics
    scans = inspect.read_schema_columns(df)
    read = {c for cols in scans for c in cols}
    assert read <= {"l_quantity", "l_extendedprice", "l_discount", "l_tax"}, read


def test_holt_matches_bruteforce(spark):
    out = queries()["ts_holt_linear"](spark, SF0001).collect()
    series = {}
    for r in sorted(out, key=lambda r: (r["event_type"], r["h"])):
        series.setdefault(r["event_type"], []).append(r)
    assert series
    for rows in series.values():
        l = b = None
        for t, r in enumerate(rows):
            x = float(r["cents"])
            if t == 0:
                l, b = x, 0.0
            else:
                lt = 0.5 * x + 0.5 * (l + b)
                b = 0.5 * (lt - l) + 0.5 * b
                l = lt
            q = lambda v: math.floor(v / 100.0 * 1e4 + 0.5)  # noqa: E731
            assert r["level_x10k"] == q(l)
            assert r["trend_x10k"] == q(b)
            assert r["forecast_next_x10k"] == q(l + b)


def test_holt_two_exchanges(spark):
    # hourly pre-reduction (partial-agged groupBy) + the per-series
    # applyInPandas grouping — recursion itself adds no shuffle
    df = queries()["ts_holt_linear"](spark, SF0001)
    assert inspect.exchange_count(df) <= 2, inspect.physical_plan(df)


def _brute_phash(px_rows):
    """Independent aHash: explicit per-block pixel loops (no numpy, no
    integral image) over a row-major [[(r,g,b), ...], ...] image."""
    h, w = len(px_rows), len(px_rows[0])
    gray = [[sum(p) for p in row] for row in px_rows]
    total = sum(sum(row) for row in gray)
    out = []
    for i in range(8):
        a, b = i * h // 8, (i + 1) * h // 8
        byte = 0
        for j in range(8):
            c, d = j * w // 8, (j + 1) * w // 8
            s = sum(gray[y][x] for y in range(a, b) for x in range(c, d))
            if s * (h * w) > total * ((b - a) * (d - c)):
                byte |= 1 << (7 - j)
        out.append(byte)
    return bytes(out).hex()


def _striped_image(doc_id, n_chars):
    w, h, k = n_chars % 64 + 8, doc_id % 48 + 8, doc_id % 8
    lo, hi = (k * h + 7) // 8, ((k + 1) * h + 7) // 8
    return [
        [(doc_id % 256, 255 if lo <= y < hi else y, (doc_id * 31) % 256)] * w
        for y in range(h)
    ]


def test_phash_thumbnail_match_matches_bruteforce(spark):
    docs = load(spark, SF0001, "documents").select("doc_id", "n_chars").collect()
    oh, th = {}, {}
    import collections

    t_counts = collections.Counter()
    for r in docs:
        img = _striped_image(r["doc_id"], r["n_chars"])
        oh[r["doc_id"]] = _brute_phash(img)
        thumb = [row[::2] for row in img[::2]]
        t = _brute_phash(thumb)
        th[r["doc_id"]] = t
        t_counts[t] += 1

    def ham(a, b):
        return bin(int(a, 16) ^ int(b, 16)).count("1")

    got = {r["doc_id"]: r for r in queries()["multimodal_phash_thumbnail_match"](spark, SF0001).collect()}
    assert len(got) == len(docs)
    assert len(set(oh.values())) > 5, "fixture should give a diverse hash corpus"
    for doc_id, phash in oh.items():
        near = [(ham(phash, t), n) for t, n in t_counts.items() if ham(phash, t) <= 8]
        r = got[doc_id]
        assert r["phash"] == phash, doc_id
        assert r["n_thumb_matches"] == sum(n for _, n in near), doc_id
        assert r["best_hamming"] == (min(d for d, _ in near) if near else None), doc_id
