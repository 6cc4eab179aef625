"""Triple-witness tests for the eighth-wave operators (continuation
session): the oracle proves Spark==DuckDB; these prove both equal a
from-first-principles Python computation, and pin the plan properties
that make each operator scale."""

import hashlib
import math

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.plans import inspect
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import M12, SF0001, h12


# ---------------------------------------------------------------- KMV sketch


def _kmv_est(us, k=64):
    us = sorted(us)[:k]
    if len(us) < k:
        return len(us)
    return (k - 1) * M12 // us[-1]


def test_kmv_matches_bruteforce(spark):
    li = load(spark, SF0001, "lineitem").select("l_orderkey", "l_partkey").collect()
    o = {r[0]: r[1] for r in load(spark, SF0001, "orders").select("o_orderkey", "o_custkey").collect()}
    c = {r[0]: r[1] for r in load(spark, SF0001, "customer").select("c_custkey", "c_mktsegment").collect()}
    segs = {}
    for ok, pk in li:
        segs.setdefault(c[o[ok]], set()).add(pk)
    rows = queries()["agg_kmv_theta_sketch"](spark, SF0001).collect()
    assert rows, "no segment pairs"
    for r in rows:
        a, b = segs[r["seg_a"]], segs[r["seg_b"]]
        assert r["exact_intersect"] == len(a & b)
        assert r["exact_union"] == len(a | b)
        ua = [h12(f"kmv:{pk}") for pk in a]
        ub = [h12(f"kmv:{pk}") for pk in b]
        assert r["est_a"] == _kmv_est(ua)
        assert r["est_b"] == _kmv_est(ub)
        # merged sketch = re-min over the union of the two k-sets
        merged = set(sorted(ua)[:64]) | set(sorted(ub)[:64])
        assert r["est_union"] == _kmv_est(merged)
        assert r["est_intersect"] == r["est_a"] + r["est_b"] - r["est_union"]
        # sketch error sanity at this SF: within 60% of truth (k=64)
        if r["exact_union"] >= 64:
            assert abs(r["est_union"] - r["exact_union"]) <= 0.6 * r["exact_union"]


# ---------------------------------------------------------------- Theil-Sen


def test_theil_sen_matches_bruteforce(spark):
    ev = load(spark, SF0001, "events").select("event_type", "ts").collect()
    daily = {}
    for et, ts in ev:
        daily.setdefault(et, {}).setdefault(ts.date(), 0)
        daily[et][ts.date()] += 1

    def quant(x):
        return math.floor(x * 1e9 + 0.5) / 1e9

    def rank_median(vals):
        vals = sorted(vals)
        n = len(vals)
        return quant((vals[(n + 1) // 2 - 1] + vals[n // 2]) / 2)

    rows = {r["event_type"]: r for r in queries()["ts_theil_sen"](spark, SF0001).collect()}
    assert rows
    for et, days in daily.items():
        pts = [((d - __import__("datetime").date(1970, 1, 1)).days, float(y)) for d, y in days.items()]
        slopes = [
            (y2 - y1) / (x2 - x1)
            for i, (x1, y1) in enumerate(pts)
            for (x2, y2) in pts[i + 1 :]
            if x2 != x1
        ]
        # pts unordered: recompute honoring x order
        slopes = []
        spts = sorted(pts)
        for i in range(len(spts)):
            for j in range(i + 1, len(spts)):
                slopes.append((spts[j][1] - spts[i][1]) / (spts[j][0] - spts[i][0]))
        slope = rank_median(slopes)
        icept = rank_median([y - slope * x for x, y in pts])
        r = rows[et]
        assert r["n_pairs"] == len(slopes)
        assert r["n_points"] == len(pts)
        assert r["slope_x1e9"] == math.floor(slope * 1e9 + 0.5)
        assert r["intercept_x1e9"] == math.floor(icept * 1e9 + 0.5)


# ------------------------------------------------------------ Allen algebra


def _allen(a_s, a_e, b_s, b_e):
    if a_e < b_s:
        return "before"
    if a_e == b_s:
        return "meets"
    if a_s > b_e:
        return "after"
    if a_s == b_e:
        return "met_by"
    if a_s == b_s and a_e == b_e:
        return "equals"
    if a_s == b_s and a_e < b_e:
        return "starts"
    if a_s == b_s:
        return "started_by"
    if a_e == b_e and a_s > b_s:
        return "finishes"
    if a_e == b_e:
        return "finished_by"
    if a_s > b_s and a_e < b_e:
        return "during"
    if a_s < b_s and a_e > b_e:
        return "contains"
    if a_s < b_s:
        return "overlaps"
    return "overlapped_by"


def test_allen_matches_bruteforce(spark):
    import datetime as dt

    orders = load(spark, SF0001, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    ).collect()
    byc = {}
    for ck, ok, od in orders:
        d = od.date()
        byc.setdefault(ck, []).append((ok, d, d + dt.timedelta(days=ok % 20 + 3)))
    expected = {}
    for ivs in byc.values():
        ivs.sort()
        for i in range(len(ivs)):
            for j in range(i + 1, len(ivs)):
                rel = _allen(ivs[i][1], ivs[i][2], ivs[j][1], ivs[j][2])
                expected[rel] = expected.get(rel, 0) + 1
    got = {r["relation"]: r["n_pairs"] for r in queries()["join_allen_intervals"](spark, SF0001).collect()}
    assert got == expected
    assert sum(got.values()) == sum(len(v) * (len(v) - 1) // 2 for v in byc.values())


# -------------------------------------------------------- weighted reservoir


def test_reservoir_matches_bruteforce(spark):
    docs = load(spark, SF0001, "documents").select("doc_id", "source", "n_chars").collect()
    per_src = {}
    for doc_id, src, n_chars in docs:
        u = h12(f"res:{doc_id}") / float(M12)
        t = min(3, n_chars // 500)
        k = u
        for _ in range(t):
            k = math.sqrt(k)
        per_src.setdefault(src, []).append((-k, doc_id, t))
    expected = set()
    for src, lst in per_src.items():
        lst.sort()
        for rnk, (_, doc_id, t) in enumerate(lst[:40], start=1):
            expected.add((src, rnk, doc_id, t))
    got = {
        (r["source"], r["rnk"], r["doc_id"], r["tier"])
        for r in queries()["curation_weighted_reservoir"](spark, SF0001).collect()
    }
    assert got == expected


def test_reservoir_single_exchange(spark):
    # key computation is codegen-narrow; the only shuffle is the per-source
    # top-k window
    df = queries()["curation_weighted_reservoir"](spark, SF0001)
    assert inspect.exchange_count(df) == 1, inspect.physical_plan(df)


# ------------------------------------------------------------- DP mechanism

_DP_CUM = [1, 3, 7, 15, 31, 63, 127, 159, 175, 183, 187, 189, 190]


def test_dp_noise_matches_mechanism(spark):
    rows = queries()["sec_dp_noisy_counts"](spark, SF0001).collect()
    assert rows
    for r in rows:
        u190 = h12(f"dp:{r['c_nationkey']}:{r['c_mktsegment']}") * 190
        k = next(i - 6 for i, c in enumerate(_DP_CUM) if u190 < c * M12)
        assert r["noise"] == k
        assert -6 <= r["noise"] <= 6
        assert r["noisy_count"] == r["true_count"] + r["noise"]


# ----------------------------------------------------------------- Benford


def test_benford_matches_bruteforce(spark):
    prices = [r[0] for r in load(spark, SF0001, "orders").select("o_totalprice").collect()]
    digits = {}
    for p in prices:
        d = int(str(math.floor(p * 100 + 0.5))[0])
        digits[d] = digits.get(d, 0) + 1
    n = len(prices)
    rows = {r["digit"]: r for r in queries()["dq_benford_law"](spark, SF0001).collect()}
    assert set(rows) == set(digits)
    for d, cnt in digits.items():
        r = rows[d]
        assert r["n_obs"] == cnt
        assert r["obs_ppm"] == math.floor(cnt * 1e6 / n + 0.5)
        assert r["exp_ppm"] == math.floor(math.log10(1 + 1 / d) * 1e6 + 0.5)
        assert r["dev_ppm"] == r["obs_ppm"] - r["exp_ppm"]


# ---------------------------------------------------------- backfill planner


def test_backfill_islands_partition_missing_days(spark):
    import datetime as dt

    days = {}
    for (od,) in load(spark, SF0001, "orders").select("o_orderdate").collect():
        days[od.date()] = days.get(od.date(), 0) + 1
    lo, hi = min(days), max(days)
    present = {
        d for d in days
        if hashlib.md5(f"bf:{d.isoformat()}".encode()).hexdigest()[0] != "0"
    }
    missing = []
    d = lo
    while d <= hi:
        if d not in present:
            missing.append(d)
        d += dt.timedelta(days=1)
    rows = queries()["elt_backfill_planner"](spark, SF0001).collect()
    covered = []
    for r in rows:
        assert r["start_date"] <= r["end_date"]
        assert r["n_days"] == (r["end_date"] - r["start_date"]).days + 1
        assert r["est_rows"] == sum(
            days.get(r["start_date"] + dt.timedelta(days=i), 0)
            for i in range(r["n_days"])
        )
        covered.extend(
            r["start_date"] + dt.timedelta(days=i) for i in range(r["n_days"])
        )
    # jobs exactly tile the missing set, in maximal contiguous runs
    assert sorted(covered) == missing
    starts = {r["start_date"] for r in rows}
    for d in missing:
        prev_missing = (d - dt.timedelta(days=1)) in missing
        assert (d in starts) == (not prev_missing)


# -------------------------------------------------------------------- HITS


def test_hits_scores_normalized_and_converging(spark):
    rows = queries()["graph_hits"](spark, SF0001).collect()
    assert len(rows) == 25
    auths = [r["auth_x1e9"] for r in rows]
    hubs = [r["hub_x1e9"] for r in rows]
    # max-normalized: the best authority / hub sits exactly at 1e9
    assert max(auths) == 10**9
    assert max(hubs) == 10**9
    assert all(0 <= v <= 10**9 for v in auths + hubs)
    # positivity is structural: a nation scores as authority iff some edge
    # points at it (supplier side), as hub iff it sources one (customer
    # side) — sf0.001 has only ~10 suppliers, so most in-degrees are zero
    li = load(spark, SF0001, "lineitem").select("l_orderkey", "l_suppkey").collect()
    o = {r[0]: r[1] for r in load(spark, SF0001, "orders").select("o_orderkey", "o_custkey").collect()}
    c = {r[0]: r[1] for r in load(spark, SF0001, "customer").select("c_custkey", "c_nationkey").collect()}
    s = {r[0]: r[1] for r in load(spark, SF0001, "supplier").select("s_suppkey", "s_nationkey").collect()}
    srcs = {c[o[ok]] for ok, sk in li}
    dsts = {s[sk] for ok, sk in li}
    for r in rows:
        assert (r["auth_x1e9"] > 0) == (r["n_nationkey"] in dsts), r
        assert (r["hub_x1e9"] > 0) == (r["n_nationkey"] in srcs), r
