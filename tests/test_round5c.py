"""Brute-force cross-checks for the round-5 statistical kernels: the
oracle proves Spark==DuckDB; these prove both equal a from-first-principles
Python computation on the same inputs."""

import math

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001, to_cents


def test_ks_statistic_matches_bruteforce(spark):
    rows = load(spark, SF0001, "documents").select("source", "n_chars").collect()
    g1 = sorted(r["n_chars"] for r in rows if int(r["source"][3:]) < 10)
    g2 = sorted(r["n_chars"] for r in rows if int(r["source"][3:]) >= 10)
    values = sorted(set(g1) | set(g2))
    import bisect

    d = max(
        abs(
            bisect.bisect_right(g1, v) * len(g2)
            - bisect.bisect_right(g2, v) * len(g1)
        )
        for v in values
    )
    got = queries()["agg_ks_two_sample"](spark, SF0001).collect()[0]
    assert got["n1"] == len(g1) and got["n2"] == len(g2)
    assert got["d_num"] == d
    assert got["ks_x1e6"] == math.floor(d / (len(g1) * len(g2)) * 1e6 + 0.5)


def test_gini_matches_bruteforce(spark):
    by_cust = {}
    for r in load(spark, SF0001, "orders").select("o_custkey", "o_totalprice").collect():
        by_cust[r["o_custkey"]] = by_cust.get(r["o_custkey"], 0) + to_cents(
            r["o_totalprice"]
        )
    xs = [c for _, c in sorted(by_cust.items(), key=lambda kv: (kv[1], kv[0]))]
    n, s = len(xs), sum(xs)
    ws = sum((2 * (i + 1) - 1) * x for i, x in enumerate(xs))
    expect = math.floor((ws / (n * float(s)) - 1.0) * 1e6 + 0.5)
    got = queries()["analytics_gini_coefficient"](spark, SF0001).collect()[0]
    assert got["n"] == n and got["total_cents"] == s
    assert got["gini_x1e6"] == expect
    assert 0 <= got["gini_x1e6"] <= 1_000_000


def test_cusum_equals_reset_recurrence(spark):
    """The windowed identity cumsum - running_min must equal Page's
    explicit reset recurrence S_t = max(0, S_{t-1} + dev_t)."""
    import statistics

    ev = (
        load(spark, SF0001, "events")
        .select("event_type", "ts", "event_id", "value")
        .collect()
    )
    by_type = {}
    for r in ev:
        by_type.setdefault(r["event_type"], []).append(r)
    got = {r["event_type"]: r for r in queries()["ts_cusum_changepoint"](spark, SF0001).collect()}
    for etype, rows in by_type.items():
        rows.sort(key=lambda r: (r["ts"], r["event_id"]))
        cents = [to_cents(r["value"]) for r in rows]
        med2 = round(2 * statistics.median(cents))
        s = 0
        peak = 0
        alarms = 0
        for c in cents:
            s = max(0, s + 2 * c - med2)
            peak = max(peak, s)
            if s > 2000000:
                alarms += 1
        assert got[etype]["max_cusum2"] == peak, etype
        assert got[etype]["n_alarms"] == alarms, etype


def test_moving_median_matches_bruteforce(spark):
    import statistics

    hourly = {}
    for r in load(spark, SF0001, "events").select("event_type", "ts", "value").collect():
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        k = (r["event_type"], h)
        hourly[k] = hourly.get(k, 0) + to_cents(r["value"])
    series = {}
    for (etype, h), c in hourly.items():
        series.setdefault(etype, []).append((h, c))
    got = {
        (r["event_type"], r["h"]): r["med2"]
        for r in queries()["ts_moving_median"](spark, SF0001).collect()
    }
    n_checked = 0
    for etype, pts in series.items():
        pts.sort()
        vals = [c for _, c in pts]
        for i in range(12, len(pts) - 12):
            window = sorted(vals[i - 12 : i + 13])
            med2 = window[12] + window[12]  # 25 elements -> middle twice
            assert got[(etype, pts[i][0])] == med2
            n_checked += 1
    assert n_checked > 0


def test_autocorrelation_matches_numpy(spark):
    import numpy as np

    hourly = {}
    for r in load(spark, SF0001, "events").select("event_type", "ts", "value").collect():
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        k = (r["event_type"], h)
        hourly[k] = hourly.get(k, 0) + to_cents(r["value"])
    series = {}
    for (etype, h), c in hourly.items():
        series.setdefault(etype, []).append((h, c))
    got = {
        (r["event_type"], r["lag"]): r["acf_x1e6"]
        for r in queries()["ts_autocorrelation"](spark, SF0001).collect()
    }
    for etype, pts in series.items():
        pts.sort()
        xs = np.array([c for _, c in pts], dtype=float)
        for k in (1, 24):
            if len(xs) <= k:
                continue
            r = np.corrcoef(xs[k:], xs[:-k])[0, 1]
            assert abs(got[(etype, k)] - math.floor(r * 1e6 + 0.5)) <= 1, (etype, k)


def test_trending_decayed_matches_direct_sum(spark):
    rows = load(spark, SF0001, "events").select("event_type", "ts").collect()
    t_now = max(r["ts"] for r in rows)
    expect = {}
    for r in rows:
        age_us = (t_now - r["ts"]).total_seconds() * 1e6
        w = math.floor(2.0 ** (-(age_us / 604800000000.0)) * 1e9 + 0.5)
        expect[r["event_type"]] = expect.get(r["event_type"], 0) + w
    got = {
        r["event_type"]: r["decayed_count_x1e9"]
        for r in queries()["analytics_trending_decayed"](spark, SF0001).collect()
    }
    for etype, total in expect.items():
        # per-term quantization is exact; allow <= n ulp slack for the
        # float age computation difference (timedelta vs unix_micros)
        assert abs(got[etype] - total) <= 5, etype


def test_dsir_score_replicates_for_one_doc(spark):
    import hashlib

    docs = load(spark, SF0001, "documents").select("doc_id", "lang", "text").collect()

    def buckets(text):
        out = []
        for w in text.lower().split(" "):
            if w:
                out.append(int(hashlib.md5(w.encode()).hexdigest()[:8], 16) % 1024)
        return out

    ct, cr = {}, {}
    for r in docs:
        tgt = r["lang"] == "en"
        for b in buckets(r["text"]):
            (ct if tgt else cr)[b] = (ct if tgt else cr).get(b, 0) + 1
    t, rsum = sum(ct.values()), sum(cr.values())
    lr = {}
    for b in set(ct) | set(cr):
        lr[b] = math.floor(
            (
                math.log((ct.get(b, 0) + 0.5) / (t + 512.0))
                - math.log((cr.get(b, 0) + 0.5) / (rsum + 512.0))
            )
            * 1e6
            + 0.5
        )
    got = {r["doc_id"]: r for r in queries()["curation_importance_resampling"](spark, SF0001).collect()}
    assert got, "selection must be non-empty"
    checked = 0
    for r in docs:
        if r["lang"] == "en" or r["doc_id"] not in got:
            continue
        score = sum(lr[b] for b in buckets(r["text"]))
        assert got[r["doc_id"]]["score_fp"] == score, r["doc_id"]
        checked += 1
    assert checked > 0
