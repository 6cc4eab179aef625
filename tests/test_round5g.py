"""Triple-witness tests for the tenth-to-thirteenth-wave operators:
independent Python recomputation of each kernel at sf0.001."""

import datetime as dt
import math

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001, events_rows, td_us


# --------------------------------------------------------- peak concurrency


def test_peak_concurrency_matches_sweep(spark):
    evs = events_rows(spark)
    got = {r["event_type"]: r for r in queries()["analytics_peak_concurrency"](spark, SF0001).collect()}
    by_type = {}
    for r in evs:
        by_type.setdefault(r["event_type"], []).append(r["ts"])
    for et, times in by_type.items():
        deltas = [(t, 1) for t in times] + [(t + dt.timedelta(minutes=30), -1) for t in times]
        deltas.sort()  # (t, d) with -1 < 1 at equal t — same policy as the query
        run = peak = 0
        first_at = None
        for t, d in deltas:
            run += d
            if run > peak:
                peak, first_at = run, t
        assert got[et]["peak"] == peak, et
        assert got[et]["first_peak_at"] == first_at, et


# -------------------------------------------------------------- max drawdown


def test_max_drawdown_matches_bruteforce(spark):
    evs = events_rows(spark)
    daily = {}
    for r in evs:
        key = (r["event_type"], r["ts"].date())
        daily[key] = daily.get(key, 0) + math.floor((r["value"] - 50.0) * 100 + 0.5)
    got = {r["event_type"]: r for r in queries()["ts_max_drawdown"](spark, SF0001).collect()}
    by_type = {}
    for (et, d), net in daily.items():
        by_type.setdefault(et, []).append((d, net))
    for et, series in by_type.items():
        series.sort()
        # running max seeds from the FIRST day's equity (the window has no
        # implicit 0), matching the query's unbounded-preceding max
        equity, peak, best, peak_eq, trough = 0, None, 0, None, None
        for d, net in series:
            equity += net
            peak = equity if peak is None else max(peak, equity)
            peak_eq = equity if peak_eq is None else max(peak_eq, equity)
            best = max(best, peak - equity)
        equity, peak = 0, None
        for d, net in series:
            equity += net
            peak = equity if peak is None else max(peak, equity)
            if peak - equity == best and trough is None:
                trough = d
        r = got[et]
        assert r["max_drawdown_cents"] == best
        assert r["peak_equity_cents"] == peak_eq
        assert r["trough_date"] == trough


# --------------------------------------------------------- association rules


def test_association_rules_match_bruteforce(spark):
    li = load(spark, SF0001, "lineitem").select("l_orderkey", "l_partkey").collect()
    baskets = {}
    for o, p in li:
        baskets.setdefault(o, set()).add(p)
    total = len(baskets)
    item, pair = {}, {}
    for ps in baskets.values():
        for a in ps:
            item[a] = item.get(a, 0) + 1
            for b in ps:
                if a != b:
                    pair[(a, b)] = pair.get((a, b), 0) + 1
    expected = {}
    for (a, b), n in pair.items():
        if n >= 3:
            expected[(a, b)] = (
                n,
                n * 1000000 // total,
                n * 1000000 // item[a],
                n * total * 1000000 // (item[a] * item[b]),
            )
    got = {
        (r["ante"], r["cons"]): (r["n_pair"], r["support_x1e6"], r["confidence_x1e6"], r["lift_x1e6"])
        for r in queries()["analytics_association_rules"](spark, SF0001).collect()
    }
    assert got == expected


# ------------------------------------------------------------ cron expansion


def test_cron_fires_match_manual_walk(spark):
    rows = {}
    for r in queries()["fn_cron_schedule_expand"](spark, SF0001).collect():
        rows.setdefault(r["cron_expr"], []).append((r["fire_seq"], r["fire_ts"]))

    def matches(t, expr):
        mi, hr, dom, mo, dow = expr.split()
        checks = [
            (mi, t.minute), (hr, t.hour), (dom, t.day), (mo, t.month),
            (dow, (t.weekday() + 1) % 7),  # cron 0=Sunday
        ]
        for f, v in checks:
            if f == "*":
                continue
            if f.startswith("*/"):
                if v % int(f[2:]) != 0:
                    return False
            elif v != int(f):
                return False
        return True

    for expr, fires in rows.items():
        fires.sort()
        t = dt.datetime(2024, 1, 15, 0, 0)
        found = []
        while len(found) < 5:
            t += dt.timedelta(minutes=1)
            if matches(t, expr):
                found.append(t)
        assert [f[1] for f in fires] == found, expr


# --------------------------------------------------------------- Kaplan-Meier


def test_km_survival_matches_bruteforce(spark):
    orders = load(spark, SF0001, "orders").select("o_custkey", "o_orderdate").collect()
    span = {}
    for ck, od in orders:
        d = od.date()
        lo, hi = span.get(ck, (d, d))
        span[ck] = (min(lo, d), max(hi, d))
    horizon = max(hi for _, hi in span.values())
    subj = [
        ((hi - lo).days, 1 if hi < horizon - dt.timedelta(days=180) else 0)
        for lo, hi in span.values()
    ]
    per_t = {}
    for dur, evt in subj:
        c, d = per_t.get(dur, (0, 0))
        per_t[dur] = (c + 1, d + evt)
    rows = sorted(queries()["analytics_survival_km"](spark, SF0001).collect(), key=lambda r: r["t_days"])
    n_before = 0
    cum_l = 0
    total = len(subj)
    it = iter(rows)
    for dur in sorted(per_t):
        c_all, d = per_t[dur]
        n = total - n_before
        n_before += c_all
        if d == 0:
            continue
        r = next(it)
        assert (r["t_days"], r["n_at_risk"], r["d_events"]) == (dur, n, d)
        cum_l += math.floor(math.log((n - d) / n) * 1e9 + 0.5)
        assert r["survival_x1e6"] == math.floor(math.exp(cum_l / 1e9) * 1e6 + 0.5)
    # curve is monotone non-increasing and starts below 1e6
    surv = [r["survival_x1e6"] for r in rows]
    assert all(a >= b for a, b in zip(surv, surv[1:]))


# -------------------------------------------------------------- HDR histogram


def test_hdr_buckets_match_bit_arithmetic(spark):
    li = load(spark, SF0001, "lineitem").select("l_extendedprice").collect()
    expected = {}
    for (p,) in li:
        cents = math.floor(p * 100 + 0.5)
        e = cents.bit_length()
        lo = 1 << (e - 1)
        s = (cents - lo) * 4 // lo
        key = (e, s)
        n, mn, mx = expected.get(key, (0, cents, cents))
        expected[key] = (n + 1, min(mn, cents), max(mx, cents))
    got = {
        (r["exponent"], r["sub_bucket"]): (r["n"], r["min_cents"], r["max_cents"])
        for r in queries()["agg_hdr_log_histogram"](spark, SF0001).collect()
    }
    assert got == expected
    # lo_bound is within each bucket's observed range
    for r in queries()["agg_hdr_log_histogram"](spark, SF0001).collect():
        lo = 1 << (r["exponent"] - 1)
        assert r["lo_bound"] == lo + (r["sub_bucket"] * lo) // 4
        assert r["lo_bound"] <= r["min_cents"]


# ---------------------------------------------------------------- winsorize


def test_winsorize_matches_bruteforce(spark):
    docs = load(spark, SF0001, "documents").select("doc_id", "source", "n_chars").collect()
    by_src = {}
    for doc_id, src, n in docs:
        by_src.setdefault(src, []).append((n, doc_id))
    got = {r["source"]: r for r in queries()["curation_winsorize_clip"](spark, SF0001).collect()}
    for src, vals in by_src.items():
        vals.sort()
        n = len(vals)
        p05 = vals[(5 * n + 99) // 100 - 1][0]
        p95 = vals[(95 * n + 99) // 100 - 1][0]
        r = got[src]
        assert (r["p05"], r["p95"], r["n_docs"]) == (p05, p95, n)
        assert r["sum_raw"] == sum(v for v, _ in vals)
        assert r["sum_clipped"] == sum(min(max(v, p05), p95) for v, _ in vals)
        assert r["n_clipped"] == sum(1 for v, _ in vals if v < p05 or v > p95)


# ----------------------------------------------------------- PNG integrity


def test_png_decoder_rejects_corruption(spark):
    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import (
        decode_png,
        run_steps,
        synthesize_png,
    )

    media = run_steps([(2, 100), (3, 257)], synthesize_png)
    ok = run_steps(media, decode_png)
    assert [row[6] for row in ok] == [True, True]  # crc_ok
    assert [row[5] for row in ok] == [3, 3]  # n_chunks
    # flip one IDAT byte: CRC must catch it (crc_ok False), not crash
    doc_id, payload = media[0]
    b = bytearray(payload)
    b[len(b) - 20] ^= 0xFF  # inside IDAT body, away from IEND
    ((*_, crc_ok, _px_sum),) = decode_png(doc_id, bytes(b))
    assert not crc_ok


def test_sla_interval_subtraction_matches_bruteforce(spark):
    evs = events_rows(spark)
    got = {r["event_type"]: r for r in queries()["ts_interval_subtract_sla"](spark, SF0001).collect()}
    agg = {}
    for r in evs:
        s = r["ts"]
        e = s + dt.timedelta(minutes=30)
        masked = 0
        for off in (0, 1):
            day = dt.datetime.combine(s.date() + dt.timedelta(days=off), dt.time())
            ms, me = day + dt.timedelta(hours=3), day + dt.timedelta(hours=4)
            masked += max(0, td_us(min(e, me) - max(s, ms)))
        raw = 30 * 60 * 1_000_000
        a = agg.setdefault(r["event_type"], [0, 0])
        a[0] += raw
        a[1] += raw - masked
    for et, (raw, eff) in agg.items():
        r = got[et]
        assert (r["raw_us"], r["effective_us"]) == (raw, eff)
        assert r["sla_ppm"] == eff * 1_000_000 // raw


# -------------------------------------------------------------- currency parse


def test_currency_roundtrip_all_ok_and_formats_plausible(spark):
    rows = queries()["fn_currency_parse"](spark, SF0001).collect()
    assert rows
    import re

    pats = {
        0: re.compile(r"^-?\$\d{1,3}(,\d{3})*\.\d{2}$"),
        1: re.compile(r"^-?\d{1,3}(\.\d{3})*,\d{2} €$"),
        2: re.compile(r"^-?\d+\.\d{2} USD$"),
    }
    for r in rows:
        assert r["roundtrip_ok"], r
        assert pats[r["style"]].match(r["amount_str"]), r["amount_str"]


# ----------------------------------------------------------- state durations


def test_state_durations_match_bruteforce(spark):
    evs = events_rows(spark)
    by_user = {}
    for r in evs:
        by_user.setdefault(r["user_id"], []).append((r["ts"], r["event_id"], r["event_type"]))
    agg = {}
    for seq in by_user.values():
        seq.sort()
        for (t1, _, st), (t2, _, _) in zip(seq, seq[1:]):
            us = td_us(t2 - t1)
            n, tot = agg.get(st, (0, 0))
            agg[st] = (n + 1, tot + us)
    got = {r["state"]: r for r in queries()["analytics_state_durations"](spark, SF0001).collect()}
    for st, (n, tot) in agg.items():
        r = got[st]
        assert (r["n_visits"], r["total_us"], r["mean_us"]) == (n, tot, tot // n)
