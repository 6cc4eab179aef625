"""Triple-witness tests for the seventeenth-to-twenty-first-wave operators."""

import datetime as dt
import math

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001, md5_hex


# ------------------------------------------------------------ business days


def test_business_days_match_manual_walk(spark):
    holidays = {dt.date(1995, 12, 25), dt.date(1996, 1, 1), dt.date(1996, 7, 4)}

    def is_biz(d):
        return d.weekday() < 5 and d not in holidays

    def add_biz(d, n):
        cur = d
        while n > 0:
            cur += dt.timedelta(days=1)
            if is_biz(cur):
                n -= 1
        return cur

    rows = queries()["fn_business_days"](spark, SF0001).collect()
    assert rows
    for r in rows:
        assert r["due_date"] == add_biz(r["order_date"], 10), r


# -------------------------------------------------------------- skew/kurtosis


def test_skew_kurtosis_match_bruteforce(spark):
    li = load(spark, SF0001, "lineitem").select("l_returnflag", "l_extendedprice").collect()
    by_flag = {}
    for f, p in li:
        by_flag.setdefault(f, []).append(math.floor(p * 100 + 0.5))
    got = {r["flag"]: r for r in queries()["agg_skew_kurtosis_exact"](spark, SF0001).collect()}
    for f, xs in by_flag.items():
        n = len(xs)
        s1, s2 = sum(xs), sum(x * x for x in xs)
        s3, s4 = sum(x**3 for x in xs), sum(x**4 for x in xs)
        nd = float(n)
        mean = float(s1) / nd
        m2 = float(s2) / nd - mean * mean
        m3 = float(s3) / nd - 3.0 * mean * (float(s2) / nd) + 2.0 * mean * mean * mean
        m4 = (
            float(s4) / nd
            - 4.0 * mean * (float(s3) / nd)
            + 6.0 * mean * mean * (float(s2) / nd)
            - 3.0 * mean * mean * mean * mean
        )
        r = got[f]
        assert r["n"] == n
        assert r["skew_x1e9"] == math.floor(m3 / (m2 * math.sqrt(m2)) * 1e9 + 0.5)
        assert r["kurt_x1e9"] == math.floor((m4 / (m2 * m2) - 3.0) * 1e9 + 0.5)


# ----------------------------------------------------------------------- MASE


def test_mase_matches_bruteforce(spark):
    ev = load(spark, SF0001, "events").select("event_type", "ts").collect()
    daily = {}
    for et, ts in ev:
        daily.setdefault(et, {}).setdefault(ts.date(), 0)
        daily[et][ts.date()] += 1
    got = {r["event_type"]: r for r in queries()["ts_forecast_mase"](spark, SF0001).collect()}
    for et, days in daily.items():
        series = sorted(days.items())
        ys = [y for _, y in series]
        e_model = [abs(ys[i] - ys[i - 7]) for i in range(7, len(ys))]
        e_naive = [abs(ys[i] - ys[i - 1]) for i in range(7, len(ys))]
        r = got[et]
        assert r["n_scored"] == len(e_model)
        assert r["sum_abs_err_seasonal"] == sum(e_model)
        assert r["sum_abs_err_naive"] == sum(e_naive)
        assert r["mase_ppm"] == sum(e_model) * 1_000_000 // sum(e_naive)


# ------------------------------------------------------------ span corruption


def test_span_corruption_reconstructs_original(spark):
    docs = {
        r[0]: r[1].lower().split(" ")
        for r in load(spark, SF0001, "documents").filter("doc_id % 5 = 0").select("doc_id", "text").collect()
    }
    rows = {r["doc_id"]: r for r in queries()["curation_span_corruption"](spark, SF0001).collect()}
    assert set(rows) == set(docs)
    for doc_id, toks in docs.items():
        r = rows[doc_id]
        inp = r["input_str"].split(" ") if r["input_str"] else []
        tgt = r["target_str"].split(" ") if r["target_str"] else []
        # splice targets back into inputs at the sentinels: must equal original
        spans = {}
        cur = None
        for t in tgt:
            if t.startswith("<extra_id_"):
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in inp:
            if t.startswith("<extra_id_"):
                rebuilt.extend(spans[t])
            else:
                rebuilt.append(t)
        assert rebuilt == toks, doc_id
        assert r["n_spans"] == len(spans)
        # spans are exactly 3 tokens (anchor spacing guarantees no merge)
        for body in spans.values():
            assert len(body) == 3


# ----------------------------------------------------------------- SRM check


def test_srm_binomial_sanity(spark):
    rows = queries()["analytics_ab_srm_check"](spark, SF0001).collect()
    assert len(rows) == 1
    r = rows[0]
    users = {u[0] for u in load(spark, SF0001, "events").select("user_id").distinct().collect()}
    nc = sum(1 for u in users if int(md5_hex(f"ab:{u}")[:8], 16) % 2 == 0)
    assert (r["n_control"], r["n_treatment"]) == (nc, len(users) - nc)
    chi2 = (r["n_control"] - r["n_treatment"]) ** 2 / len(users)
    assert r["chi2_x1e6"] == math.floor(chi2 * 1e6 + 0.5)
    assert r["srm_detected"] == (chi2 > 10.828)


# ---------------------------------------------------------------- data vault


def test_data_vault_integrity(spark):
    rows = {r["entity"]: r for r in queries()["elt_data_vault_model"](spark, SF0001).collect()}
    c = load(spark, SF0001, "customer").count()
    o = load(spark, SF0001, "orders").count()
    assert rows["hub_customer"]["n_rows"] == c
    assert rows["hub_order"]["n_rows"] == o
    assert rows["link_placed"]["n_rows"] == o  # one placing per order
    assert all(r["keys_unique"] for r in rows.values())


# --------------------------------------------------------------- secrets scan


def test_secrets_scan_full_recall_no_false_positives(spark):
    docs = [r[0] for r in load(spark, SF0001, "documents").select("doc_id").collect()]
    rows = queries()["text_secrets_scan"](spark, SF0001).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], set()).add((r["doc_id"], r["hit"]))
    want_keys = {d for d in docs if d % 17 == 0}
    want_toks = {d for d in docs if d % 23 == 0}
    assert {d for d, _ in by_kind.get("aws_access_key", set())} == want_keys
    assert {d for d, _ in by_kind.get("hex_token_32", set())} == want_toks
    tr = str.maketrans("0123456789abcdef", "ABCDEFGHIJKLMNOP")
    for d, hit in by_kind.get("aws_access_key", set()):
        assert hit == "AKIA" + md5_hex(f"sk:{d}").translate(tr)[:16]
    for d, hit in by_kind.get("hex_token_32", set()):
        assert hit == "tok_" + md5_hex(f"tk:{d}")


# ----------------------------------------------------------- hash-chain log


def test_hash_chain_detects_reorder(spark):
    rows = queries()["sec_tamper_evident_log"](spark, SF0001).collect()
    orders = load(spark, SF0001, "orders").select("o_orderdate", "o_orderkey", "o_totalprice").collect()
    per_day = {}
    for od, ok, p in orders:
        cents = math.floor(p * 100 + 0.5)
        per_day.setdefault(od.date(), []).append((ok, md5_hex(f"tx:{ok}:{cents}")))
    for r in rows:
        entries = sorted(per_day[r["day"]])
        digs = [d for _, d in entries]
        chain = digs[0]
        for d in digs[1:]:
            chain = md5_hex(chain + d)
        assert r["chain_hash"] == chain
        assert r["chain_head"] == digs[0]
        assert r["n_entries"] == len(digs)
        # reordering any two entries changes the chain
        if len(digs) >= 3:
            swapped = [digs[1], digs[0]] + digs[2:]
            alt = swapped[0]
            for d in swapped[1:]:
                alt = md5_hex(alt + d)
            assert alt != chain
