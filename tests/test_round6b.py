"""Round-6 belt-and-braces witnesses: the last three complex tail queries
with no pytest coverage (sec_impossible_travel, analytics_fifo_allocation,
dq_population_stability) are all replay-style — both engines apply the
same formula — so each gets a from-first-principles Python recomputation."""

import hashlib
import math
from collections import defaultdict

from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def test_fifo_allocation_matches_explicit_walk(spark):
    """The windowed identity alloc = min(qty, max(dem - prior, 0)) must
    equal an explicit FIFO consumption loop over lots in (date, lot) order."""
    li = (
        spark.read.parquet(SF0001 + "/lineitem.parquet")
        .where("l_partkey % 40 = 0")
        .select("l_partkey", "l_orderkey", "l_quantity", "l_shipdate")
        .collect()
    )
    lots = defaultdict(list)
    for r in li:
        lots[r["l_partkey"]].append(
            (r["l_shipdate"], r["l_orderkey"], int(r["l_quantity"]))
        )
    expect = {}
    for pk, ls in lots.items():
        remaining_demand = 15 * len(ls)
        for d, lot, qty in sorted(ls):
            alloc = min(qty, max(remaining_demand, 0))
            boundary = 0 < remaining_demand <= qty
            remaining_demand -= qty  # FIFO: every lot's qty consumes demand
            expect[(pk, lot)] = (qty, alloc, qty - alloc, boundary)
    got = {
        (r["pk"], r["lot_id"]): (
            r["qty"],
            r["allocated"],
            r["remaining"],
            r["is_boundary_lot"],
        )
        for r in queries()["analytics_fifo_allocation"](spark, SF0001).collect()
    }
    assert got == expect


def _axis(tag, event_id):
    return int(hashlib.md5(f"{tag}{event_id}".encode()).hexdigest()[:5], 16) % 100000


def test_impossible_travel_matches_bruteforce(spark):
    from gcp_cloudsql_to_bigquery_spark.operators.quality import _TRAVEL_V2

    ev = spark.read.parquet(SF0001 + "/events.parquet").select(
        "user_id", "event_id", "ts"
    ).collect()
    by_user = defaultdict(list)
    for r in ev:
        by_user[r["user_id"]].append((r["ts"], r["event_id"]))
    expect = {}
    for u, evs in by_user.items():
        evs.sort()
        n_hops = n_imp = 0
        worst = None
        for (pts, pid), (ts, eid) in zip(evs, evs[1:]):
            dt = int((ts - pts).total_seconds() * 1_000_000)
            dx = _axis("gx:", eid) - _axis("gx:", pid)
            dy = _axis("gy:", eid) - _axis("gy:", pid)
            d2 = dx * dx + dy * dy
            n_hops += 1
            # exact integer compare, no sqrt: d2 * 1e12 > V2 * dt^2
            if d2 * 10**12 > _TRAVEL_V2 * dt * dt:
                n_imp += 1
                worst = d2 if worst is None else max(worst, d2)
        if n_hops:
            expect[u] = (n_hops, n_imp, worst)
    got = {
        r["user_id"]: (r["n_hops"], r["n_impossible"], r["worst_d2"])
        for r in queries()["sec_impossible_travel"](spark, SF0001).collect()
    }
    assert got == expect


def test_population_stability_matches_bruteforce(spark):
    rows = spark.read.parquet(SF0001 + "/orders.parquet").select(
        "o_totalprice", "o_orderdate"
    ).collect()
    import datetime as dt

    cut = dt.datetime(1995, 1, 1)
    vals = [
        (math.floor(r["o_totalprice"] * 100 + 0.5), r["o_orderdate"] < cut)
        for r in rows
    ]
    lo = min(c for c, _ in vals)
    hi = max(c for c, _ in vals)
    n_ref = defaultdict(int)
    n_cur = defaultdict(int)
    for c, is_ref in vals:
        b = min(9, (c - lo) * 10 // (hi - lo + 1))
        (n_ref if is_ref else n_cur)[b] += 1
    bins = sorted(set(n_ref) | set(n_cur))
    tr = sum(n_ref.values())
    tc = sum(n_cur.values())
    expect = {}
    for b in bins:
        p = (n_ref[b] + 1) / (tr + 10)
        q = (n_cur[b] + 1) / (tc + 10)
        expect[b] = (n_ref[b], n_cur[b], math.floor((p - q) * math.log(p / q) * 1e9 + 0.5))
    got = {
        r["bin"]: (r["n_ref"], r["n_cur"], r["term_x1e9"])
        for r in queries()["dq_population_stability"](spark, SF0001).collect()
    }
    assert set(got) == set(expect)
    total = 0
    for b, (nr, nc, term) in expect.items():
        gnr, gnc, gterm = got[b]
        assert (gnr, gnc) == (nr, nc)
        # independent float path: allow 1 nano-unit of quantization slack
        assert abs(gterm - term) <= 1, (b, gterm, term)
        total += gterm
    psi = {r["psi_total_x1e9"] for r in queries()["dq_population_stability"](spark, SF0001).collect()}
    assert psi == {total}


def test_seasonal_strength_matches_bruteforce(spark):
    """ts_seasonal_strength's oracle replays the identical quantized
    detrend -> seasonal-mean -> residual pipeline — this witness recomputes
    strength from first principles with the same 1e-9 quantization."""
    ev = spark.read.parquet(SF0001 + "/events.parquet").select("event_type", "ts").collect()
    hourly = defaultdict(int)
    for r in ev:
        hourly[(r["event_type"], r["ts"].date(), r["ts"].hour)] += 1

    def quant(v):
        return math.floor(v * 1e9 + 0.5) / 1e9

    daymean = defaultdict(lambda: (0.0, 0))
    for (t, d, h), x in hourly.items():
        s, c = daymean[(t, d)]
        daymean[(t, d)] = (s + x, c + 1)
    det = {(t, d, h): quant(x - daymean[(t, d)][0] / daymean[(t, d)][1])
           for (t, d, h), x in hourly.items()}
    seas_acc = defaultdict(lambda: (0.0, 0))
    for (t, d, h), dt_ in det.items():
        s, c = seas_acc[(t, h)]
        seas_acc[(t, h)] = (s + dt_, c + 1)
    seas = {k: quant(s / c) for k, (s, c) in seas_acc.items()}
    per_type = defaultdict(lambda: [0, 0.0, 0.0])  # n_obs, sum r^2, sum dt^2
    peak = {}
    for (t, d, h), dt_ in det.items():
        r = quant(dt_ - seas[(t, h)])
        acc = per_type[t]
        acc[0] += 1
        acc[1] += r * r
        acc[2] += dt_ * dt_
    for (t, h), s_ in seas.items():
        m = max(v for (tt, hh), v in seas.items() if tt == t)
        if s_ == m and t not in peak:
            peak[t] = min(hh for (tt, hh), v in seas.items() if tt == t and v == m)
    got = {
        r["event_type"]: (r["n_obs"], r["strength_ppm"], r["peak_hour"])
        for r in queries()["ts_seasonal_strength"](spark, SF0001).collect()
    }
    assert set(got) == set(per_type)
    for t, (n_obs, ss_r, ss_dt) in per_type.items():
        strength = math.floor(max(0.0, 1.0 - ss_r / ss_dt) * 1e6 + 0.5)
        gn, gs, gp = got[t]
        assert gn == n_obs
        # independent summation order: allow 1 micro-unit of slack
        assert abs(gs - strength) <= 1, (t, gs, strength)
        assert gp == peak[t]


def _hourly_cents(spark):
    ev = spark.read.parquet(SF0001 + "/events.parquet").select(
        "event_type", "ts", "value"
    ).collect()
    hourly = defaultdict(int)
    for r in ev:
        h = r["ts"].replace(minute=0, second=0, microsecond=0)
        hourly[(r["event_type"], h)] += math.floor(r["value"] * 100 + 0.5)
    return hourly


def test_autocorrelation_matches_bruteforce(spark):
    """Pearson ACF at lags 1 and 24 over the hourly cents series,
    recomputed from the raw moment sums in pure Python."""
    hourly = _hourly_cents(spark)
    series = defaultdict(list)
    for (t, h), c in sorted(hourly.items()):
        series[t].append(c)
    expect = {}
    for t, xs in series.items():
        for k in (1, 24):
            pairs = [(xs[i], xs[i - k]) for i in range(k, len(xs))]
            if not pairs:
                continue
            n = len(pairs)
            sx = sum(x for x, _ in pairs)
            sy = sum(y for _, y in pairs)
            sxy = sum(x * y for x, y in pairs)
            sxx = sum(x * x for x, _ in pairs)
            syy = sum(y * y for _, y in pairs)
            r = (n * sxy - sx * sy) / math.sqrt(
                (n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)
            )
            expect[(t, k)] = (n, math.floor(r * 1e6 + 0.5))
    got = {
        (r["event_type"], r["lag"]): (r["n_pairs"], r["acf_x1e6"])
        for r in queries()["ts_autocorrelation"](spark, SF0001).collect()
    }
    assert set(got) == set(expect)
    for k, (n, acf) in expect.items():
        gn, gacf = got[k]
        assert gn == n
        assert abs(gacf - acf) <= 1, (k, gacf, acf)  # independent float path


def test_ma_decompose_matches_bruteforce(spark):
    """Centered 25-hour moving-average detrend + hour-of-day seasonal
    means, all in rounded integer cents, recomputed directly."""
    hourly = _hourly_cents(spark)
    series = defaultdict(list)
    for (t, h), c in sorted(hourly.items()):
        series[t].append((h, c))
    resids = defaultdict(list)  # (type, hour-of-day) -> residuals
    for t, pts in series.items():
        for i in range(12, len(pts) - 12):
            window = [c for _, c in pts[i - 12 : i + 13]]
            wsum, wn = sum(window), 25
            trend = (2 * wsum + wn) // (2 * wn)  # round-half-up integer mean
            h, c = pts[i]
            resids[(t, h.hour)].append(c - trend)
    expect = {
        k: (len(v), math.floor((2 * sum(v) + len(v)) / (2.0 * len(v))))
        for k, v in resids.items()
    }
    got = {
        (r["event_type"], r["hod"]): (r["n"], r["seasonal_cents"])
        for r in queries()["ts_ma_decompose"](spark, SF0001).collect()
    }
    assert got == expect


def test_seasonal_profile_matches_bruteforce(spark):
    """Hour-of-day profile: integer-rounded mean cents and each hour's
    1e-6 share of its type's profile total, recomputed directly."""
    hourly = _hourly_cents(spark)
    acc = defaultdict(lambda: (0, 0))  # (type, hod) -> (sum, n)
    for (t, h), c in hourly.items():
        s, n = acc[(t, h.hour)]
        acc[(t, h.hour)] = (s + c, n + 1)
    avg = {k: (n, math.floor(s / n * 100 + 0.5)) for k, (s, n) in acc.items()}
    tot = defaultdict(int)
    for (t, _), (_, a) in avg.items():
        tot[t] += a
    got = {
        (r["event_type"], r["hod"]): (r["n_obs"], r["avg_cents_x100"], r["share_x1e6"])
        for r in queries()["ts_seasonal_profile"](spark, SF0001).collect()
    }
    assert set(got) == set(avg)
    for k, (n, a) in avg.items():
        share = math.floor(a / tot[k[0]] * 1e6 + 0.5)
        gn, ga, gs = got[k]
        assert (gn, ga) == (n, a)
        assert abs(gs - share) <= 1, (k, gs, share)


def test_novelty_rate_matches_bruteforce(spark):
    """First-seen 5-gram novelty per doc (min-doc_id ownership), exact
    integer ppm, recomputed with plain dict bookkeeping."""
    docs = sorted(
        (r["doc_id"], r["text"])
        for r in spark.read.parquet(SF0001 + "/documents.parquet").collect()
        if len(r["text"]) > 0
    )
    gram_sets = {}
    for did, text in docs:
        toks = text.lower().split(" ")
        n = max(len(toks) - 4, 1)
        gram_sets[did] = {" ".join(toks[i : i + 5]) for i in range(n)}
    first = {}
    for did in sorted(gram_sets):
        for g in gram_sets[did]:
            first.setdefault(g, did)
    expect = {}
    for did, gs in gram_sets.items():
        total = len(gs)
        novel = sum(1 for g in gs if first[g] == did)
        expect[did] = (total, novel, (2 * 1_000_000 * novel + total) // (2 * total))
    got = {
        r["doc_id"]: (r["n_shingles"], r["n_novel"], r["novelty_ppm"])
        for r in queries()["text_novelty_rate"](spark, SF0001).collect()
    }
    assert got == expect


def test_quantize_int8_matches_bruteforce(spark):
    """Symmetric int8 quantization: per-vector abs-max scale, round-half-up
    codes, max reconstruction error — recomputed in numpy-free Python."""
    rows = spark.read.parquet(SF0001 + "/embeddings.parquet").select(
        "vec_id", "embedding"
    ).collect()
    expect = {}
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        scale = max(abs(x) for x in v)
        q = [math.floor(x / scale * 127 + 0.5) for x in v]
        err = max(abs(x - qi * scale / 127) for x, qi in zip(v, q))
        expect[r["vec_id"]] = (
            math.floor(scale * 1e6 + 0.5),
            ",".join(str(int(c)) for c in q),
            math.floor(err * 1e6 + 0.5),
        )
    got = {
        r["vec_id"]: (r["scale_micro"], r["q"], r["err_micro"])
        for r in queries()["embedding_quantize_int8"](spark, SF0001).collect()
    }
    assert set(got) == set(expect)
    for k, (sm, q, em) in expect.items():
        gsm, gq, gem = got[k]
        assert gq == q, k
        assert abs(gsm - sm) <= 1 and abs(gem - em) <= 1, (k, gsm, sm, gem, em)


def test_l_diversity_matches_bruteforce(spark):
    import re as _re  # noqa: F401  (kept for symmetry with other witnesses)

    rows = spark.read.parquet(SF0001 + "/customer.parquet").select(
        "c_nationkey", "c_mktsegment", "c_acctbal"
    ).collect()
    cls = defaultdict(lambda: defaultdict(int))
    for r in rows:
        sens = math.floor(r["c_acctbal"] / 1000)
        cls[(r["c_nationkey"], r["c_mktsegment"])][sens] += 1
    expect = {}
    for k, sens_counts in cls.items():
        size = sum(sens_counts.values())
        l_d = len(sens_counts)
        expect[k] = (
            size,
            l_d,
            l_d >= 3,
            math.floor(max(sens_counts.values()) * 1_000_000.0 / size + 0.5),
        )
    got = {
        (r["c_nationkey"], r["c_mktsegment"]): (
            r["class_size"], r["l_distinct"], r["meets_l"], r["top_share_ppm"],
        )
        for r in queries()["sec_l_diversity_audit"](spark, SF0001).collect()
    }
    assert got == expect


def test_sample_weights_export_matches_bruteforce(spark):
    import re as _re

    rows = spark.read.parquet(SF0001 + "/documents.parquet").select(
        "doc_id", "source", "n_chars", "text"
    ).collect()
    fp = {
        r["doc_id"]: hashlib.md5(
            _re.sub(r"\s+", " ", r["text"].lower()).strip().encode()
        ).hexdigest()
        for r in rows
    }
    keeper_of = {}
    for r in sorted(rows, key=lambda r: r["doc_id"]):
        keeper_of.setdefault(fp[r["doc_id"]], r["doc_id"])
    chars = defaultdict(int)
    for r in rows:
        chars[r["source"]] += r["n_chars"]
    tw = sum(c ** 0.7 for c in chars.values())
    mix = {s: math.floor(c ** 0.7 / tw * 1e6 + 0.5) for s, c in chars.items()}
    expect = {}
    for r in rows:
        is_keeper = keeper_of[fp[r["doc_id"]]] == r["doc_id"]
        quality = 200 <= r["n_chars"] <= 5000
        w = 0 if not is_keeper else (mix[r["source"]] * 2 if quality else mix[r["source"]])
        expect[r["doc_id"]] = (w, is_keeper, quality)
    got = {
        r["doc_id"]: (r["weight_ppm2"], r["is_keeper"], r["quality_pass"])
        for r in queries()["curation_sample_weights_export"](spark, SF0001).collect()
    }
    assert got == expect


def test_lang_confusion_crosstab_math(spark):
    """Witnesses the confusion-matrix arithmetic (counts + exact ppm
    shares + the binary-correctness flag) against the langid operator's
    own predictions collected once — langid's heuristic itself is covered
    by its oracle differential."""
    from gcp_cloudsql_to_bigquery_spark.operators.text import text_langid

    pred = [
        (r["lang"], r["pred_lang"])
        for r in text_langid(spark, SF0001).select("lang", "pred_lang").collect()
    ]
    n_total = len(pred)
    cm = defaultdict(int)
    for a, p in pred:
        cm[(a, p)] += 1
    expect = {
        k: (n, (a == "en") == (p == "en"), (2 * 1_000_000 * n + n_total) // (2 * n_total))
        for (a, p), n in cm.items()
        for k in [(a, p)]
        for a, p in [k]
    }
    got = {
        (r["actual"], r["pred_lang"]): (r["n"], r["correct"], r["share_ppm"])
        for r in queries()["text_lang_confusion"](spark, SF0001).collect()
    }
    assert got == expect


def test_linear_attribution_matches_bruteforce(spark):
    """7-day-lookback linear attribution: per purchase, all prior
    view/click/signup touches split the cents equally (exact round-half-up
    micro-cents) — recomputed with explicit loops."""
    import datetime as dt

    ev = spark.read.parquet(SF0001 + "/events.parquet").select(
        "user_id", "event_type", "ts", "event_id", "value"
    ).collect()
    touches = defaultdict(list)
    convs = []
    for r in ev:
        if r["event_type"] in ("view", "click", "signup"):
            touches[r["user_id"]].append((r["ts"], r["event_id"], r["event_type"]))
        elif r["event_type"] == "purchase":
            convs.append(
                (r["user_id"], r["ts"], r["event_id"], math.floor(r["value"] * 100 + 0.5))
            )
    n_credits = defaultdict(int)
    credited = defaultdict(int)
    week = dt.timedelta(days=7)
    for u, cts, cid, cents in convs:
        tset = [
            ch
            for (tts, tid, ch) in touches.get(u, [])
            if (tts < cts or (tts == cts and tid < cid)) and tts > cts - week
        ]
        n = len(tset)
        for ch in tset:
            n_credits[ch] += 1
            credited[ch] += (2 * 1_000_000 * cents + n) // (2 * n)
    got = {
        r["channel"]: (r["n_credits"], r["credited_microcents"])
        for r in queries()["analytics_attribution_linear"](spark, SF0001).collect()
    }
    assert got == {ch: (n_credits[ch], credited[ch]) for ch in n_credits}


def test_duplicate_payments_matches_bruteforce(spark):
    """Same-customer same-price-band order pairs within a year, explicit
    double loop per customer."""
    import itertools

    rows = spark.read.parquet(SF0001 + "/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    ).collect()
    by_cust = defaultdict(list)
    for r in rows:
        by_cust[r["o_custkey"]].append(
            (
                r["o_orderkey"],
                math.floor(r["o_totalprice"] / 100),
                math.floor(r["o_totalprice"] * 100 + 0.5),
                r["o_orderdate"].date(),
            )
        )
    expect = set()
    for ck, orders in by_cust.items():
        for (ok1, b1, c1, d1), (ok2, b2, c2, d2) in itertools.permutations(orders, 2):
            if ok1 < ok2 and b1 == b2 and abs((d2 - d1).days) <= 365:
                expect.add((ck, ok1, ok2, b1, c1, c2, (d2 - d1).days))
    got = {
        (
            r["custkey"], r["order_a"], r["order_b"], r["band"],
            r["cents_a"], r["cents_b"], r["days_apart"],
        )
        for r in queries()["dq_duplicate_payments"](spark, SF0001).collect()
    }
    assert got == expect
