"""Round-6 third-witness tests for the ADVICE-r5 fixes: each proves the
Spark implementation (and hence the matching oracle) equals a
from-first-principles Python computation on a fixture crafted to hit the
exact failure scenario the r5 advisor described."""

import math
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


_KN_D = 0.75


def _write_documents(tmp_path, rows):
    tbl = pa.table(
        {
            "doc_id": pa.array([r[0] for r in rows], pa.int64()),
            "text": pa.array([r[1] for r in rows], pa.string()),
            "lang": pa.array(["en"] * len(rows), pa.string()),
            "source": pa.array(["src0"] * len(rows), pa.string()),
            "n_chars": pa.array([len(r[1]) for r in rows], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    return str(tmp_path)


def _kn_bruteforce(texts):
    """Positional-bigram Kneser-Ney from first principles: bigram (w, nxt)
    exists iff slot i is non-empty AND the literal next slot i+1 is
    non-empty — a run of consecutive spaces yields NO bigram across it."""
    bi = Counter()
    for t in texts:
        slots = t.lower().split(" ")
        for i, w in enumerate(slots[:-1]):
            nxt = slots[i + 1]
            if w != "" and nxt != "":
                bi[(w, nxt)] += 1
    cw = Counter()
    n1p_fwd = Counter()
    n1p_rev = Counter()
    for (w, nxt), c in bi.items():
        cw[w] += c
        n1p_fwd[w] += 1
        n1p_rev[nxt] += 1
    nbt = len(bi)
    out = {}
    for (w, nxt), cb in bi.items():
        pkn = (
            max(cb - _KN_D, 0.0) / cw[w]
            + _KN_D * n1p_fwd[w] / cw[w] * (n1p_rev[nxt] / nbt)
        )
        out[(w, nxt)] = (cb, cw[w], n1p_rev[nxt], math.floor(pkn * 1e9 + 0.5))
    return out


def test_kneser_ney_positional_bigrams_on_consecutive_spaces(spark, tmp_path):
    # "a  b" (two spaces) must yield NO (a,b) bigram; "x y" repeated pins
    # the counts; an empty leading slot (" z q") exercises the w='' drop.
    rows = [
        (1, "a  b x y"),
        (2, "x y x y"),
        (3, " z q"),
        (4, "a b"),
    ]
    sf_dir = _write_documents(tmp_path, rows)
    expect = _kn_bruteforce([t for _, t in rows])
    got = {
        (r["w"], r["nxt"]): (r["cb"], r["cw"], r["n1p_rev"], r["pkn_x1e9"])
        for r in queries()["text_bigram_kneser_ney"](spark, sf_dir).collect()
    }
    # every produced pair must match brute force exactly
    assert got == {k: v for k, v in expect.items()}  # top-200 >> 6 pairs here
    # the regression scenario itself: no bigram spans the double space
    assert ("a", "b") in got and got[("a", "b")][0] == 1  # only from doc 4
    assert ("y", "x") in got  # doc 2 interior pair still present


def _write_events(tmp_path, rows):
    tbl = pa.table(
        {
            "event_id": pa.array(range(len(rows)), pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([1] * len(rows), pa.int64()),
            "event_type": pa.array([r[0] for r in rows], pa.string()),
            "value": pa.array([0.0] * len(rows), pa.float64()),
            "props": pa.array(["{}"] * len(rows), pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    return str(tmp_path)


def test_interval_sla_duplicate_timestamps(spark, tmp_path):
    """N identical (event_type, ts) rows must each contribute their own
    raw 30 min AND their own masked overlap — the r5 shape collapsed them
    into one interval row whose masked summed N-fold (effective_us could
    go negative)."""
    import datetime as dt

    t_in = dt.datetime(2024, 1, 1, 3, 10, 0)  # 3:10, fully inside 3-4am mask
    t_out = dt.datetime(2024, 1, 1, 12, 0, 0)  # untouched by the mask
    rows = [("click", t_in)] * 3 + [("click", t_out)]
    sf_dir = _write_events(tmp_path, rows)
    got = queries()["ts_interval_subtract_sla"](spark, sf_dir).collect()
    assert len(got) == 1
    r = got[0]
    half_hour = 30 * 60 * 1_000_000
    assert r["raw_us"] == 4 * half_hour
    # each duplicate is fully masked (30 min inside the window), once each
    assert r["effective_us"] == 1 * half_hour
    assert r["effective_us"] >= 0
    assert r["sla_ppm"] == (1 * half_hour) * 1_000_000 // (4 * half_hour)


def _shannon_unats(s):
    n = len(s)
    cnt = Counter(s)
    # sorted distinct fold order, as both engines compute it
    acc = 0.0
    for ch in sorted(cnt):
        acc += cnt[ch] * math.log(cnt[ch])
    return math.floor((math.log(n) - acc / n) * 1e6 + 0.5)


def test_secrets_scan_plants_jwt_and_entropy_gate(spark):
    rows = queries()["text_secrets_scan"](spark, SF0001).collect()
    by_kind = {}
    for r in rows:
        by_kind.setdefault(r["kind"], []).append(r)
    n_docs = 500  # sf0.001 documents table
    # recall: every planted secret is found, exactly once per planted doc
    assert len(by_kind["aws_access_key"]) == len(range(0, n_docs, 17))
    assert len(by_kind["hex_token_32"]) == len(range(0, n_docs, 23))
    assert len(by_kind["jwt"]) == len(range(0, n_docs, 29))
    # precision: the low-entropy decoy (tok_ + 32*'a', planted every 31st
    # doc) matches the hex pattern but must be dropped by the entropy gate
    assert all("a" * 32 not in r["hit"] for r in by_kind["hex_token_32"])
    # jwt shape: three dot-separated parts, first two base64url-of-'{"'
    for r in by_kind["jwt"]:
        parts = r["hit"].split(".")
        assert len(parts) == 3 and parts[0].startswith("eyJ") and parts[1].startswith("eyJ")
    # entropy witness: recompute Shannon micro-nats in pure Python
    for r in rows:
        assert r["entropy_unats"] == _shannon_unats(r["hit"])
        assert r["entropy_unats"] >= (0 if r["kind"] == "aws_access_key" else 1_500_000)


def test_capped_candidate_funnel_equals_all_pairs(spark):
    """The dedup pipeline's candidate rule (PPJoin prefix filtering: each
    doc indexes its |X| - ceil(t*|X|) + 1 rarest shingles, plus the
    size-band length filter) must lose NO pair that the all-pairs ground
    truth finds at J>=0.65 — prefix filtering is provably lossless (Xiao
    et al., WWW'08; property-tested on random universes below), so any
    miss here means the implementation diverged from the principle."""
    funnel = {
        r["stage"]: (r["n_docs"], r["total_chars"])
        for r in queries()["curation_dedup_pipeline"](spark, SF0001).collect()
    }
    # recompute the funnel from PURE-PYTHON all-pairs ground truth —
    # independent of BOTH the pipeline and dedup_ngram_jaccard (which now
    # share the prefix-filter candidate rule)
    docs = {
        r["doc_id"]: (r["n_chars"], r["text"])
        for r in spark.read.parquet(SF0001 + "/documents.parquet").collect()
    }
    import itertools

    shingle_sets = {
        did: {t[i : i + 3] for i in range(max(len(t) - 2, 1))}
        for did, (_, t) in docs.items()
    }
    exact = set()
    for a, b in itertools.combinations(sorted(docs), 2):
        sa, sb = shingle_sets[a], shingle_sets[b]
        inter = len(sa & sb)
        if inter and round(inter / (len(sa) + len(sb) - inter), 6) >= 0.65:
            exact.add((a, b))
    import hashlib
    import re as _re

    by_fp = {}
    for doc_id in sorted(docs):
        f = hashlib.md5(_re.sub(r"\s+", " ", docs[doc_id][1].lower()).strip().encode()).hexdigest()
        by_fp.setdefault(f, doc_id)
    stage1 = set(by_fp.values())
    drop = {b for (a, b) in exact if a in stage1 and b in stage1}
    stage2 = stage1 - drop
    stage3 = {d for d in stage2 if 200 <= docs[d][0] <= 5000}
    assert funnel["stage1_exact_dedup"] == (
        len(stage1),
        sum(docs[d][0] for d in stage1),
    )
    assert funnel["stage2_near_dedup"] == (
        len(stage2),
        sum(docs[d][0] for d in stage2),
    )
    assert funnel["stage3_quality"] == (
        len(stage3),
        sum(docs[d][0] for d in stage3),
    )


def test_wilson_ci_matches_bruteforce(spark):
    """analytics_wilson_ci shares ONE expression string verbatim between
    Spark and DuckDB (VERDICT r5 oracle-independence caveat) — this witness
    recomputes the interval from the standard Wilson formula with z=1.96
    written independently in Python."""
    rows = spark.read.parquet(SF0001 + "/orders.parquet").select(
        "o_orderpriority", "o_orderstatus"
    ).collect()
    agg = {}
    for r in rows:
        n, s = agg.get(r["o_orderpriority"], (0, 0))
        agg[r["o_orderpriority"]] = (n + 1, s + (1 if r["o_orderstatus"] == "F" else 0))
    z = 1.96
    got = {
        r["pri"]: (r["n"], r["s"], r["wilson_lo_x1e9"], r["wilson_hi_x1e9"])
        for r in queries()["analytics_wilson_ci"](spark, SF0001).collect()
    }
    assert set(got) == set(agg)
    for pri, (n, s) in agg.items():
        p = s / n
        centre = p + z * z / (2 * n)
        half = z * math.sqrt((p * (1 - p) + z * z / (4 * n)) / n)
        denom = 1 + z * z / n
        lo = math.floor((centre - half) / denom * 1e9 + 0.5)
        hi = math.floor((centre + half) / denom * 1e9 + 0.5)
        gn, gs, glo, ghi = got[pri]
        assert (gn, gs) == (n, s)
        # independent float path: association order differs from the SQL
        # expression, so allow 1 nano-unit of quantization slack
        assert abs(glo - lo) <= 1 and abs(ghi - hi) <= 1, (pri, glo, lo, ghi, hi)
        assert glo < gs / gn * 1e9 < ghi  # interval brackets the estimate


def test_hash_uniformity_chi2_matches_bruteforce(spark):
    """Recomputes the md5-bucket histogram and the integer cross-multiplied
    chi-square from first principles."""
    import hashlib

    keys = [
        r["o_orderkey"]
        for r in spark.read.parquet(SF0001 + "/orders.parquet").select("o_orderkey").collect()
    ]
    counts = Counter(
        int(hashlib.md5(str(k).encode()).hexdigest()[:8], 16) % 64 for k in keys
    )
    n = len(keys)
    chi2 = math.floor(
        sum((64 * o - n) ** 2 for o in counts.values()) / (64.0 * n) * 1000 + 0.5
    )
    r = queries()["scale_hash_uniformity_chi2"](spark, SF0001).collect()[0]
    assert r["n"] == n and r["n_buckets"] == len(counts)
    assert r["spread"] == max(counts.values()) - min(counts.values())
    assert r["chi2_x1000"] == chi2
    assert r["uniform_at_p001"] == (chi2 < 111000)


def test_weighted_sssp_matches_bruteforce(spark):
    """The SSSP oracle replays the same bounded Bellman-Ford rounds as
    unrolled SQL (replay-style) — this witness rebuilds the co-purchase
    graph and runs an INDEPENDENT textbook Bellman-Ford in pure Python."""
    import hashlib
    from collections import defaultdict

    li = spark.read.parquet(SF0001 + "/lineitem.parquet").select("l_orderkey", "l_partkey")
    o = spark.read.parquet(SF0001 + "/orders.parquet").select("o_orderkey", "o_custkey")
    rows = (
        li.filter(li.l_partkey % 10 == 0)
        .join(o, li.l_orderkey == o.o_orderkey)
        .select("o_custkey", "l_partkey")
        .distinct()
        .collect()
    )
    by_cust = defaultdict(set)
    for r in rows:
        by_cust[r["o_custkey"]].add(r["l_partkey"])
    cooc = Counter()
    for parts in by_cust.values():
        ps = sorted(parts)
        for i, pa in enumerate(ps):
            for pb in ps[i + 1 :]:
                cooc[(pa, pb)] += 1
    adj = defaultdict(list)
    for (pa, pb), c in cooc.items():
        if c >= 2:
            w = int(hashlib.md5(f"w:{pa}:{pb}".encode()).hexdigest()[:5], 16) % 90 + 10
            adj[pa].append((pb, w))
            adj[pb].append((pa, w))
    seeds = [n for n in adj if n % 50 == 0]
    dist = {n: 0 for n in seeds}
    for _ in range(6):  # same round bound as the operator
        nxt = dict(dist)
        for u, du in dist.items():
            for v, w in adj[u]:
                if v not in nxt or du + w < nxt[v]:
                    nxt[v] = du + w
        dist = nxt
    got = {
        r["node"]: r["dist"] for r in queries()["graph_weighted_sssp"](spark, SF0001).collect()
    }
    assert got == dist


def test_longest_streak_matches_bruteforce(spark):
    """Gaps-and-islands witness: longest consecutive-day run per user from
    a direct day-by-day walk."""
    import datetime as dt
    from collections import defaultdict

    ev = spark.read.parquet(SF0001 + "/events.parquet").select("user_id", "ts").collect()
    days = defaultdict(set)
    for r in ev:
        days[r["user_id"]].add(r["ts"].date())
    expect = {}
    for u, ds in days.items():
        best_len, best_start = 0, None
        run_len, run_start, prev = 0, None, None
        for d in sorted(ds):
            if prev is not None and d == prev + dt.timedelta(days=1):
                run_len += 1
            else:
                run_len, run_start = 1, d
            # row_number tiebreak: earliest start wins at equal length
            if run_len > best_len:
                best_len, best_start = run_len, run_start
            prev = d
        if best_len >= 3:
            expect[u] = (best_len, best_start, best_start + dt.timedelta(days=best_len - 1))
    got = {
        r["user_id"]: (r["streak_days"], r["start_day"], r["end_day"])
        for r in queries()["analytics_longest_streak"](spark, SF0001).collect()
    }
    assert got == expect


def test_ntile_rank_formula_exhaustive():
    """distributed_ntile derives the bucket from (rank, n_total) with pure
    integer arithmetic — check it against SQL ntile semantics (first n%k
    buckets one row larger) for every n in 1..400 and several k, i.e.
    every rank of every size: an off-by-one here would silently misbin
    boundary rows at any scale."""
    for k in (2, 3, 4, 7, 10, 16):
        for n in range(1, 401):
            rem, q = n % k, n // k
            # ground truth: sizes ceil for first rem buckets, floor after
            truth = []
            for b in range(1, k + 1):
                truth.extend([b] * ((q + 1) if b <= rem else q))
            for rn in range(1, n + 1):
                if rn <= rem * (q + 1):
                    bin_ = (rn - 1) // (q + 1) + 1
                else:
                    bin_ = rem + (rn - rem * (q + 1) - 1) // max(q, 1) + 1
                assert bin_ == truth[rn - 1], (n, k, rn, bin_, truth[rn - 1])


def test_prefix_filter_lossless_property():
    """The PPJoin prefix rule used by curation_dedup_pipeline: with sets
    ordered by a global (df, token) order and prefix length
    |X| - ceil(t|X|) + 1, every pair with Jaccard >= t must collide on the
    prefixes.  Randomized check over small universes — an off-by-one in
    the prefix length silently drops borderline pairs (exactly the bug
    class the df-cap attempt had)."""
    import itertools
    import random

    rng = random.Random(7)
    t = 0.65
    for trial in range(300):
        n_docs = rng.randint(2, 8)
        universe = list(range(rng.randint(3, 12)))
        docs = [
            set(rng.sample(universe, rng.randint(1, len(universe))))
            for _ in range(n_docs)
        ]
        df = Counter(g for d in docs for g in d)
        order = sorted(universe, key=lambda g: (df[g], g))
        pos = {g: i for i, g in enumerate(order)}
        prefixes = []
        for d in docs:
            p = len(d) - math.ceil(t * len(d)) + 1
            prefixes.append(set(sorted(d, key=lambda g: pos[g])[:p]))
        for i, j in itertools.combinations(range(n_docs), 2):
            inter = len(docs[i] & docs[j])
            union = len(docs[i] | docs[j])
            if union and inter / union >= t:
                assert prefixes[i] & prefixes[j], (
                    trial, sorted(docs[i]), sorted(docs[j]), inter / union
                )
