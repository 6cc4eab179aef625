"""Tests for the round-5 operators: data-quality audit (incl. a corrupted
fixture proving violations are DETECTED, not just counted as zero), SCD2
interval invariants, EWMA/z-score semantics, PageRank mass properties, and
the plan shapes that keep them scale-safe."""

import os

import pyarrow as pa
import pyarrow.parquet as pq

from gcp_cloudsql_to_bigquery_spark.plans.inspect import exchange_count
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def test_dq_audit_clean_data_passes(spark):
    rows = {r.constraint_name: r.violations for r in queries()["dq_constraint_audit"](spark, SF0001).collect()}
    assert len(rows) == 6
    assert all(v == 0 for v in rows.values()), rows


def test_dq_audit_detects_injected_violations(spark, tmp_path):
    """Corrupt a copy of the fixture (orphan FK row, out-of-range quantity,
    duplicated PK) and require the audit to count each violation."""
    bad = tmp_path / "bad_sf"
    bad.mkdir()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        src = os.path.join(SF0001, f"{t}.parquet")
        if t == "lineitem":
            tbl = pq.read_table(src)
            extra = {}
            for name in tbl.column_names:
                col = tbl.column(name)
                if name == "l_orderkey":
                    extra[name] = pa.array([10**12], type=col.type)  # orphan
                elif name == "l_quantity":
                    extra[name] = pa.array([9999.0], type=col.type)  # range
                else:
                    extra[name] = pa.array([col[0].as_py()], type=col.type)
            tbl = pa.concat_tables([tbl, pa.table(extra, schema=tbl.schema)])
            pq.write_table(tbl, str(bad / f"{t}.parquet"))
        elif t == "orders":
            tbl = pq.read_table(src)
            dup = tbl.slice(0, 1)  # duplicate first PK
            pq.write_table(pa.concat_tables([tbl, dup]), str(bad / f"{t}.parquet"))
        else:
            os.symlink(src, str(bad / f"{t}.parquet"))
    rows = {r.constraint_name: r.violations
            for r in queries()["dq_constraint_audit"](spark, str(bad)).collect()}
    assert rows["lineitem_orderkey_fk"] == 1, rows
    assert rows["lineitem_qty_range"] == 1, rows
    assert rows["orders_pk_unique"] == 1, rows
    # the duplicated order also duplicates nothing else
    assert rows["customer_nationkey_fk"] == 0 and rows["orders_custkey_fk"] == 0


def test_scd2_interval_invariants(spark):
    df = queries()["elt_scd2_dimension"](spark, SF0001)
    rows = df.collect()
    by_cust = {}
    for r in rows:
        by_cust.setdefault(r.o_custkey, []).append(r)
    for cust, ivs in by_cust.items():
        # chain order: same-day double changes produce (d1, d1-zero-length)
        # then (d1, d2...) — sort by (valid_from, valid_to) with the open
        # interval (None) last, mirroring the query's chronological lead()
        ivs.sort(key=lambda r: (r.valid_from, r.valid_to is None, r.valid_to))
        currents = [r for r in ivs if r.is_current]
        assert len(currents) == 1, (cust, ivs)
        assert currents[0].valid_to is None
        # intervals chain: each non-current row's valid_to is the next valid_from
        for a, b in zip(ivs, ivs[1:]):
            assert a.valid_to == b.valid_from, (cust, a, b)
        # consecutive rows always change attribute (change-points only)
        for a, b in zip(ivs, ivs[1:]):
            assert a.priority != b.priority or a.valid_from == b.valid_from


def test_scd2_single_exchange(spark):
    # both window passes share the o_custkey partitioning: ONE shuffle total
    df = queries()["elt_scd2_dimension"](spark, SF0001)
    assert exchange_count(df) == 1


def test_ewma_first_observation_is_identity(spark):
    rows = queries()["ts_ewma"](spark, SF0001).collect()
    for r in rows:
        assert 1 <= r.n_obs <= 10
        if r.n_obs == 1:
            # single-observation EWMA is the value itself (x10k fixed point)
            assert r.ewma_x10k == round(r.cents / 100.0 * 1e4)


def test_ewma_single_exchange(spark):
    # 10 lags + row_number share one window spec on top of the hourly
    # pre-aggregation: one agg shuffle + one window shuffle
    df = queries()["ts_ewma"](spark, SF0001)
    assert exchange_count(df) <= 2


def test_zscore_baseline_semantics(spark):
    rows = queries()["ts_anomaly_zscore"](spark, SF0001).collect()
    assert rows
    for r in rows:
        if r.n_baseline < 2:
            assert not r.is_anomaly  # variance undefined below 2 samples
    # recompute every row by hand with the float z-test (the integer form
    # must agree away from exact boundaries)
    import statistics

    series = {}
    for r in sorted(rows, key=lambda r: r.h):
        series.setdefault(r.event_type, []).append(r)
    for et, seq in series.items():
        assert seq[0].n_baseline == 0 and not seq[0].is_anomaly
        for i, r in enumerate(seq):
            base = [x.cents for x in seq[max(0, i - 24):i]]
            assert r.n_baseline == len(base), (et, r)
            if len(base) >= 2:
                mu = statistics.mean(base)
                sd = statistics.stdev(base)
                # zero-variance baseline: any deviation is infinite z — the
                # integer form flags it, and so must the reference model
                if sd == 0:
                    want = r.cents != base[0]
                else:
                    want = abs(r.cents - mu) > 3 * sd
                assert r.is_anomaly == want, (et, r, mu, sd)


def test_pagerank_mass_and_determinism(spark):
    rows1 = {r.n_nationkey: r.pr_x1e9 for r in queries()["graph_pagerank"](spark, SF0001).collect()}
    rows2 = {r.n_nationkey: r.pr_x1e9 for r in queries()["graph_pagerank"](spark, SF0001).collect()}
    assert rows1 == rows2  # quantized iterations are run-to-run stable
    assert len(rows1) == 25
    total = sum(rows1.values()) / 1e9
    # damping floor: every node holds at least (1-d)/N; dangling losses keep
    # the total at or below 1
    assert all(v >= 0.15 / 25 * 1e9 - 1 for v in rows1.values())
    assert 0.15 <= total <= 1.0 + 1e-6


def test_stats_regression_matches_numpy(spark):
    import numpy as np

    from gcp_cloudsql_to_bigquery_spark.catalog import load

    rows = {r.l_returnflag: r for r in queries()["agg_stats_regression"](spark, SF0001).collect()}
    li = load(spark, SF0001, "lineitem").select("l_returnflag", "l_extendedprice", "l_quantity").collect()
    by_flag = {}
    for r in li:
        by_flag.setdefault(r.l_returnflag, []).append((r.l_extendedprice, r.l_quantity))
    for flag, pairs in by_flag.items():
        p = np.array([a for a, _ in pairs])
        q = np.array([b for _, b in pairs])
        slope, intercept = np.polyfit(q, p, 1)
        got = rows[flag]
        assert got.n_pairs == len(pairs)
        assert abs(got.slope_x1e6 / 1e6 - slope) < 1e-4
        assert abs(got.intercept_x1e4 / 1e4 - intercept) < 1e-2
        assert abs(got.corr_x1e6 / 1e6 - np.corrcoef(p, q)[0, 1]) < 1e-5


def test_twa_constant_series_equals_value(spark):
    """LOCF time-weighted average of a constant series is the constant,
    regardless of sample spacing; and single-point days are excluded."""
    out = queries()["ts_time_weighted_avg"](spark, SF0001)
    rows = out.collect()
    assert all(r.n_obs >= 2 for r in rows)
    # integral/span identity: twa lies within [min,max] cents of the day —
    # check via a hand-built constant fixture
    import datetime
    df = spark.createDataFrame(
        [
            (1, datetime.datetime(2024, 1, 1, 0, 0, 0), 9, "t", 2.5, "{}"),
            (2, datetime.datetime(2024, 1, 1, 5, 0, 0), 9, "t", 2.5, "{}"),
            (3, datetime.datetime(2024, 1, 1, 23, 0, 0), 9, "t", 2.5, "{}"),
        ],
        "event_id long, ts timestamp, user_id long, event_type string, value double, props string",
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        for t in ("events",):
            df.write.mode("overwrite").parquet(os.path.join(d, f"{t}.parquet"))
        r = queries()["ts_time_weighted_avg"](spark, d).collect()
    assert len(r) == 1 and r[0].twa_cents_x100 == 250 * 100


def test_counter_rate_reset_semantics(spark):
    """A drop between consecutive buckets flags a reset and contributes the
    post-reset absolute value; first bucket contributes nothing."""
    out = queries()["ts_counter_rate"](spark, SF0001)
    import pandas as pd
    pdf = out.toPandas().sort_values(["event_type", "h"])
    for _, g in pdf.groupby("event_type"):
        assert pd.isna(g.iloc[0]["increase"])
        prev = None
        cum = 0
        for _, r in g.iterrows():
            if prev is not None:
                delta = r["cents"] - prev
                expect = r["cents"] if delta < 0 else delta
                assert r["increase"] == expect
                assert bool(r["is_reset"]) == (delta < 0)
                cum += expect
            assert r["cum_increase"] == cum
            prev = r["cents"]


def test_twa_and_counter_rate_single_window_exchange(spark):
    """Both queries shuffle once for the pre-reduction and once for the
    window pass — no extra exchanges."""
    for name in ("ts_time_weighted_avg", "ts_counter_rate"):
        df = queries()[name](spark, SF0001)
        assert exchange_count(df) <= 2, (name, df._jdf.queryExecution().executedPlan().toString())


def test_triangle_count_matches_bruteforce(spark):
    """Per-node triangle counts agree with an O(n^3) brute force on the
    collected 25-node edge list; sum(per-node) = 3 * total triangles."""
    from itertools import combinations
    out = {r.n_nationkey: r for r in queries()["graph_triangle_count"](spark, SF0001).collect()}
    # rebuild the undirected edge set independently
    li = spark.read.parquet(f"{SF0001}/lineitem.parquet").select("l_orderkey", "l_suppkey")
    o = spark.read.parquet(f"{SF0001}/orders.parquet").select("o_orderkey", "o_custkey")
    c = spark.read.parquet(f"{SF0001}/customer.parquet").select("c_custkey", "c_nationkey")
    s = spark.read.parquet(f"{SF0001}/supplier.parquet").select("s_suppkey", "s_nationkey")
    pairs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .filter("c_nationkey <> s_nationkey")
        .selectExpr("least(c_nationkey, s_nationkey) a", "greatest(c_nationkey, s_nationkey) b")
        .distinct()
        .collect()
    )
    adj = {}
    for r in pairs:
        adj.setdefault(r.a, set()).add(r.b)
        adj.setdefault(r.b, set()).add(r.a)
    tri = {k: 0 for k in adj}
    total = 0
    for x, y, z in combinations(sorted(adj), 3):
        if y in adj[x] and z in adj[x] and z in adj[y]:
            total += 1
            tri[x] += 1; tri[y] += 1; tri[z] += 1
    for k, v in tri.items():
        assert out[k].n_triangles == v, (k, v, out[k])
        assert out[k].degree == len(adj[k])
        assert 0 <= out[k].clustering_x1e6 <= 1_000_000
    assert sum(r.n_triangles for r in out.values()) == 3 * total


def test_cms_one_sided_error_and_width_saturation(spark):
    """CMS estimates never underestimate; with only 5 distinct keys in a
    64-wide sketch, collisions are rare enough that estimates equal exact
    counts unless two keys share a bucket in every row."""
    rows = queries()["agg_count_min_sketch"](spark, SF0001).collect()
    assert all(r.never_underestimates for r in rows)
    assert all(r.cms_estimate >= r.exact_n for r in rows)


def test_entropy_uniform_and_degenerate(spark, tmp_path):
    """Uniform 4-language source -> exactly 2 bits; single-language source
    -> exactly 0 bits."""
    import os
    docs = [(i, "t", ["en", "fr", "de", "es"][i % 4], "uniform", 1) for i in range(40)]
    docs += [(100 + i, "t", "en", "mono", 1) for i in range(7)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(os.path.join(str(tmp_path), "documents.parquet"))
    out = {r.source: r for r in queries()["agg_entropy"](spark, str(tmp_path)).collect()}
    assert out["uniform"].entropy_bits_x1e6 == 2_000_000
    assert out["uniform"].n_langs == 4
    assert out["mono"].entropy_bits_x1e6 == 0


def test_mode_deterministic_tie_break(spark, tmp_path):
    """On an exact tie the smallest value wins — pinned, engine-independent."""
    import os
    rows = [(1, "n", 10, 0.0, "SEG"), (2, "n", 20, 0.0, "SEG"),
            (3, "n", 10, 0.0, "SEG"), (4, "n", 20, 0.0, "SEG")]
    spark.createDataFrame(
        rows, "c_custkey long, c_name string, c_nationkey int, c_acctbal double, c_mktsegment string"
    ).write.mode("overwrite").parquet(os.path.join(str(tmp_path), "customer.parquet"))
    out = queries()["agg_mode_deterministic"](spark, str(tmp_path)).collect()
    assert len(out) == 1 and out[0].mode_nationkey == 10 and out[0].mode_count == 2


def test_audience_overlap_bounds(spark):
    rows = queries()["analytics_audience_overlap"](spark, SF0001).collect()
    assert rows, "expected at least one overlapping type pair"
    for r in rows:
        assert r.type_a < r.type_b
        assert r.n_both <= min(r.n_a, r.n_b)
        assert 0 < r.jaccard_x1e6 <= 1_000_000


def test_event_transitions_rows_normalize(spark):
    """Per from_type, probabilities sum to 1e6 within rounding slack of the
    per-row fixed-point truncation (at most one count per destination)."""
    rows = queries()["analytics_event_transitions"](spark, SF0001).collect()
    from collections import defaultdict
    by_from = defaultdict(list)
    for r in rows:
        by_from[r.from_type].append(r)
    for ft, rs in by_from.items():
        s = sum(r.p_x1e6 for r in rs)
        assert abs(s - 1_000_000) <= len(rs), (ft, s)
        assert all(r.n > 0 for r in rs)


def test_snapshot_diff_class_arithmetic(spark):
    """added = #keys%103 (all shifted past A's range); removed = #keys%97;
    changed = #keys%101 surviving the %97 drop; total classified = |A ∪ B|."""
    o = spark.read.parquet(f"{SF0001}/orders.parquet").select("o_orderkey")
    keys = [r.o_orderkey for r in o.collect()]
    out = {r.change_kind: r for r in queries()["elt_snapshot_diff"](spark, SF0001).collect()}
    exp_added = sum(1 for k in keys if k % 103 == 0)
    exp_removed = sum(1 for k in keys if k % 97 == 0)
    exp_changed = sum(1 for k in keys if k % 101 == 0 and k % 97 != 0)
    assert out.get("added") and out["added"].n == exp_added
    assert out.get("removed") and out["removed"].n == exp_removed
    assert out.get("changed") and out["changed"].n == exp_changed
    assert out["unchanged"].n == len(keys) - exp_removed - exp_changed
    assert out["added"].key_checksum == sum(k + 1000000000 for k in keys if k % 103 == 0)


def test_weighted_median_matches_numpy_style(spark):
    """Lower weighted median agrees with a direct python computation."""
    li = spark.read.parquet(f"{SF0001}/lineitem.parquet").select(
        "l_returnflag", "l_extendedprice", "l_quantity"
    ).collect()
    from collections import defaultdict
    acc = defaultdict(list)
    for r in li:
        acc[r.l_returnflag].append((int(r.l_extendedprice * 100 + 0.5), int(r.l_quantity)))
    out = {r.l_returnflag: r for r in queries()["agg_weighted_median"](spark, SF0001).collect()}
    for flag, pairs in acc.items():
        pairs.sort()
        total = sum(w for _, w in pairs)
        cw = 0
        med = None
        for c, w in pairs:
            cw += w
            if 2 * cw >= total:
                med = c
                break
        assert out[flag].weighted_median_cents == med
        assert out[flag].total_weight == total


def test_epoch_shuffle_is_permutation_and_balanced(spark):
    """(shard, pos) pairs form a dense permutation: every doc placed once,
    positions 0..n_i-1 dense per shard, different seeds permute."""
    out = queries()["curation_epoch_shuffle"](spark, SF0001).collect()
    docs = {r.doc_id for r in out}
    assert len(docs) == len(out)
    from collections import defaultdict
    by_shard = defaultdict(list)
    for r in out:
        by_shard[r.shard].append(r.pos)
    for shard, poss in by_shard.items():
        assert sorted(poss) == list(range(len(poss))), shard
    assert len(by_shard) == 8


def test_reconciliation_detects_exactly_corrupted_days(spark):
    """A day-partition mismatches iff it contains a key divisible by 211 —
    the digest detects every injected corruption and nothing else."""
    o = spark.read.parquet(f"{SF0001}/orders.parquet").select("o_orderkey", "o_orderdate").collect()
    from collections import defaultdict
    corrupted_days = set()
    all_days = set()
    for r in o:
        d = r.o_orderdate.date()
        all_days.add(d)
        if r.o_orderkey % 211 == 0:
            corrupted_days.add(d)
    out = {r.d: r for r in queries()["dq_reconciliation_rowhash"](spark, SF0001).collect()}
    assert set(out) == all_days
    for d, r in out.items():
        assert r.partition_matches == (d not in corrupted_days), d
        assert r.n_a == r.n_b


def test_frequent_pairs_bruteforce(spark):
    """Pair supports agree with an in-memory basket scan."""
    li = spark.read.parquet(f"{SF0001}/lineitem.parquet").select("l_orderkey", "l_partkey").collect()
    from collections import defaultdict
    from itertools import combinations
    baskets = defaultdict(set)
    for r in li:
        baskets[r.l_orderkey].add(r.l_partkey)
    counts = defaultdict(int)
    for parts in baskets.values():
        for a, b in combinations(sorted(parts), 2):
            counts[(a, b)] += 1
    expect = {k: v for k, v in counts.items() if v >= 3}
    got = {(r.part_a, r.part_b): r.n_baskets for r in queries()["analytics_frequent_pairs"](spark, SF0001).collect()}
    assert got == expect


def test_collation_group_merges_case_variants(spark):
    """Every collated group aggregates exactly 3x the per-source doc count
    and sees >1 raw case variant for multi-char sources."""
    docs = spark.read.parquet(f"{SF0001}/documents.parquet").groupBy("source").count().collect()
    per_source = {r.source: r["count"] for r in docs}
    out = {r.key_lower: r for r in queries()["fn_collation_group"](spark, SF0001).collect()}
    assert set(out) == {s.lower() for s in per_source}
    for s, n in per_source.items():
        r = out[s.lower()]
        assert r.n == 3 * n
        assert r.n_case_variants >= 2
        assert r.min_variant.lower() == s.lower()


def test_window_funnel_bruteforce(spark):
    """Earliest-completion windowed funnel agrees with a per-user python
    replay at sf0.001."""
    import datetime
    ev = spark.read.parquet(f"{SF0001}/events.parquet").select("user_id", "event_type", "ts").collect()
    from collections import defaultdict
    per_user = defaultdict(list)
    for r in ev:
        per_user[r.user_id].append((r.ts, r.event_type))
    win = datetime.timedelta(hours=6)
    n1 = n2 = n3 = 0
    for _, evs in per_user.items():
        views = [t for t, k in evs if k == "view"]
        if not views:
            continue
        n1 += 1
        t1 = min(views)
        clicks = [t for t, k in evs if k == "click" and t1 < t <= t1 + win]
        if not clicks:
            continue
        n2 += 1
        t2 = min(clicks)
        buys = [t for t, k in evs if k == "purchase" and t2 < t <= t2 + win]
        if buys:
            n3 += 1
    out = queries()["analytics_window_funnel"](spark, SF0001).collect()[0]
    assert (out.n_step1, out.n_step2, out.n_step3) == (n1, n2, n3)
    assert out.n_step1 >= out.n_step2 >= out.n_step3 > 0


def test_m4_downsample_invariants(spark):
    """min<=first,last<=max per bucket; bucket 0 exists for every series;
    n_points sums to the hourly bucket count."""
    out = queries()["ts_m4_downsample"](spark, SF0001).collect()
    assert out
    from collections import defaultdict
    per_series = defaultdict(int)
    for r in out:
        assert r.min_cents <= r.first_cents <= r.max_cents
        assert r.min_cents <= r.last_cents <= r.max_cents
        per_series[r.event_type] += r.n_points
        assert r.bucket >= 0
    hourly = (
        spark.read.parquet(f"{SF0001}/events.parquet")
        .selectExpr("event_type", "date_trunc('hour', ts) h")
        .distinct()
        .groupBy("event_type")
        .count()
        .collect()
    )
    for r in hourly:
        assert per_series[r.event_type] == r["count"]


def test_link_prediction_candidates_are_nonadjacent(spark):
    """Candidates never include existing k-NN edges; jaccard bounded; every
    candidate pair shares >=1 neighbor by construction."""
    out = queries()["graph_link_prediction"](spark, SF0001).collect()
    assert out, "sparsified graph must yield candidates"
    for r in out:
        assert r.node_a < r.node_b
        assert r.n_common >= 1
        assert 0 < r.jaccard_x1e6 <= 1_000_000
