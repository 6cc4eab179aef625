"""Round-8 witnesses for the four rounds-9 gate-tail queries that had no
dedicated test (stream_chained_stateful_aggs, src_python_datasource_stream,
fn_pandas_on_spark_api) or only a structural property test (graph_hits).

graph_hits is replay-style — the DuckDB oracle unrolls the identical
max-normalized power iteration — so per the README third-witness rule its
ground truth is recomputed here in pure Python from the raw parquet,
independent of both engines.  The other three are behavioral contracts
(chained watermark frontier, exactly-once block delivery, pandas-dialect
== native plan) recomputed from first principles the same way.
"""

import datetime as dt
import math
from collections import Counter, defaultdict

import pyarrow.parquet as pq

from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001, SF001, parquet_col


def test_hits_matches_bruteforce(spark):
    """Full pure-Python replay of the 3-iteration HITS loop: edge weights
    from the 4-way join, h0=1, per-half-round dst/src-keyed weighted sums,
    MAX-normalize over raw scores, micro-quantize to 1e-9 — then compare
    the x1e9 integers.  Summation-order float drift can move a quantized
    value by at most one 1e-9 step, so the assertion allows |delta| <= 1;
    any algorithmic bug (wrong key direction, missing coalesce-to-zero,
    normalizing before the sum, L1 instead of max) shifts scores by
    orders of magnitude more."""
    lk = parquet_col(SF0001, "lineitem", "l_orderkey")
    ls = parquet_col(SF0001, "lineitem", "l_suppkey")
    o = dict(zip(parquet_col(SF0001, "orders", "o_orderkey"), parquet_col(SF0001, "orders", "o_custkey")))
    c = dict(zip(parquet_col(SF0001, "customer", "c_custkey"), parquet_col(SF0001, "customer", "c_nationkey")))
    s = dict(zip(parquet_col(SF0001, "supplier", "s_suppkey"), parquet_col(SF0001, "supplier", "s_nationkey")))
    nations = sorted(parquet_col(SF0001, "nation", "n_nationkey"))

    w = Counter((c[o[ok]], s[sk]) for ok, sk in zip(lk, ls))

    def quant(x):
        return math.floor(x * 1e9 + 0.5) / 1e9

    def half_round(score, from_idx, to_idx):
        raw = defaultdict(float)
        for (src, dst), wt in w.items():
            key = (src, dst)
            raw[key[to_idx]] += score[key[from_idx]] * wt
        m = max(raw.values())
        return {n: quant(raw.get(n, 0.0) / m) for n in nations}

    h = {n: 1.0 for n in nations}
    for _ in range(3):
        a = half_round(h, 0, 1)  # authority: dst-keyed sum of h[src]*w
        h = half_round(a, 1, 0)  # hub: src-keyed sum of a[dst]*w
    want_a = {n: math.floor(a[n] * 1e9 + 0.5) for n in nations}
    want_h = {n: math.floor(h[n] * 1e9 + 0.5) for n in nations}

    rows = queries()["graph_hits"](spark, SF0001).collect()
    assert len(rows) == len(nations)
    for r in rows:
        n = r["n_nationkey"]
        assert abs(r["auth_x1e9"] - want_a[n]) <= 1, (n, r["auth_x1e9"], want_a[n])
        assert abs(r["hub_x1e9"] - want_h[n]) <= 1, (n, r["hub_x1e9"], want_h[n])
        # zero/positive structure must be exact (no quantization slack):
        # a nation has authority iff an edge points at it, hub iff it
        # sources one
        assert (r["auth_x1e9"] > 0) == (want_a[n] > 0)
        assert (r["hub_x1e9"] > 0) == (want_h[n] > 0)
    # non-degenerate: the corpus has real asymmetry to rank
    assert len({r["auth_x1e9"] for r in rows}) > 2


def test_chained_stateful_aggs_match_manual_rollup(spark):
    """The two-level streaming rollup (hourly counts -> 6h peak/n_hours)
    recomputed from the raw events: hour buckets floor to the hour, the
    downstream window buckets the hourly window's event-time into epoch-
    aligned 6h cells, and only 6h windows whose END has been passed by
    the final watermark (max ts - 1h) may emit in append mode.  Catches
    frontier bugs (emitting unfinalized windows / dropping finalized
    ones) and bucket misalignment that the rows-only driver check for
    streaming queries would miss."""
    t = pq.read_table(f"{SF0001}/events.parquet", columns=["ts", "event_type"])
    ts = t.column("ts").to_pylist()
    et = t.column("event_type").to_pylist()

    hourly = Counter(
        (u.replace(minute=0, second=0, microsecond=0), e) for u, e in zip(ts, et)
    )
    epoch = dt.datetime(1970, 1, 1)
    six = defaultdict(list)
    for (h, e), n in hourly.items():
        hrs = int((h - epoch).total_seconds()) // 3600
        win = epoch + dt.timedelta(hours=hrs // 6 * 6)
        six[(win, e)].append(n)
    wm = max(ts) - dt.timedelta(hours=1)
    want = {
        (win, e): (max(ns), len(ns))
        for (win, e), ns in six.items()
        if win + dt.timedelta(hours=6) <= wm
    }
    assert want  # frontier keeps a non-empty, strict subset
    assert len(want) < len(six)

    got = {
        (r["win_start"], r["event_type"]): (r["peak_hourly"], r["n_hours"])
        for r in queries()["stream_chained_stateful_aggs"](spark, SF0001).collect()
    }
    assert got == want


def test_python_datasource_stream_delivers_each_key_once(spark):
    """Exactly-once block delivery of the streaming Python data source at
    sf0.01 (1500 keys -> 3 distinct 500-key blocks, so offset advancement
    is exercised across multiple micro-batches): every customer key lands
    exactly once, with its acctbal in integer cents and the block lineage
    k // 500 the offset contract promises."""
    keys = parquet_col(SF001, "customer", "c_custkey")
    bals = parquet_col(SF001, "customer", "c_acctbal")
    want = {
        k: (math.floor(b * 100 + 0.5), k // 500) for k, b in zip(keys, bals)
    }

    rows = queries()["src_python_datasource_stream"](spark, SF001).collect()
    assert len(rows) == len(want)  # no duplicate delivery, no loss
    got = {r["k"]: (r["cents"], r["block"]) for r in rows}
    assert got == want
    # multi-batch: the offset really advanced across >=3 blocks
    assert len({b for _, b in got.values()}) >= 3


def _jaccard_edges(path, thresh=0.65):
    """Ground-truth near-dup edge set recomputed from raw text: distinct
    character 3-gram shingles (``substring(text, i, 3)`` for i in
    1..max(len-2, 1), exactly the engine's SHINGLE_EXPR), exact pairwise
    Jaccard over the STRING sets (the engine compares xxhash64-hashed
    sets — an xxhash64 collision would surface here as a diff), rounded
    half-up to 6dp like both engines, thresholded.  Pairs (a < b)."""
    t = pq.read_table(f"{path}/documents.parquet", columns=["doc_id", "text"])
    shingles = {
        i: frozenset(x[j : j + 3] for j in range(max(len(x) - 2, 1)))
        for i, x in zip(t.column("doc_id").to_pylist(), t.column("text").to_pylist())
    }
    ids = sorted(shingles)
    edges = set()
    for i, a in enumerate(ids):
        sa = shingles[a]
        for b in ids[i + 1 :]:
            sb = shingles[b]
            inter = len(sa & sb)
            if inter and math.floor(inter / (len(sa) + len(sb) - inter) * 1e6 + 0.5) / 1e6 >= thresh:
                edges.add((a, b))
    return edges


def test_kcore_matches_bruteforce_peel(spark):
    """graph_kcore's oracle unrolls the same 8 peel rounds the Spark loop
    runs (replay-style), so the peel is recomputed here from first
    principles: symmetric edge set from _jaccard_edges, iteratively drop
    nodes of degree < 2 plus their edges until fixpoint, compare the
    surviving (node, core_degree) map exactly.  Also asserts the peel
    reaches fixpoint within the 8 shared rounds — the premise that makes
    the fixed unroll exact."""
    edges = _jaccard_edges(SF0001)
    assert edges  # non-degenerate corpus
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    rounds = 0
    while True:
        drop = {n for n, nb in adj.items() if len(nb) < 2}
        if not drop:
            break
        rounds += 1
        for n in drop:
            for m in adj[n]:
                adj[m].discard(n)
            del adj[n]
        adj = {n: nb for n, nb in adj.items() if nb}
    assert rounds <= 8  # fixpoint inside the shared unroll bound
    want = {n: len(nb) for n, nb in adj.items()}

    got = {
        r["doc_id"]: r["core_degree"]
        for r in queries()["graph_kcore"](spark, SF0001).collect()
    }
    assert got == want
    assert want  # the 2-core is non-empty at this SF


def test_bfs_layers_match_bruteforce_bfs(spark):
    """graph_bfs_layers' oracle is the same recursive expansion in CTE
    form (replay-style): recompute min-hop distances with a plain BFS
    from the % 100 == 0 seed set over the recomputed edge set, capped at
    depth 6, and compare (doc_id, depth) exactly."""
    edges = _jaccard_edges(SF0001)
    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    seeds = {n for n in adj if n % 100 == 0}
    assert seeds  # non-degenerate: the seed filter selects real nodes
    dist = {n: 0 for n in seeds}
    frontier = set(seeds)
    for d in range(1, 7):
        frontier = {v for u in frontier for v in adj[u] if v not in dist}
        for v in frontier:
            dist[v] = d

    got = {
        r["doc_id"]: r["depth"]
        for r in queries()["graph_bfs_layers"](spark, SF0001).collect()
    }
    assert got == dist
    assert len({d for d in dist.values()}) > 1  # more than just the seed layer


def test_pandas_on_spark_api_matches_python(spark):
    """The pandas-dialect grouped aggregate recomputed with a plain dict
    sweep over the raw orders parquet — integer cents end-to-end, so the
    comparison is exact."""
    pri = parquet_col(SF0001, "orders", "o_orderpriority")
    tp = parquet_col(SF0001, "orders", "o_totalprice")
    want = {}
    for p, v in zip(pri, tp):
        cents = math.floor(v * 100 + 0.5)
        n, tot, mx = want.get(p, (0, 0, 0))
        want[p] = (n + 1, tot + cents, max(mx, cents))

    got = {
        r["pri"]: (r["n"], r["cents"], r["max_cents"])
        for r in queries()["fn_pandas_on_spark_api"](spark, SF0001).collect()
    }
    assert got == want
