"""Similarity operator tests: IVF recall vs brute force, anchor-LSH
candidate validity, blocked-cosine equivalence to direct computation."""

import numpy as np

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def _topk_sets(rows):
    out = {}
    for r in rows:
        out.setdefault(r.query_id, []).append((r.neighbor_id, r.cosine))
    return out


def test_ivf_recall_vs_bruteforce(spark):
    brute = _topk_sets(queries()["ann_bruteforce_topk"](spark, SF0001).collect())
    ivf = _topk_sets(queries()["ann_ivf_topk"](spark, SF0001).collect())
    assert set(ivf) == set(brute)  # same query set
    recalls = []
    for q, bt in brute.items():
        b_ids = {n for n, _ in bt}
        i_ids = {n for n, _ in ivf[q]}
        recalls.append(len(b_ids & i_ids) / len(b_ids))
    mean_recall = sum(recalls) / len(recalls)
    # probing 4/16 cells of a random corpus: recall well above the 25%
    # volume fraction because neighbors concentrate in near cells
    assert mean_recall >= 0.5, f"IVF mean recall {mean_recall}"


def test_ivf_scores_match_bruteforce_on_hits(spark):
    brute = _topk_sets(queries()["ann_bruteforce_topk"](spark, SF0001).collect())
    ivf = _topk_sets(queries()["ann_ivf_topk"](spark, SF0001).collect())
    for q in brute:
        bmap = dict(brute[q])
        for n, cos in ivf[q]:
            if n in bmap:
                assert abs(cos - bmap[n]) < 1e-9  # exact same scoring
    # and IVF never reports a better neighbor than brute force's best
    for q in brute:
        assert max(c for _, c in ivf[q]) <= max(c for _, c in brute[q]) + 1e-9


def test_blocked_cosine_matches_direct(spark):
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.operators.similarity import (
        blocked_pairwise_cosine,
    )

    e = (
        load(spark, SF0001, "embeddings")
        .filter(F.col("vec_id") < 40)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    got = {
        (r.vec_a, r.vec_b): r.cosine
        for r in blocked_pairwise_cosine(e, n_blocks=3, threshold=-1.0).collect()
    }
    rows = sorted((r.vec_id, np.asarray(r.v)) for r in e.collect())
    want = {}
    for i, (ia, va) in enumerate(rows):
        for ib, vb in rows[i + 1:]:
            want[(ia, ib)] = round(
                float(va @ vb / (np.linalg.norm(va) * np.linalg.norm(vb))), 6
            )
    assert got == want  # every pair exactly once, scores equal


def test_broadcast_cosine_matches_blocked(spark):
    # the adaptive dispatcher's two kernels must be drop-in interchangeable:
    # identical pair set, identical 6dp scores
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.operators.similarity import (
        blocked_pairwise_cosine,
        broadcast_pairwise_cosine,
        pairwise_cosine,
    )

    e = (
        load(spark, SF0001, "embeddings")
        .filter(F.col("vec_id") < 60)
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    )
    blocked = {
        (r.vec_a, r.vec_b): r.cosine
        for r in blocked_pairwise_cosine(e, n_blocks=3, threshold=0.1).collect()
    }
    bcast = {
        (r.vec_a, r.vec_b): r.cosine
        for r in broadcast_pairwise_cosine(e, threshold=0.1).collect()
    }
    assert bcast == blocked
    # tiny corpus → the dispatcher must take the broadcast path and agree
    adaptive = {
        (r.vec_a, r.vec_b): r.cosine
        for r in pairwise_cosine(e, threshold=0.1).collect()
    }
    assert adaptive == blocked
    # and an artificially tiny cap must route to the blocked kernel
    forced = {
        (r.vec_a, r.vec_b): r.cosine
        for r in pairwise_cosine(e, threshold=0.1, n_blocks=3, broadcast_cap_bytes=1).collect()
    }
    assert forced == blocked


def test_kmeans_assignment_is_nearest_centroid(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.operators.similarity import kmeans_train

    e = load(spark, SF0001, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    cent, assigned = kmeans_train(e, k=8, iters=2)
    rows = assigned.collect()
    m = np.stack([np.asarray(r["v"]) for r in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)
    # mirror the quantized-cosine assignment rule: micro-rounded cosine
    # against re-normalized centroids, ties to the lowest cell id
    cu = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    want = np.argmax(np.floor(m @ cu.T * 1e6 + 0.5), axis=1)
    got = np.array([r["cell"] for r in rows])
    assert (want == got).all()


def test_kmeans_objective_improves_over_init(spark):
    import numpy as np
    from pyspark.sql import functions as F
    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.operators.similarity import kmeans_train

    e = load(spark, SF0001, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = e.collect()
    m = np.stack([np.asarray(r["v"]) for r in rows])
    m = m / np.linalg.norm(m, axis=1, keepdims=True)

    def objective(c):
        return float(np.max(m @ c.T, axis=1).mean())  # mean best-cosine

    # iters=1 vs iters=3: more Lloyd rounds must not degrade the objective
    c1, _ = kmeans_train(e, k=8, iters=1)
    c3, _ = kmeans_train(e, k=8, iters=3)
    assert objective(c3) >= objective(c1) - 1e-9


def test_kmeans_ivf_recall_vs_bruteforce(spark):
    brute = _topk_sets(queries()["ann_bruteforce_topk"](spark, SF0001).collect())
    ivf = _topk_sets(queries()["ann_ivf_kmeans_topk"](spark, SF0001).collect())
    assert set(ivf) == set(brute)
    recalls = []
    for q, bt in brute.items():
        b_ids = {n for n, _ in bt}
        i_ids = {n for n, _ in ivf[q]}
        recalls.append(len(b_ids & i_ids) / len(b_ids))
    assert sum(recalls) / len(recalls) >= 0.5


def test_pq_topk_structure_and_determinism(spark):
    """10 queries x 5 ranks; per query the ADC distances are nondecreasing
    in rank, neighbors unique, self excluded; two runs identical (integer
    arithmetic end-to-end)."""
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    sf = "/root/testdata/sf0.001"
    a = queries()["ann_pq_topk"](spark, sf).collect()
    assert len(a) == 50
    by_q = {}
    for r in a:
        by_q.setdefault(r.query_id, []).append(r)
        assert r.neighbor_id != r.query_id
        assert r.approx_d2_x1e6 >= 0
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rnk)
        assert [r.rnk for r in rows] == [1, 2, 3, 4, 5]
        assert len({r.neighbor_id for r in rows}) == 5
        dists = [r.approx_d2_x1e6 for r in rows]
        assert dists == sorted(dists)
    b = queries()["ann_pq_topk"](spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_ivfpq_scores_match_pq_on_shared_pairs(spark):
    """Routing changes WHICH candidates are scored, never their scores:
    for every (query, neighbor) pair present in both the full-PQ top-k and
    the IVF-PQ top-k, the integer ADC distances are identical.  Plus rank
    monotonicity and run-to-run determinism."""
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    sf = "/root/testdata/sf0.001"
    pq = {(r.query_id, r.neighbor_id): r.approx_d2_x1e6
          for r in queries()["ann_pq_topk"](spark, sf).collect()}
    ivfpq = queries()["ann_ivfpq_topk"](spark, sf).collect()
    assert len(ivfpq) == 50
    shared = 0
    for r in ivfpq:
        if (r.query_id, r.neighbor_id) in pq:
            assert pq[(r.query_id, r.neighbor_id)] == r.approx_d2_x1e6, r
            shared += 1
    assert shared > 0, "top-k sets should overlap on this corpus"
    by_q = {}
    for r in ivfpq:
        by_q.setdefault(r.query_id, []).append(r)
    for q, rows in by_q.items():
        rows.sort(key=lambda r: r.rnk)
        d = [r.approx_d2_x1e6 for r in rows]
        assert d == sorted(d) and len({r.neighbor_id for r in rows}) == len(rows)
    again = queries()["ann_ivfpq_topk"](spark, sf).collect()
    assert sorted(map(tuple, ivfpq)) == sorted(map(tuple, again))


def test_pq_rerank_improves_or_matches_recall(spark):
    """Reranked top-5 recall vs exact brute force must be >= the pure-PQ
    top-5 recall — the whole point of the second stage."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.catalog import load
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    sf = "/root/testdata/sf0.001"
    exact = {}
    e = load(spark, sf, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    rows = e.collect()
    import numpy as np

    mat = {r["vec_id"]: np.asarray(r["v"]) for r in rows}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    for q in range(10):
        scored = sorted(
            ((cos(mat[q], v), i) for i, v in mat.items() if i != q),
            key=lambda t: (-t[0], t[1]),
        )
        exact[q] = {i for _, i in scored[:5]}

    def recall(name):
        got = {}
        for r in queries()[name](spark, sf).collect():
            got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
        hits = sum(len(got.get(q, set()) & exact[q]) for q in exact)
        return hits / (5 * len(exact))

    assert recall("ann_pq_rerank") >= recall("ann_pq_topk") - 1e-9


def test_pq_rerank_coarse_stage_runs_the_pq_kernel(spark):
    """ann_pq_rerank's coarse stage is ann_pq_topk's pipeline: exactly one
    MapInArrow node (the scan-local encode + ADC kernel) and no join keyed
    on the PQ subspace column ``m`` (a declarative encode joins subvectors
    to the codebook on it)."""
    import re

    from gcp_cloudsql_to_bigquery_spark.plans.inspect import physical_plan

    plan = physical_plan(queries()["ann_pq_rerank"](spark, SF0001))
    assert len(re.findall(r"\bMapInArrow ", plan)) == 1, plan
    assert not re.search(r"Join \[[^\]]*\bm#\d+", plan), plan


def test_pq_candidates_match_pq_topk(spark):
    """One PQ pipeline: the rerank's candidate retrieval at k=5 returns
    exactly ann_pq_topk's ranked rows."""
    from gcp_cloudsql_to_bigquery_spark.operators.similarity import (
        ann_pq_topk_candidates,
    )

    cand = ann_pq_topk_candidates(spark, SF0001, k=5)
    top = queries()["ann_pq_topk"](spark, SF0001)
    got = sorted(
        (r.query_id, r.neighbor_id, r.coarse_rank) for r in cand.collect()
    )
    want = sorted((r.query_id, r.neighbor_id, r.rnk) for r in top.collect())
    assert len(want) == 50
    assert got == want
