"""Round-17 witnesses: the PPJoin candidate model and the LSH size band.

``prefix_filtered_candidates`` keeps a pair when one of its prefix
collisions passes the per-row positional filter
``1 + min(na - ra, nb - rb) >= alpha``, with
alpha = ceil9(t/(1+t) * (na+nb)) the minimum overlap J >= t requires.

Round 17 also grouped each pair's collisions and applied the accumulated
(PPJoin suffix-style) bound ``c_pre + min(na - ra_mx, nb - rb_mx) >=
alpha``.  That bound can never prune after the per-row filter: both docs
order tokens by the same global (df, g) key, so the pair's last passing
collision carries both max ranks and alone already satisfies
``1 + min(na - ra_mx, nb - rb_mx) >= alpha``.  It was removed;
``test_accumulated_bound_never_prunes_past_positional_filter`` pins the
implication.
"""

import itertools
import random
from collections import Counter

from tests.conftest import ceil9


def _model_collisions(docs: dict, t: float) -> dict:
    """Pure-Python replica of the candidate rule: asymmetric prefixes +
    size band + per-row positional filter.  Returns, per canonical
    (lo, hi) pair with at least one passing collision, ``(na, nb, alpha,
    [(ra, rb), ...])`` for its passing collisions."""
    df = Counter(g for d in docs.values() for g in d)
    ordered = {i: sorted(d, key=lambda g: (df[g], g)) for i, d in docs.items()}
    probe = {
        i: set(od[: len(od) - ceil9(t * len(od)) + 1]) for i, od in ordered.items()
    }
    index = {
        i: set(od[: len(od) - ceil9(2.0 * t / (1.0 + t) * len(od)) + 1])
        for i, od in ordered.items()
    }
    rank = {
        i: {g: r + 1 for r, g in enumerate(od)} for i, od in ordered.items()
    }
    out = {}
    for i, j in itertools.combinations(sorted(docs), 2):
        # orient: b = smaller in (size, id) order, a = larger
        b, a = sorted((i, j), key=lambda k: (len(docs[k]), k))
        na, nb = len(docs[a]), len(docs[b])
        # size band (binding half under nb <= na)
        if nb < ceil9(t * na):
            continue
        alpha = ceil9(t / (1.0 + t) * (na + nb))
        collisions = [
            (rank[a][g], rank[b][g])
            for g in probe[a] & index[b] & (docs[a] & docs[b])
            if 1 + min(na - rank[a][g], nb - rank[b][g]) >= alpha
        ]
        if collisions:
            out[(min(i, j), max(i, j))] = (na, nb, alpha, collisions)
    return out


def _model_candidates(docs: dict, t: float) -> set:
    return set(_model_collisions(docs, t))


def test_accumulated_suffix_bound_lossless_model():
    """300 random universes x 4 thresholds: the model candidate set must
    contain every brute-force pair with J >= t.  An off-by-one in the
    positional filter (e.g. forgetting that collision ranks are 1-based)
    drops borderline pairs and this catches it."""
    rng = random.Random(17)
    for t in (0.5, 0.55, 0.65, 0.8):
        for trial in range(300):
            n_docs = rng.randint(2, 8)
            universe = list(range(rng.randint(3, 14)))
            docs = {
                k: set(rng.sample(universe, rng.randint(1, len(universe))))
                for k in range(n_docs)
            }
            cand = _model_candidates(docs, t)
            for i, j in itertools.combinations(sorted(docs), 2):
                inter = len(docs[i] & docs[j])
                union = len(docs[i] | docs[j])
                if union and inter / union >= t:
                    assert (i, j) in cand, (
                        t, trial, sorted(docs[i]), sorted(docs[j]), inter / union
                    )


def _accumulated_bound(na, nb, collisions) -> int:
    return len(collisions) + min(
        na - max(ra for ra, _ in collisions), nb - max(rb for _, rb in collisions)
    )


def test_accumulated_bound_never_prunes_past_positional_filter():
    """The round-17 geometry that was meant to show the accumulated bound
    pruning: t = 0.6, x of size 16 and y of size 10 (alpha = 10) sharing
    exactly two tokens, at ranks (1, 1) and (8, 3).  Through the model the
    (8, 3) collision never counts — rank 8 lies outside x's 7-token probe
    prefix and its per-row bound is 1 + min(8, 7) = 8 < 10 — so the pair
    keeps its lone (1, 1) witness, whose accumulated bound is
    1 + min(15, 9) = 10 = alpha: kept, though its true J is 2/24.  Then,
    over random universes, every kept pair meets the accumulated bound."""
    t = 0.6
    # every token has df 2 (fillers 3 and 4 pair with x- and y-only
    # tokens), so each doc ranks its tokens by id
    x = {0, 10, 20, 30, 40, 50, 60, 70} | set(range(80, 160, 10))
    y = {0, 5, 70} | set(range(200, 207))
    docs = {1: x, 2: y, 3: x - y, 4: y - x}
    assert (len(x), len(y)) == (16, 10)
    assert (sorted(x).index(70) + 1, sorted(y).index(70) + 1) == (8, 3)
    na, nb, alpha, collisions = _model_collisions(docs, t)[(1, 2)]
    assert (na, nb, alpha, collisions) == (16, 10, 10, [(1, 1)])
    assert _accumulated_bound(na, nb, collisions) == alpha

    rng = random.Random(5)
    for t in (0.5, 0.6, 0.65, 0.8, 0.9):
        for _ in range(300):
            universe = list(range(rng.randint(3, 30)))
            docs = {
                k: set(rng.sample(universe, rng.randint(1, len(universe))))
                for k in range(rng.randint(2, 8))
            }
            for na, nb, alpha, collisions in _model_collisions(docs, t).values():
                assert _accumulated_bound(na, nb, collisions) >= alpha


def test_spark_candidates_still_superset_and_canonical(spark):
    """End-to-end through the real operator: candidate set still contains
    every brute-force pair with J >= t, rows still canonicalized (doc_a < doc_b) exactly once, and the set
    matches the pure-Python model exactly (the model is the spec)."""
    from gcp_cloudsql_to_bigquery_spark.operators.dedup import (
        prefix_filtered_candidates,
    )

    rng = random.Random(71)
    t = 0.65
    universe = list(range(1, 40))
    docs = {
        i: set(rng.sample(universe, rng.randint(1, 25))) for i in range(1, 31)
    }
    docs[100] = set(docs[1])                         # exact dup
    docs[101] = set(list(sorted(docs[2]))[:-1]) or {1}  # borderline near-dup
    docs[102] = docs[3] | {999}                      # superset near-dup
    sh = spark.createDataFrame(
        [(i, sorted(s)) for i, s in docs.items()],
        "doc_id long, hsh array<long>",
    )
    rows = prefix_filtered_candidates(sh, t).collect()
    got = [(r.doc_a, r.doc_b) for r in rows]
    assert len(got) == len(set(got))
    assert all(a < b for a, b in got)
    for i, j in itertools.combinations(sorted(docs), 2):
        inter = len(docs[i] & docs[j])
        union = len(docs[i] | docs[j])
        if union and inter / union >= t:
            assert (min(i, j), max(i, j)) in set(got), (i, j, inter / union)
    # exact agreement with the model (hashes in the operator are the raw
    # ints here, so ordering/df stats coincide)
    assert set(got) == _model_candidates(docs, t)


def test_lsh_size_band_lossless_and_prunes(spark):
    """r17 size band at the LSH band join: J >= 0.8 forces
    min(|A|,|B|) >= ceil9(0.8*max), so (a) every true pair at the 0.8
    verify threshold must still come out of lsh_candidate_pairs, and
    (b) a pair whose sizes violate the band must be pruned even when
    its minhash bands collide (identical prefix content + a long tail
    makes every band... not collide; instead make the small doc a strict
    subset so SOME bands can collide while J = |small|/|large| < 0.8)."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        with_shingles,
    )

    # doc 1/2: near-identical long texts (J >= 0.8 guaranteed: only the
    # last char differs); doc 3: a short strict prefix of doc 1 (subset
    # shingles => minhash bands CAN collide, but size ratio < 0.8)
    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = [
        (1, base + " tail one"),
        (2, base + " tail onX"),
        (3, base[:20]),
    ]
    d = with_shingles(
        spark.createDataFrame(docs, "doc_id long, text string")
    )
    sig = minhash_signatures(d)
    # n_sh must equal the distinct-shingle count (the oracle-grain size)
    sizes = {r.doc_id: r.n_sh for r in sig.collect()}
    expect = {
        r.doc_id: r.n for r in d.select(
            "doc_id", F.size("shingles").alias("n")).collect()
    }
    assert sizes == expect
    got = {(r.doc_a, r.doc_b) for r in lsh_candidate_pairs(sig).collect()}
    assert (1, 2) in got           # true near-dup survives the band
    # the subset doc's size violates the 0.8 band against both long docs
    import math
    assert sizes[3] < math.ceil(round(0.8 * sizes[1], 9))
    assert (1, 3) not in got and (2, 3) not in got
