"""Round-16 optimization witnesses, part B (asymmetric PPJoin prefix).

The substantive r16 change to proven machinery is the ASYMMETRIC PPJoin
index prefix in ``prefix_filtered_candidates`` (Xiao et al. WWW'08 §4):
pairs ordered by (set size, doc_id), probing side keeps the standard
``n - ceil(t*n) + 1`` prefix, indexed (smaller) side only its
``n - ceil(2t/(1+t)*n) + 1`` rarest tokens.  These tests pin the lossless
argument both as a pure-Python model (no Spark, exhaustive randomized
universes, several thresholds) and end-to-end through the real operator.
"""

import itertools
import random
from collections import Counter

from tests.conftest import ceil9


def test_asymmetric_prefix_lossless_model():
    """Model of the full r16 candidate rule — asymmetric prefixes, size
    band, positional filter: every pair with J >= t must keep at least
    one witness collision row.  An off-by-one in the 2t/(1+t) index
    prefix (or a raw-double ceil of an exactly-integral product) drops
    borderline pairs; 300 random universes x 4 thresholds would catch
    it."""
    rng = random.Random(16)
    for t in (0.5, 0.55, 0.65, 0.8):
        for trial in range(300):
            n_docs = rng.randint(2, 8)
            universe = list(range(rng.randint(3, 14)))
            docs = [
                set(rng.sample(universe, rng.randint(1, len(universe))))
                for _ in range(n_docs)
            ]
            df = Counter(g for d in docs for g in d)
            pos = {
                g: i
                for i, g in enumerate(sorted(universe, key=lambda g: (df[g], g)))
            }
            ordered = [sorted(d, key=lambda g: pos[g]) for d in docs]
            probe = [od[: len(od) - ceil9(t * len(od)) + 1] for od in ordered]
            index = [
                od[: len(od) - ceil9(2.0 * t / (1.0 + t) * len(od)) + 1]
                for od in ordered
            ]
            for i, j in itertools.combinations(range(n_docs), 2):
                inter = len(docs[i] & docs[j])
                union = len(docs[i] | docs[j])
                if not union or inter / union < t:
                    continue
                # orient: b = smaller (size, id), a = larger
                b, a = sorted(
                    (i, j), key=lambda k: (len(docs[k]), k)
                )
                na, nb = len(docs[a]), len(docs[b])
                alpha = ceil9(t / (1.0 + t) * (na + nb))
                rank_a = {g: r + 1 for r, g in enumerate(ordered[a])}
                rank_b = {g: r + 1 for r, g in enumerate(ordered[b])}
                witnesses = [
                    g
                    for g in set(probe[a]) & set(index[b])
                    if 1 + min(na - rank_a[g], nb - rank_b[g]) >= alpha
                ]
                assert witnesses, (
                    t, trial, sorted(docs[a]), sorted(docs[b]), inter / union
                )


def test_asymmetric_candidates_superset_of_true_pairs(spark):
    """End-to-end through the real operator: on a random hashed-shingle
    corpus the candidate set must contain every brute-force pair with
    J >= t, and rows must come out canonicalized (doc_a < doc_b) exactly
    once."""
    from gcp_cloudsql_to_bigquery_spark.operators.dedup import (
        prefix_filtered_candidates,
    )

    rng = random.Random(61)
    t = 0.65
    universe = list(range(1, 40))
    docs = {
        i: set(rng.sample(universe, rng.randint(1, 25))) for i in range(1, 31)
    }
    # salt in guaranteed borderline near-dups (J in [t, 1])
    docs[100] = set(docs[1])
    docs[101] = set(list(sorted(docs[2]))[:-1]) or {1}
    docs[102] = docs[3] | {999}
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


def test_null_doc_id_never_pairs(spark):
    """null-KEYS hazard pinned during r16: the (size, id) pair order
    compares sizes FIRST (never NULL), so a NULL-id doc could pass
    orientation against a smaller doc and least/greatest would collapse
    the pair into a spurious (x, x) self-pair.  NULL-id docs must be
    invisible to the candidate machinery, exactly like the oracles'
    a.doc_id < b.doc_id pairing."""
    from gcp_cloudsql_to_bigquery_spark.operators.dedup import (
        prefix_filtered_candidates,
    )

    sh = spark.createDataFrame(
        [
            (1, [10, 11, 12, 13]),
            (None, [10, 11, 12, 13]),   # exact dup of doc 1, but NULL id
            (2, [10, 11, 12]),          # J(2,1)=0.75, J(2,null-doc)=0.75
        ],
        "doc_id long, hsh array<long>",
    )
    got = {(r.doc_a, r.doc_b) for r in prefix_filtered_candidates(sh, 0.65).collect()}
    assert got == {(1, 2)}
