"""Tests for the record-linkage / spatial blocking joins: brute-force
verification of the grid-blocked radius join, recall proof for the
multi-key fuzzy blocking, and pair-uniqueness invariants."""

import hashlib
from itertools import combinations

from gcp_cloudsql_to_bigquery_spark.operators.linkage import _FUZZ_MAX_DIST, _GEO_MOD, _GEO_R2
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def _coord(salt: str, k: int) -> int:
    return int(hashlib.md5(f"{salt}{k}".encode()).hexdigest()[:5], 16) % _GEO_MOD


def test_geo_radius_matches_bruteforce(spark):
    """The grid-blocked join finds exactly the O(n^2) brute-force pair set,
    each pair exactly once."""
    keys = [
        r.c_custkey
        for r in spark.read.parquet(f"{SF0001}/customer.parquet").select("c_custkey").collect()
    ]
    pts = {k: (_coord("x", k), _coord("y", k)) for k in keys}
    expect = {}
    for a, b in combinations(sorted(keys), 2):
        d2 = (pts[a][0] - pts[b][0]) ** 2 + (pts[a][1] - pts[b][1]) ** 2
        if d2 <= _GEO_R2:
            expect[(a, b)] = d2
    got = queries()["join_geo_radius"](spark, SF0001).collect()
    assert len(got) == len(set((r.key_a, r.key_b) for r in got)), "duplicate pairs"
    assert {(r.key_a, r.key_b): r.dist2 for r in got} == expect


def test_fuzzy_blocking_full_recall(spark):
    """Multi-key (adjective OR noun) blocking finds every all-pairs match at
    the configured threshold — the lossless-blocking claim, re-proven
    in-process against python-levenshtein brute force."""

    def lev(a: str, b: str) -> int:
        d = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, d[0] = d[0], i
            for j, cb in enumerate(b, 1):
                prev, d[j] = d[j], min(d[j] + 1, d[j - 1] + 1, prev + (ca != cb))
        return d[len(b)]

    names = sorted(
        r.p_name
        for r in spark.read.parquet(f"{SF0001}/part.parquet").select("p_name").distinct().collect()
    )
    expect = {
        (a, b, lev(a, b))
        for a, b in combinations(names, 2)
        if lev(a, b) <= _FUZZ_MAX_DIST
    }
    got = {
        (r.name_a, r.name_b, r.edit_dist)
        for r in queries()["join_fuzzy_blocked"](spark, SF0001).collect()
    }
    assert got == expect
