"""Pure-Python third witnesses for the last four r9-gate-tail queries
that had no dedicated test: the streaming pair (stream_late_data_audit,
stream_checkpoint_resume), sql_identifier_clause, and
dq_null_pattern_profile.

The streaming pair are replay-style — their DuckDB oracles restate the
watermark frontier as a batch HAVING — so per the README third-witness
rule the expected rows are recomputed here from the raw parquet in pure
Python (epoch-aligned 6 h buckets, frontier = max ts - 2 h), independent
of both engines.  The other two get the same treatment: group counts /
null-pattern histogram rebuilt with collections.Counter.
"""

from collections import Counter

from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001, parquet_cols


SIX_H_US = 6 * 3600 * 1_000_000


TWO_H_US = 2 * 3600 * 1_000_000


def _expected_windowed_events():
    """Single-pass 6 h window aggregate with the 2 h-watermark emission
    frontier, from first principles: epoch-aligned buckets over
    microsecond timestamps, windows emitted iff win_end <= max_ts - 2 h."""
    ids, ts, types = parquet_cols("events", ["event_id", "ts", "event_type"])
    us = [int(t.timestamp() * 1_000_000) for t in ts]
    frontier = max(us) - TWO_H_US
    n, id_sum = Counter(), Counter()
    for e, u, ty in zip(ids, us, types):
        win = (u // SIX_H_US) * SIX_H_US
        n[(win, ty)] += 1
        id_sum[(win, ty)] += e
    return {
        k: (n[k], id_sum[k]) for k in n if k[0] + SIX_H_US <= frontier
    }


def _collect_windowed(df):
    rows = df.collect()
    return {
        (int(r["win_start"].timestamp() * 1_000_000), r["event_type"]): (
            r["n"],
            r["id_sum"],
        )
        for r in rows
    }


def test_late_data_audit_matches_bruteforce(spark):
    """The straggler shard re-delivers ~1/7 of the first five days weeks
    past the watermark; a correct watermark means the streamed result
    equals the single-pass no-duplicate aggregate computed here."""
    got = _collect_windowed(queries()["stream_late_data_audit"](spark, SF0001))
    assert got == _expected_windowed_events()


def test_checkpoint_resume_matches_bruteforce(spark):
    """Two StreamingQueries over one checkpoint (terminate after 20 days,
    resume for 10 more): re-processing old files would double counts,
    losing state would split straddling windows — either diverges from
    the same single-pass expectation."""
    got = _collect_windowed(queries()["stream_checkpoint_resume"](spark, SF0001))
    assert got == _expected_windowed_events()


def test_identifier_clause_matches_bruteforce(spark):
    (flags,) = parquet_cols("lineitem", ["l_returnflag"])
    (stats,) = parquet_cols("orders", ["o_orderstatus"])
    expected = {("lineitem", g): c for g, c in Counter(flags).items()}
    expected |= {("orders", g): c for g, c in Counter(stats).items()}
    got = {
        (r["tbl"], r["grp"]): r["n"]
        for r in queries()["sql_identifier_clause"](spark, SF0001).collect()
    }
    assert got == expected


def test_null_pattern_profile_matches_bruteforce(spark):
    (keys,) = parquet_cols("customer", ["c_custkey"])
    pattern = Counter(
        (k % 7 == 0, k % 7 == 0, k % 11 == 0, k % 13 == 0) for k in keys
    )
    got = {}
    for r in queries()["dq_null_pattern_profile"](spark, SF0001).collect():
        mask = (r["name_null"], r["seg_null"], r["bal_null"], r["nat_null"])
        assert r["n_present"] == 4 - sum(mask)
        got[mask] = r["n_rows"]
    assert got == dict(pattern)
