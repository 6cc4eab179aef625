"""The shared Spark-vs-DuckDB compare can fail.

``scripts/selfcheck.py``'s ``diff`` is the one compare behind the
registry sweep and conftest's ``assert_matches_oracle``, which every
geometry differential of the suite calls.  These tests feed it two known
divergences and check that it reports each one.
"""

import __spark_entry__ as entry
from selfcheck import diff, duck_on
from tests.conftest import SF0001


def test_diff_reports_a_value_divergence(spark, allnull_price_sf):
    """Spark reads the planted copy while the oracle's views read the
    pristine data: the all-NULL 1-URGENT group differs."""
    with duck_on(SF0001) as con:
        problems = diff(spark, con, "fn_pandas_udaf_geomean", allnull_price_sf)
    assert len(problems) == 1 and problems[0].startswith("values differ"), problems


def test_diff_reports_a_result_kind_divergence(spark, monkeypatch):
    """An oracle that returns DECIMAL where Spark returns bigint fetches
    equal values, so only the type check can see it."""
    oracles = entry.oracle_sql()
    widened = oracles["q1_pricing_summary"]
    widened = f"SELECT * REPLACE (CAST(count_order AS DECIMAL(18, 0)) AS count_order) FROM ({widened})"
    monkeypatch.setattr(entry, "oracle_sql", lambda: {**oracles, "q1_pricing_summary": widened})
    with duck_on(SF0001) as con:
        problems = diff(spark, con, "q1_pricing_summary", SF0001)
    assert problems == ["TYPE count_order: duckdb DECIMAL(18,0) vs spark bigint"], problems
