"""Property-based tests (hypothesis) for the pure-Python ELT core —
the sqllogictest-style depth the reference never had (SURVEY.md §5.2)."""

from hypothesis import given, settings
from hypothesis import strategies as st

from gcp_cloudsql_to_bigquery_spark.ingest.nulls import clean_line_compat_str
from gcp_cloudsql_to_bigquery_spark.ingest.sanitize import sanitize_column
from gcp_cloudsql_to_bigquery_spark.ingest.schema_io import (
    bq_schema_to_struct,
    struct_to_bq_schema,
)
from gcp_cloudsql_to_bigquery_spark.ingest.types import BQ_TO_SPARK, datatype_to_bq


@given(st.text(max_size=50))
def test_sanitize_idempotent(name):
    once = sanitize_column(name)
    assert sanitize_column(once) == once


@given(st.text(max_size=50))
def test_sanitize_output_clean(name):
    out = sanitize_column(name)
    assert " " not in out and "/" not in out and '"' not in out


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=30))
def test_type_mapper_total_and_closed(t):
    bq = datatype_to_bq(t)
    assert bq in BQ_TO_SPARK  # five-type system is closed
    assert datatype_to_bq(t.upper()) == bq == datatype_to_bq(t.lower())


@given(st.text(alphabet=st.characters(min_codepoint=32, max_codepoint=126), max_size=30))
def test_strict_mapper_subset(t):
    assert datatype_to_bq(t, strict=True) in {
        "DATETIME", "DATE", "INTEGER", "FLOAT", "DECIMAL", "STRING",
    }


@given(
    st.lists(
        st.tuples(
            st.text(alphabet="abcdefghij_ ", min_size=1, max_size=12),
            st.sampled_from(["bigint", "datetime", "date", "double", "varchar", "text"]),
        ),
        min_size=1,
        max_size=8,
    )
)
def test_schema_roundtrip_stable(cols):
    from gcp_cloudsql_to_bigquery_spark.ingest.schema_io import schema_csv_to_bq_json

    bq = schema_csv_to_bq_json(cols)
    st1 = bq_schema_to_struct(bq)
    # second trip is a fixed point
    assert bq_schema_to_struct(struct_to_bq_schema(st1)) == st1


@settings(max_examples=200)
@given(st.text(alphabet='abc,"N\n', max_size=40))
def test_line_compat_never_grows(line):
    # the reference transform only deletes/replaces — output never longer
    assert len(clean_line_compat_str(line)) <= len(line)


@given(st.text(alphabet="abc123", max_size=20))
def test_line_compat_noop_without_sentinel(line):
    assert clean_line_compat_str(line) == line


# lines over the characters '"', 'N', ',', 'a', '\r', with '"N' as one more
# token so that most examples hold a sentinel at each position
_SENTINEL_LINES = st.lists(
    st.lists(st.sampled_from(['"N', '"', "N", ",", "a", "\r"]), max_size=10).map("".join),
    min_size=20,
    max_size=60,
)


@settings(max_examples=25, deadline=None)
@given(_SENTINEL_LINES)
def test_sentinel_capture_form_matches_lookbehind_form(spark, lines):
    """The cleaner's ``(^|,)"N(?=,|$)`` -> ``$1`` rewrites exactly the
    fields the lookbehind form ``(?:(?<=^)|(?<=,))"N(?=,|$)`` -> ``""``
    does, carriage returns included, both as Spark's own regexp_replace."""
    from pyspark.sql import functions as F

    from gcp_cloudsql_to_bigquery_spark.ingest.nulls import clean_sentinel_fields

    df = spark.createDataFrame([(line,) for line in lines], "value string")
    new = [r.value for r in clean_sentinel_fields(df).collect()]
    old = df.select(F.regexp_replace("value", r'(?:(?<=^)|(?<=,))"N(?=,|$)', "").alias("value"))
    assert new == [r.value for r in old.collect()]


# --- round-5 kernels: decode round-trips and sizing laws -------------------


@given(
    st.integers(min_value=0, max_value=10**9),
    st.integers(min_value=0, max_value=10**9),
)
@settings(max_examples=50, deadline=None)
def test_ppm_synth_decode_roundtrip(doc_id, n_chars):
    """decode_ppm must invert synthesize_ppm for ANY ids: the
    closed forms the oracle states (dims, byte size, channel means) hold
    over the whole input domain, not just fixture values."""
    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import (
        decode_ppm,
        run_steps,
        synthesize_ppm,
    )

    ((_, width, height, _n, mean_r, mean_g, mean_b),) = run_steps(
        [(doc_id, n_chars)], synthesize_ppm, decode_ppm
    )
    w, h = n_chars % 64 + 8, doc_id % 48 + 8
    assert width == w and height == h
    assert mean_r == doc_id % 256
    assert mean_g == (h - 1) / 2.0
    assert mean_b == (doc_id * 31) % 256


@given(
    st.integers(min_value=0, max_value=10**9),
    st.integers(min_value=0, max_value=10**9),
)
@settings(max_examples=50, deadline=None)
def test_wav_synth_decode_roundtrip(doc_id, n_chars):
    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import (
        decode_wav,
        run_steps,
        synthesize_wav,
    )

    ((_, sample_rate, n_channels, n_samples, _dur, rms),) = run_steps(
        [(doc_id, n_chars)], synthesize_wav, decode_wav
    )
    n = n_chars % 2000 + 100
    assert n_samples == n
    assert sample_rate == 8000 and n_channels == 1
    # Nyquist square wave of amplitude A has RMS exactly A
    assert rms == float(doc_id % 1000)


@given(
    st.integers(min_value=1, max_value=10**9),  # total bytes
    st.integers(min_value=1, max_value=10**8),  # target size
)
@settings(max_examples=200, deadline=None)
def test_compaction_file_count_law(total, target):
    """ceil-division law the compactor uses: n is the unique integer with
    (n-1)*target < total <= n*target."""
    n = max(1, -(-total // target))
    assert n * target >= total
    assert (n - 1) * target < total or n == 1
