"""Input generation for the benchmark.

Two kinds of input:

- The catalog tables (``region`` .. ``embeddings``) in the layout
  ``catalog.TABLES`` reads: one parquet file per table, the same schemas
  and value domains as the repository's TPC-H-shaped test tiers.  They are
  drawn from a FIXED generator seed, so every run of a workload scans the
  same bytes.  ``scale`` follows the TPC-H scale factor (0.01 -> 60k
  lineitem rows).
- The ETL raw exports: MySQL-format CSV files (every field quoted, NULL as
  the ``"N`` sentinel, no header) of lineitem, orders, customer and part,
  plus a one-column table whose NULL lines are a lone ``"N``.  The run's
  ``--seed`` draws the NULL fraction of each column and the NULL cells,
  so the sentinel appears at the start, the middle and the end of lines
  and as a lone field.  ``write_etl_exports`` returns what a correct load
  of each file must produce: row count, per-column NULL counts, numeric
  sums and total string length.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
SENTINEL = '"N'
ETL_TABLES = ("lineitem", "orders", "customer", "part", "part_type")

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "large", "red", "blue", "old", "new", "hot", "cold"]
_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "rod"]
_PTYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["view", "click", "purchase", "signup", "error"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()


def _ts(rng, n, start, end):
    """``n`` uniform timestamps (microseconds) in [start, end)."""
    lo = np.datetime64(start, "us").astype(np.int64)
    hi = np.datetime64(end, "us").astype(np.int64)
    return rng.integers(lo, hi, n).astype("datetime64[us]")


def _days(rng, n, start, end):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return rng.integers(lo, hi, n).astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n, lo, hi):
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix, n):
    return [f"{prefix}#{i:09d}" for i in range(n)]


def catalog_tables(scale: float) -> dict[str, pa.Table]:
    """Every catalog table at ``scale``, from the fixed table seed."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust = max(int(150_000 * scale), 50)
    n_supp = max(int(10_000 * scale), 10)
    n_part = max(int(200_000 * scale), 50)
    n_ord = max(int(1_500_000 * scale), 200)
    n_line = 4 * n_ord
    n_ev = max(int(1_000_000 * scale), 1000)
    n_users = max(int(15_000 * scale), 20)
    n_docs = max(int(50_000 * scale), 100)
    n_vec = 500
    t = {}
    t["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    t["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [
                f"{a} {b}"
                for a, b in zip(rng.choice(_ADJ, n_part), rng.choice(_NOUN, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype(np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1),
        }
    )
    t["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000, 500_000),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", "2001-08-02"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line).astype(np.int64),
            "l_partkey": rng.integers(0, n_part, n_line).astype(np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, n_line).astype(np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900, 105_000),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["O", "F"], n_line),
            "l_shipdate": _days(rng, n_line, "1995-01-02", "2001-11-05"),
        }
    )
    t["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": np.sort(_ts(rng, n_ev, "2024-01-01", "2024-01-31")),
            "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    # documents: random word sequences over a 30-word vocabulary, 5% of
    # them near-duplicates of an earlier document with " dup" appended
    texts = [
        " ".join(rng.choice(_VOCAB, int(k)))
        for k in rng.integers(8, 100, n_docs)
    ]
    for i in rng.choice(np.arange(1, n_docs), n_docs // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, i))] + " dup"
    t["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(_LANGS, n_docs, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_docs)],
            "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
        }
    )
    vec = rng.normal(size=(n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype=np.int64),
            "embedding": pa.array(list(vec), pa.list_(pa.float32())),
            "label": rng.integers(0, 10, n_vec).astype(np.int32),
        }
    )
    return t


def write_catalog(out_dir: str, scale: float) -> dict[str, pa.Table]:
    os.makedirs(out_dir, exist_ok=True)
    tables = catalog_tables(scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return tables


# --- ETL raw exports ---------------------------------------------------------

_BQ_TYPE = {"i": "INTEGER", "f": "FLOAT", "M": "DATETIME", "O": "STRING"}


def _etl_source(tables: dict[str, pa.Table], name: str) -> pa.Table:
    if name == "part_type":
        return tables["part"].select(["p_type"])
    return tables[name]


def _format_column(values: np.ndarray) -> np.ndarray:
    kind = values.dtype.kind
    if kind == "M":
        return np.datetime_as_string(values.astype("datetime64[s]"), unit="s").astype(
            object
        )
    if kind == "f":
        return np.array([repr(float(v)) for v in values], dtype=object)
    if kind in "iu":
        return values.astype(str).astype(object)
    # MySQL encloses strings in double quotes, doubling embedded quotes
    return np.array(['"' + str(v).replace('"', '""') + '"' for v in values], dtype=object)


def write_etl_exports(
    tables: dict[str, pa.Table], out_dir: str, seed: int
) -> dict[str, dict]:
    """Write one raw MySQL-format CSV + BigQuery JSON schema per ETL table.

    Every column is nullable; its NULL fraction is drawn from ``seed`` in
    [2 %, 15 %].  Returns, per table, the file paths and the expected load
    result (see module docstring)."""
    rng = np.random.default_rng(seed)
    out = {}
    for name in ETL_TABLES:
        src = _etl_source(tables, name)
        n = src.num_rows
        cols, schema, expect_nulls, expect_sums, expect_len = [], [], {}, {}, {}
        for field in src.schema:
            arr = src.column(field.name).to_numpy()
            if arr.dtype.kind == "f" and arr.dtype.itemsize == 4:
                arr = arr.astype(np.float64)
            null = rng.random(n) < rng.uniform(0.02, 0.15)
            text = _format_column(arr)
            text[null] = SENTINEL
            cols.append(text)
            kind = arr.dtype.kind if arr.dtype.kind != "u" else "i"
            schema.append(
                {"name": field.name, "type": _BQ_TYPE[kind], "mode": "NULLABLE"}
            )
            expect_nulls[field.name] = int(null.sum())
            if kind in "if":
                expect_sums[field.name] = float(arr[~null].astype(np.float64).sum())
            elif kind == "O":
                expect_len[field.name] = int(sum(len(str(v)) for v in arr[~null]))
        lines = cols[0]
        for c in cols[1:]:
            lines = lines + "," + c
        data_dir = os.path.join(out_dir, name)
        os.makedirs(data_dir, exist_ok=True)
        data_path = os.path.join(data_dir, "part-00000.csv")
        with open(data_path, "w") as fh:
            fh.write("\n".join(lines))
            fh.write("\n")
        schema_path = os.path.join(out_dir, f"{name}.schema.json")
        with open(schema_path, "w") as fh:
            json.dump(schema, fh)
        out[name] = {
            "data_path": data_dir,
            "schema_path": schema_path,
            "rows": n,
            "nulls": expect_nulls,
            "sums": expect_sums,
            "str_len": expect_len,
            "sentinels": int(sum(expect_nulls.values())),
        }
    return out
