import hashlib
import math
import os
import shutil
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

# the checkout these tests live in, not whichever copy is installed elsewhere;
# scripts/ too, so tests import selfcheck and the data generators as modules
_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, _ROOT)
sys.path.insert(0, os.path.join(_ROOT, "scripts"))

import make_hostile_sf  # noqa: E402
import make_skewed_sf  # noqa: E402
from selfcheck import diff, duck_on  # noqa: E402

from gcp_cloudsql_to_bigquery_spark.catalog import TABLES  # noqa: E402
from gcp_cloudsql_to_bigquery_spark.session import get_spark  # noqa: E402

SF0001 = "/root/testdata/sf0.001"
SF001 = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF0001


# ---------------------------------------------------------------------------
# Data geometries.  Each fixture builds its tier the first time a selected
# test asks for it, so a ``-k`` run pays only for the tiers it uses.
# ---------------------------------------------------------------------------


@pytest.fixture(scope="session")
def hostile_sf(tmp_path_factory):
    """Degenerate non-null values (scripts/make_hostile_sf.py)."""
    return make_hostile_sf.main(str(tmp_path_factory.mktemp("hostile_sf")))


@pytest.fixture(scope="session")
def hostile_nulls_sf(tmp_path_factory):
    """NULLs in value columns."""
    out = tmp_path_factory.mktemp("hostile_nulls_sf")
    return make_hostile_sf.main(str(out), tier="nulls")


@pytest.fixture(scope="session")
def hostile_empty_sf(tmp_path_factory):
    """Zero-row documents, embeddings and events."""
    out = tmp_path_factory.mktemp("hostile_empty_sf")
    return make_hostile_sf.main(str(out), tier="empty")


@pytest.fixture(scope="session")
def hostile_nullkeys_sf(tmp_path_factory):
    """NULLs in join, group, sort and id key columns."""
    out = tmp_path_factory.mktemp("hostile_nullkeys_sf")
    return make_hostile_sf.main(str(out), tier="nullkeys")


@pytest.fixture(scope="session")
def skewed_sf(tmp_path_factory):
    """sf0.1 row counts with hot keys, dense duplicates and heavy tails
    (scripts/make_skewed_sf.py)."""
    return make_skewed_sf.main(str(tmp_path_factory.mktemp("skewed_sf")))


def _planted(tmp_path_factory, name, table, mutate):
    """A copy of sf0.001 whose ``table`` is replaced by ``mutate(table)``."""
    out = tmp_path_factory.mktemp(name)
    for t in TABLES:
        shutil.copy(f"{SF0001}/{t}.parquet", out / f"{t}.parquet")
    pq.write_table(mutate(pq.read_table(out / f"{table}.parquet")), out / f"{table}.parquet")
    return str(out)


def _set(t, col, values):
    return t.set_column(t.schema.get_field_index(col), col, values)


def _every_fourth_event(t):
    return pc.equal(pc.bit_wise_and(t["event_id"], 3), 0)


@pytest.fixture(scope="session")
def allnull_price_sf(tmp_path_factory):
    """Every 1-URGENT order's o_totalprice NULL: one whole priority group
    aggregates over NULLs only."""

    def mutate(t):
        mask = pc.equal(t["o_orderpriority"], "1-URGENT")
        return _set(t, "o_totalprice", pc.if_else(mask, None, t["o_totalprice"]))

    return _planted(tmp_path_factory, "allnull_price_sf", "orders", mutate)


@pytest.fixture(scope="session")
def nulltype_events_sf(tmp_path_factory):
    """Every fourth event's event_type NULL: NULL-start trigrams are frequent
    enough that a NULL path reaches analytics_top_paths' top 20."""

    def mutate(t):
        return _set(t, "event_type", pc.if_else(_every_fourth_event(t), None, t["event_type"]))

    return _planted(tmp_path_factory, "nulltype_events_sf", "events", mutate)


@pytest.fixture(scope="session")
def nullts_events_sf(tmp_path_factory):
    """Every fourth event's ts NULL (purchases included): dense enough that
    NULL-ts rows sit next to real rows in most user timelines, so an
    unpinned ORDER BY ts diverges between engines in the lead()/lag()
    neighbourhoods that reach the final output."""

    def mutate(t):
        return _set(t, "ts", pc.if_else(_every_fourth_event(t), None, t["ts"]))

    return _planted(tmp_path_factory, "nullts_events_sf", "events", mutate)


@pytest.fixture(scope="session")
def bothnull_customer_sf(tmp_path_factory):
    """One customer row with BOTH c_custkey and c_acctbal NULL, the
    combination no hostile tier plants (nullkeys nulls keys and values on
    different rows)."""

    def mutate(t):
        first = pc.equal(t["c_custkey"], t["c_custkey"][0])
        t = _set(t, "c_acctbal", pc.if_else(first, pa.scalar(None, pa.float64()), t["c_acctbal"]))
        return _set(t, "c_custkey", pc.if_else(first, pa.scalar(None, pa.int64()), t["c_custkey"]))

    return _planted(tmp_path_factory, "bothnull_customer_sf", "customer", mutate)


@pytest.fixture(scope="session")
def nullvec_embeddings_sf(tmp_path_factory):
    """Every 8th embedding outside the PQ codebook/query head (vec_id >= 16)
    NULL: those rows take the PQ kernel's scalar path, must still encode
    (all-NULL q -> lowest codeword on both engines) and surface as
    neighbours with a real ADC distance."""

    def mutate(t):
        mask = pc.and_(pc.equal(pc.bit_wise_and(t["vec_id"], 7), 0), pc.greater(t["vec_id"], 15))
        emb = pc.if_else(mask, pa.scalar(None, t["embedding"].type), t["embedding"])
        return _set(t, "embedding", emb)

    return _planted(tmp_path_factory, "nullvec_embeddings_sf", "embeddings", mutate)


@pytest.fixture(scope="session")
def nullelem_embeddings_sf(tmp_path_factory):
    """Element-level degeneracy in embeddings, which no hostile tier plants:
    mid NULL, trailing NULL, all-NULL, empty list, short vector, NULL first
    element, and one row-NULL (vec_ids 100-106).  The cosine-ranking
    kernels have no oracle here (DuckDB's list_cosine_similarity and
    list_inner_product error on NULL elements); the element-validity
    kernels do."""
    mut = {
        100: lambda v: v[:5] + [None] + v[6:],  # mid NULL element
        101: lambda v: v[:-1] + [None],  # trailing NULL element
        102: lambda v: [None] * len(v),  # all-NULL elements
        103: lambda v: [],  # empty list
        104: lambda v: v[:32],  # short vector
        105: lambda v: [None] + v[1:],  # NULL first element
        106: lambda v: None,  # row NULL
    }

    def mutate(t):
        vecs = t.column("embedding").to_pylist()
        pos = {v: i for i, v in enumerate(t.column("vec_id").to_pylist()) if v is not None}
        applied = 0
        for vid, fn in mut.items():
            if vid in pos and vecs[pos[vid]] is not None:
                vecs[pos[vid]] = fn(vecs[pos[vid]])
                applied += 1
        assert applied == len(mut), "fixture ids missing from sf0.001 embeddings"
        elem_t = t.schema.field("embedding").type.value_type
        return _set(t, "embedding", pa.array(vecs, type=pa.list_(elem_t)))

    return _planted(tmp_path_factory, "nullelem_embeddings_sf", "embeddings", mutate)


def assert_matches_oracle(spark, sf, name):
    """Hold registry query ``name`` on data directory ``sf`` to its DuckDB
    oracle through scripts/selfcheck.py's one compare: columns, row count,
    result kinds and canonical values."""
    import __spark_entry__ as entry

    assert name in entry.oracle_sql(), f"{name} has no oracle to hold it to"
    with duck_on(sf) as con:
        assert diff(spark, con, name, sf) == []


# ---------------------------------------------------------------------------
# Small helpers the brute-force witnesses of several families share.
# ---------------------------------------------------------------------------

M12 = 16**12


def md5_hex(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def h12(s: str) -> int:
    """The first 12 hex digits of md5(s) as an integer in [0, M12)."""
    return int(md5_hex(s)[:12], 16)


def to_cents(v):
    return math.floor(v * 100 + 0.5)


def td_us(td):
    return td.days * 86_400_000_000 + td.seconds * 1_000_000 + td.microseconds


def parquet_col(path, table, name):
    return pq.read_table(f"{path}/{table}.parquet", columns=[name]).column(0).to_pylist()


def parquet_cols(table, names):
    t = pq.read_table(f"{SF0001}/{table}.parquet", columns=list(names))
    return [t.column(n).to_pylist() for n in names]


def events_rows(spark):
    from gcp_cloudsql_to_bigquery_spark.catalog import load

    return load(spark, SF0001, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    ).collect()


def events_pdf(sf):
    return pq.read_table(f"{sf}/events.parquet").to_pandas()


def ceil9(x: float) -> int:
    """ceil after rounding to 9 places: the dedup kernels' fp-robust ceil."""
    return math.ceil(round(x, 9))


# Fixed-width feed records built by hand from the format spec (D = 1+9 key
# +18 name+1 sign+11 cents+10 segment; T = 1+9 count+1 sign+15 total): an
# independent witness of the parser's offsets.


def fw_detail_rec(key, name, cents, seg):
    sign = "-" if cents < 0 else "+"
    return f"D{key:09d}{name:<18.18}{sign}{abs(cents):011d}{seg:<10.10}"


def fw_trailer_rec(count, total):
    sign = "-" if total < 0 else "+"
    return f"T{count:09d}{sign}{abs(total):015d}"
