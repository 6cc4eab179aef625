"""Round-7 additions: secret resolution (§2A #27), TTL retention sweep
(§2A #26 enforcement half), and the BigQuery-connector option wiring."""

import datetime
import os

import pytest
from pyspark.sql import functions as F

from gcp_cloudsql_to_bigquery_spark.catalog import load
from tests.conftest import SF0001


# --- §2A #27: secret resolution -------------------------------------------


def test_secret_resolution_chain(spark, monkeypatch):
    """conf wins over env wins over default; missing -> loud SecretNotFound
    naming the whole chain (get_secret.py raises on a missing version too —
    never a silent empty credential)."""
    from gcp_cloudsql_to_bigquery_spark.sources.secrets import (
        SecretNotFound,
        resolve_secret,
    )

    monkeypatch.setenv("DB_PASSWORD", "from-env")
    # 1. conf beats env
    spark.conf.set("spark.secrets.db.password", "from-conf")
    try:
        assert resolve_secret(spark, "db.password") == "from-conf"
    finally:
        spark.conf.unset("spark.secrets.db.password")
    # 2. env when conf is absent (name mangling: db.password -> DB_PASSWORD)
    assert resolve_secret(spark, "db.password") == "from-env"
    # 3. default only when both are absent
    monkeypatch.delenv("DB_PASSWORD")
    assert resolve_secret(spark, "db.password", default="") == ""
    # 4. loud failure, chain in the message
    with pytest.raises(SecretNotFound, match="spark.secrets.db.password"):
        resolve_secret(spark, "db.password")


def test_jdbc_source_from_conf_reads_live_derby(spark, tmp_path):
    """The full §2A #27 wiring: credentials injected into spark.conf, a
    JdbcSource assembled purely from them, and a REAL scan through it
    (embedded Derby) returning the source-of-truth rows."""
    from gcp_cloudsql_to_bigquery_spark.sources.jdbc import (
        DERBY_DRIVER,
        derby_create_nation,
    )
    from gcp_cloudsql_to_bigquery_spark.sources.secrets import jdbc_source_from_conf

    dbdir = derby_create_nation(spark, SF0001)
    spark.conf.set("spark.secrets.db.url", f"jdbc:derby:{dbdir}")
    spark.conf.set("spark.secrets.db.user", "app")
    spark.conf.set("spark.secrets.db.password", "")
    try:
        src = jdbc_source_from_conf(spark, "db")
        src.extra["driver"] = DERBY_DRIVER
        got = src.read(spark, "nation").count()
    finally:
        for k in ("db.url", "db.user", "db.password"):
            spark.conf.unset("spark.secrets." + k)
    assert got == load(spark, SF0001, "nation").count() == 25


# --- §2A #26: retention-sweep enforcement ----------------------------------


@pytest.fixture()
def aged_layout(spark, tmp_path):
    """A date-partitioned events layout whose partition ages are KNOWN
    relative to a fixed as_of date (no wall clock anywhere)."""
    from gcp_cloudsql_to_bigquery_spark.sources.files import write_date_partitioned

    ev = load(spark, SF0001, "events").select("event_id", "user_id", "ts", "value")
    base = str(tmp_path / "aged")
    write_date_partitioned(ev, base, "ts", "day")
    days = sorted(
        d.split("=", 1)[1] for d in os.listdir(base) if d.startswith("export_date=")
    )
    assert len(days) >= 4, days
    return base, days


def test_retention_sweep_dry_run_deletes_nothing(spark, aged_layout):
    from gcp_cloudsql_to_bigquery_spark.sources.files import retention_sweep

    base, days = aged_layout
    as_of = datetime.date.fromisoformat(days[-1])
    max_age = (as_of - datetime.date.fromisoformat(days[2])).days
    before = spark.read.parquet(base).count()
    report = retention_sweep(spark, base, max_age, as_of, dry_run=True)
    # report marks exactly the partitions at least max_age old (GCS
    # lifecycle semantics: condition {age = N} fires at age >= N)
    would = {r["partition"] for r in report if r["action"] == "would_delete"}
    expect = {
        f"export_date={d}"
        for d in days
        if (as_of - datetime.date.fromisoformat(d)).days >= max_age
    }
    assert would == expect and expect
    assert all(r["action"] in ("would_delete", "kept") for r in report)
    # ... and nothing was touched
    assert spark.read.parquet(base).count() == before
    assert all(r["bytes"] > 0 for r in report)


def test_retention_sweep_enforces_and_preserves_rest(spark, aged_layout):
    from gcp_cloudsql_to_bigquery_spark.sources.files import retention_sweep

    base, days = aged_layout
    as_of = datetime.date.fromisoformat(days[-1])
    cutoff = datetime.date.fromisoformat(days[2])
    max_age = (as_of - cutoff).days
    keep_rows = (
        spark.read.parquet(base)
        .filter(F.col("export_date") > F.lit(cutoff.isoformat()))
        .count()
    )
    report = retention_sweep(spark, base, max_age, as_of, dry_run=False)
    deleted = {r["partition"] for r in report if r["action"] == "deleted"}
    assert deleted == {
        f"export_date={d}"
        for d in days
        if (as_of - datetime.date.fromisoformat(d)).days >= max_age
    }
    left = sorted(d for d in os.listdir(base) if d.startswith("export_date="))
    assert left == [
        f"export_date={d}"
        for d in days
        if (as_of - datetime.date.fromisoformat(d)).days < max_age
    ]
    # surviving data is byte-complete: same rows as the static filter
    assert spark.read.parquet(base).count() == keep_rows


def test_retention_sweep_never_deletes_unparseable(spark, aged_layout):
    """A malformed partition dir degrades to a report line, never a delete —
    the lifecycle-rule failure mode (silently matching the wrong objects)
    is structurally impossible."""
    from gcp_cloudsql_to_bigquery_spark.sources.files import retention_sweep

    base, days = aged_layout
    bad = os.path.join(base, "export_date=not-a-date")
    os.makedirs(bad)
    with open(os.path.join(bad, "orphan.parquet"), "w") as f:
        f.write("x")
    as_of = datetime.date.fromisoformat(days[-1])
    report = retention_sweep(spark, base, 0, as_of, dry_run=False)
    byp = {r["partition"]: r["action"] for r in report}
    assert byp["export_date=not-a-date"] == "skipped_unparseable"
    assert os.path.exists(bad)
    # every parseable partition (age >= 0, i.e. all of them) was still
    # enforced around the malformed one
    assert all(
        a == "deleted" for p, a in byp.items() if p != "export_date=not-a-date"
    )


# --- BigQuery connector wiring (VERDICT r6 item 7) -------------------------


def test_bigquery_write_options_reference_faithful():
    """The option dict mirrors bq-importer's load-job config: indirect mode
    stages via a GCS bucket (the reference's csv_exports_staging role) and
    WRITE_TRUNCATE is the overwrite SaveMode, not an option."""
    from gcp_cloudsql_to_bigquery_spark.sources.bigquery import (
        bigquery_write_options,
    )

    opts = bigquery_write_options(
        "proj.dataset.nation", temporary_gcs_bucket="staging"
    )
    assert opts == {
        "table": "proj.dataset.nation",
        "writeMethod": "indirect",
        "createDisposition": "CREATE_IF_NEEDED",
        "temporaryGcsBucket": "staging",
        "intermediateFormat": "parquet",
    }
    direct = bigquery_write_options("d.t", write_method="direct")
    assert "temporaryGcsBucket" not in direct and direct["writeMethod"] == "direct"
    # indirect without a bucket is a config error, caught at assembly
    with pytest.raises(ValueError, match="temporary_gcs_bucket"):
        bigquery_write_options("d.t")
    # extra may not silently override an explicitly-passed option
    with pytest.raises(ValueError, match="already set"):
        bigquery_write_options("d.t", write_method="direct",
                               extra={"table": "other.ds.t2"})
    # ... but documented options absent from the positional args pass through
    ranged = bigquery_write_options(
        "d.t", write_method="direct",
        extra={"partitionRangeStart": "0", "partitionRangeEnd": "1000",
               "partitionRangeInterval": "10", "credentials": "base64..."},
    )
    assert ranged["partitionRangeInterval"] == "10"
    # unknown options fail fast instead of reaching the API as typos
    with pytest.raises(ValueError, match="unknown"):
        bigquery_write_options("d.t", write_method="direct",
                               extra={"tempraryGcsBucket": "oops"})


def test_bigquery_writer_configured_and_reaches_loader(spark):
    """bigquery_writer returns a configured, unexecuted writer; driving it
    with .save() must reach Spark's datasource resolution and fail on the
    absent jar BY NAME — real wiring, no pretended execution."""
    from gcp_cloudsql_to_bigquery_spark.sources.bigquery import bigquery_writer

    n = load(spark, SF0001, "nation")
    w = bigquery_writer(n, "proj.dataset.nation", write_method="direct",
                        extra={"clusteredFields": "n_regionkey"})
    with pytest.raises(Exception, match="(?i)bigquery"):
        w.save()


def test_retention_sweep_driven_by_tiering_plan(spark, aged_layout):
    """The two halves of §2A #26 compose: elt_storage_tiering_plan is the
    DECISION (cold = older than 21 days vs the newest partition) and
    retention_sweep is the ENFORCEMENT — sweeping with the plan's own
    cutoff deletes exactly the partition count the plan classified cold.
    The plan's cold tier is age > 21; the sweep deletes age >= N (GCS
    lifecycle semantics), so the matching sweep argument is 22."""
    from gcp_cloudsql_to_bigquery_spark.ingest.queries import elt_storage_tiering_plan
    from gcp_cloudsql_to_bigquery_spark.sources.files import retention_sweep

    base, days = aged_layout
    plan = {r["tier"]: r for r in elt_storage_tiering_plan(spark, SF0001).collect()}
    as_of = max(datetime.date.fromisoformat(d) for d in days)
    assert plan["hot"]["newest_day"].isoformat() == as_of.isoformat()
    report = retention_sweep(spark, base, 22, as_of, dry_run=True)
    would = [r for r in report if r["action"] == "would_delete"]
    if "cold" in plan:
        assert len(would) == plan["cold"]["n_partitions"]
        assert max(r["partition"].split("=")[1] for r in would) == (
            plan["cold"]["newest_day"].isoformat()
        )
    else:
        assert not would


# --- FP-robust prefix ceil (ADVICE r6 #1) ----------------------------------


def test_prefix_ceil_fp_robust_grid():
    """ceil(round(t*n, 9)) == exact-rational ceil for every common
    threshold x n <= 2000 — the raw double ceil is WRONG in 54 of these
    cells (first: t=0.55, n=100 -> 56 instead of 55), each one silently
    shortening the prefix and dropping borderline true pairs."""
    import math
    from fractions import Fraction

    hazards = 0
    for num, den in [(13, 20), (4, 5), (7, 10), (3, 5), (9, 10), (17, 20),
                     (1, 2), (3, 4), (19, 20), (11, 20)]:
        t = num / den
        for n in range(1, 2001):
            exact = math.ceil(Fraction(num, den) * n)
            if math.ceil(t * n) != exact:
                hazards += 1
            assert math.ceil(round(t * n, 9)) == exact, (num, den, n)
    assert hazards == 54  # the bug class is real, not hypothetical


def test_prefix_filter_survives_fp_hazard_threshold(spark):
    """End-to-end witness at the t=0.55, |A|=100 hazard point: doc A has
    45 unique + 55 shared tokens, doc B exactly the 55 shared, so
    J(A,B) = 55/100 = 0.55 and the pair's ONLY prefix collision is A's
    46th prefix slot.  The raw-double ceil yields prefix length 45 and
    silently drops the pair; the FP-robust ceil keeps it."""
    import math

    from gcp_cloudsql_to_bigquery_spark.operators.dedup import (
        prefix_filtered_candidates,
    )

    # the hazard is live in IEEE doubles (same arithmetic the JVM runs)
    assert math.ceil(0.55 * 100) == 56  # wrong (exact value is 55)

    uniq = [1000 + i for i in range(45)]
    shared = [2000 + i for i in range(55)]
    sh = spark.createDataFrame(
        [(1, uniq + shared), (2, shared)], "doc_id long, hsh array<long>"
    )
    got = {
        (r.doc_a, r.doc_b)
        for r in prefix_filtered_candidates(sh, 0.55).collect()
    }
    assert (1, 2) in got


def test_positional_filter_lossless_property():
    """PPJoin positional filter (r7, Xiao et al. WWW'08): a collision row
    witnesses a pair only if 1 + min(na-ra, nb-rb) >= alpha with alpha =
    ceil(t/(1+t)*(na+nb)).  A qualifying pair's FIRST common token always
    passes (no common token precedes it), so the per-row filter is
    lossless.  Randomized check across thresholds and universes, with the
    same rounded-ground-truth the oracles use."""
    import itertools
    import math
    import random
    from collections import Counter

    rng = random.Random(42)

    def ceil9(x):
        return math.ceil(round(x, 9))

    for trial in range(800):
        t = rng.choice([0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85])
        n_docs = rng.randint(2, 10)
        universe = list(range(rng.randint(3, 14)))
        docs = [
            set(rng.sample(universe, rng.randint(1, len(universe))))
            for _ in range(n_docs)
        ]
        df = Counter(g for d in docs for g in d)
        pos = {g: i for i, g in enumerate(sorted(universe, key=lambda g: (df[g], g)))}
        ranks = [
            {g: i + 1 for i, g in enumerate(sorted(d, key=lambda g: pos[g]))}
            for d in docs
        ]
        cands = set()
        for i, j in itertools.combinations(range(n_docs), 2):
            na, nb = len(docs[i]), len(docs[j])
            if na < ceil9(t * nb) or nb < ceil9(t * na):
                continue
            pla = na - ceil9(t * na) + 1
            plb = nb - ceil9(t * nb) + 1
            alpha = ceil9(t / (1 + t) * (na + nb))
            if any(
                ranks[i][g] <= pla and ranks[j][g] <= plb
                and 1 + min(na - ranks[i][g], nb - ranks[j][g]) >= alpha
                for g in docs[i] & docs[j]
            ):
                cands.add((i, j))
        for i, j in itertools.combinations(range(n_docs), 2):
            inter = len(docs[i] & docs[j])
            union = len(docs[i] | docs[j])
            if union and round(inter / union, 6) >= t:
                assert (i, j) in cands, (
                    trial, t, sorted(docs[i]), sorted(docs[j]), inter / union
                )
