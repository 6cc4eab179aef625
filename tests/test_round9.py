"""Round-9 additions.

1. Fixed-width feed: a shard truncated BEFORE its T trailer must flag its
   rows (count_ok/checksum_ok = false), not silently drop them (ADVICE r8
   — the r8 inner joins discarded exactly the shards most in need of the
   audit).
2. Alias hygiene pinned in CI: the self-join families that once emitted
   Spark's "trivially true equals predicate" analyzer warning (fixed in r8
   by explicit ``.alias()`` plan aliases) are rebuilt with the JVM log
   captured and the absence of the warning is asserted, so a refactor
   can't silently regress the fix (VERDICT r8 item 4).
"""

import pytest

from tests.conftest import SF0001, fw_detail_rec, fw_trailer_rec


def test_fixed_width_missing_trailer_flags_rows_not_drops(spark):
    from gcp_cloudsql_to_bigquery_spark.sources.files import parse_fixed_width_feed

    good = "\n".join(
        ["H000000000", fw_detail_rec(8, "ALICE", 12345, "AUTO"), fw_trailer_rec(1, 12345)]
    )
    # truncated mid-feed: header + body records, no T trailer at all
    truncated = "\n".join(
        ["H000000001", fw_detail_rec(16, "BOB", -678, "MACHINERY"),
         fw_detail_rec(24, "CAROL", 500, "HOUSEHOLD")]
    )
    feeds = spark.createDataFrame(
        [(0, good), (1, truncated)], "shard int, content string"
    )
    rows = {r["custkey"]: r for r in parse_fixed_width_feed(feeds).collect()}

    # the truncated shard's rows SURVIVE, correctly parsed, with both
    # verdicts false — the r8 inner join dropped them entirely
    assert set(rows) == {8, 16, 24}
    assert rows[8]["count_ok"] and rows[8]["checksum_ok"]
    for key in (16, 24):
        assert not rows[key]["count_ok"], rows[key]
        assert not rows[key]["checksum_ok"], rows[key]
    assert rows[16]["bal_cents"] == -678 and rows[24]["segment"] == "HOUSEHOLD"


def test_fixed_width_duplicate_trailer_flags_without_fanout(spark):
    """A shard carrying TWO trailer lines must not fan the audit join out
    into duplicate body rows (load poisoning the verdicts can't signal);
    it yields each body row exactly once with both verdicts false."""
    from gcp_cloudsql_to_bigquery_spark.sources.files import parse_fixed_width_feed

    dup_trailer = "\n".join(
        ["H000000000", fw_detail_rec(8, "ALICE", 12345, "AUTO"),
         fw_trailer_rec(1, 12345), fw_trailer_rec(1, 12345)]
    )
    feeds = spark.createDataFrame([(0, dup_trailer)], "shard int, content string")
    rows = parse_fixed_width_feed(feeds).collect()
    assert len(rows) == 1  # exactly once, no join fan-out
    assert rows[0]["custkey"] == 8 and rows[0]["bal_cents"] == 12345
    assert not rows[0]["count_ok"] and not rows[0]["checksum_ok"]


def test_fixed_width_tamper_matrix_seeded_fuzz(spark):
    """Seeded fuzz over the full tamper matrix: each shard independently
    draws a mode from {consistent, count-tampered, checksum-tampered,
    trailer-missing, duplicate-trailer}; expected per-row verdicts are
    computed pure-Python from the mode, so the audit's truth table
    (including the r9 missing-trailer and duplicate-trailer branches) is
    witnessed on feeds the consistent producer can never emit."""
    import random

    from gcp_cloudsql_to_bigquery_spark.sources.files import parse_fixed_width_feed

    rng = random.Random(0x9A0D)
    modes_drawn = set()
    shards, expect = [], {}
    key = 1
    for shard in range(15):
        mode = rng.choice(["ok", "count", "sum", "no_trailer", "dup_trailer"])
        modes_drawn.add(mode)
        n_recs = rng.randint(1, 20)
        lines = [f"H{shard:09d}"]
        total = 0
        keys = []
        for _ in range(n_recs):
            cents = rng.randint(-10**10, 10**10)
            lines.append(fw_detail_rec(key, "N%d" % key, cents, "SEG"))
            total += cents
            keys.append(key)
            key += 1
        n_decl, sum_decl = n_recs, total
        if mode == "count":
            n_decl += rng.choice([-1, 1, 7])
        elif mode == "sum":
            sum_decl += rng.choice([-1, 1, 1000])
        if mode != "no_trailer":
            lines.append(fw_trailer_rec(n_decl, sum_decl))
            if mode == "dup_trailer":  # second, self-consistent trailer —
                lines.append(fw_trailer_rec(n_decl, sum_decl))  # the COUNT is the tamper
        shards.append((shard, "\n".join(lines)))
        count_ok = mode in ("ok", "sum")
        checksum_ok = mode in ("ok", "count")
        for k in keys:
            expect[k] = (count_ok, checksum_ok)
    # seed-fragility guard: the truth table is only witnessed if every
    # branch was actually drawn — a future edit shifting RNG consumption
    # must re-pick the seed, not silently drop a branch
    assert modes_drawn == {"ok", "count", "sum", "no_trailer", "dup_trailer"}

    feeds = spark.createDataFrame(shards, "shard int, content string")
    rows = parse_fixed_width_feed(feeds).collect()
    assert len(rows) == len(expect)  # no mode drops rows
    for r in rows:
        assert (r["count_ok"], r["checksum_ok"]) == expect[r["custkey"]], (
            r["custkey"], r["shard"],
        )


def test_sniffer_trailing_newline_emits_no_junk_row(spark):
    """A feed delivered with a trailing newline (the common real-world
    variant the fixture producer never emits) must not parse the final
    empty line into an all-null row."""
    from gcp_cloudsql_to_bigquery_spark.sources.files import sniff_and_parse_feed

    content = "custkey,name,segment\n1,ALICE,AUTO\n2,BOB,MACHINERY\n"
    feeds = spark.createDataFrame([(0, content)], "shard int, content string")
    rows = sorted(sniff_and_parse_feed(feeds).collect(), key=lambda r: r["custkey"])
    assert len(rows) == 2, rows  # trailing empty line dropped, not a null row
    assert [r["custkey"] for r in rows] == [1, 2]
    assert rows[0]["name"] == "ALICE" and rows[1]["segment"] == "MACHINERY"
    assert all(r["detected"] == "comma" for r in rows)


# --- alias hygiene: zero trivially-true-equals warnings in CI ------------
#
# Spark's analyzer logs "Join condition is missing or trivially true" /
# "trivially true" style warnings through log4j when a self-join condition
# degenerates to `col = col` on the SAME attribute id — the bug class the
# r8 explicit-alias sweep fixed in the PQ family, the gapfill spine joins,
# the merge upsert, and linear attribution.  The r8 acceptance was an
# artifact convention (zero hits in plan_audit_warn.log); this pins it as a
# test: rebuild each once-offending plan with the JVM's root-logger output
# captured and assert the warning never fires.


_ONCE_OFFENDING = (
    "ann_pq_topk",
    "ann_ivfpq_topk",
    "ann_pq_rerank",
    "ts_gapfill_locf",
    "ts_gapfill_interpolate",
    "elt_merge_upsert",
    "analytics_attribution_linear",
)


@pytest.fixture(scope="module")
def _jvm_log_capture(spark):
    """Attach a log4j2 StringWriter appender to the JVM root logger for the
    duration of the module; yields a callable draining captured text."""
    jvm = spark._sc._jvm
    sw = jvm.java.io.StringWriter()
    ctx = jvm.org.apache.logging.log4j.core.LoggerContext.getContext(False)
    cfg = ctx.getConfiguration()
    layout = jvm.org.apache.logging.log4j.core.layout.PatternLayout.newBuilder()\
        .withPattern("%p %c: %m%n").withConfiguration(cfg).build()
    app = jvm.org.apache.logging.log4j.core.appender.WriterAppender.createAppender(
        layout, None, sw, "pytest_r9_capture", False, True
    )
    app.start()
    root = cfg.getRootLogger()
    root.addAppender(app, jvm.org.apache.logging.log4j.Level.WARN, None)
    ctx.updateLoggers()

    def drain() -> str:
        buf = sw.getBuffer()
        out = buf.toString()
        buf.setLength(0)
        return out

    yield drain
    root.removeAppender("pytest_r9_capture")
    app.stop()
    ctx.updateLoggers()


def test_capture_detects_deliberate_offender(spark, _jvm_log_capture):
    """Positive control: the appender really sees the Column warning — so
    the clean assertions below cannot pass vacuously if the capture or the
    warning text ever changes."""
    from gcp_cloudsql_to_bigquery_spark.catalog import load

    _jvm_log_capture()
    n = load(spark, SF0001, "nation")
    n.join(n, n.n_nationkey == n.n_nationkey)  # deliberate offender
    assert "trivially true" in _jvm_log_capture()


@pytest.mark.parametrize("name", _ONCE_OFFENDING)
def test_alias_hygiene_no_trivially_true_join_warnings(spark, _jvm_log_capture, name):
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    _jvm_log_capture()  # drain anything earlier tests logged
    df = queries()[name](spark, SF0001)
    df._jdf.queryExecution().executedPlan()  # force full analysis/planning
    captured = _jvm_log_capture()
    assert "trivially true" not in captured, (name, captured[-2000:])


# --- partition invariance pinned in CI (sampled) -------------------------
#
# The per-round full-registry sweep at the hostile local[3]/shuffle=7
# config is the repo's strongest transfers-to-a-real-cluster evidence, but
# it runs once per round; this pins the property per-commit for a sample of
# the most accumulation/order-sensitive shapes (rank ties, double sums,
# running windows, weighted order statistics).  newSession() shares the
# SparkContext but scopes spark.sql.shuffle.partitions per session, so the
# re-plan is real and cheap.


def _canon_rows(df):
    cols = sorted(df.columns)
    out = []
    for row in df.collect():
        vals = []
        for c in cols:
            v = row[c]
            if isinstance(v, float):
                v = round(v, 9)
            vals.append(v)
        out.append(tuple(vals))
    return sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t))


@pytest.mark.parametrize(
    "name",
    [
        "topk_per_group",          # rank ties
        "agg_rollup",              # double sums across partial aggs
        "window_running_sum",      # running frame over shuffled input
        "agg_weighted_median",     # order statistic
        "ts_moving_median",        # sliding order statistic
        "analytics_rfm_segmentation",  # quantile-bucketed segmentation
    ],
)
def test_partition_invariance_ci_sample(spark, name):
    from gcp_cloudsql_to_bigquery_spark.workload import queries

    q = queries()[name]
    base = _canon_rows(q(spark, SF0001))
    # drop shared cache entries so the alternate session genuinely
    # re-executes under its own partitioning (the CacheManager is
    # SparkContext-scoped and substitutes by plan equality)
    spark.catalog.clearCache()
    alt = spark.newSession()
    alt.conf.set("spark.sql.shuffle.partitions", "5")
    assert _canon_rows(q(alt, SF0001)) == base, name


# --- bench contract ------------------------------------------------------
#
# perfbench checks every query result against its oracle_sql() digest and
# scripts/dump_plans.py reads the same query lists — pin the wiring so a
# rename or registry change can't silently break either.


def test_bench_query_sets_are_registered_and_oracle_backed():
    from gcp_cloudsql_to_bigquery_spark.workload import oracle_sql, queries
    from perfbench.workloads import ETL_STREAMS, PY_KERNELS, SQL_BATCH

    qs, sqls = queries(), oracle_sql()
    names = SQL_BATCH + PY_KERNELS + ETL_STREAMS
    assert len(set(names)) == len(names)
    for name in names:
        assert name in qs, f"bench names unregistered query {name}"
        assert name in sqls, f"bench query {name} lacks an oracle"


# --- PNG integrity kernel: seeded structural fuzz ------------------------
#
# The round-8 tests pin each rejection branch individually; this fuzzes the
# WHOLE decode tuple against an independent model over random dimensions,
# random (non-gradient) pixel data, ancillary tEXt chunks the fixture
# encoder never emits, and random corruption targets (IDAT body byte or any
# chunk's CRC field) — all pure Python, no Spark session needed.


def test_png_integrity_seeded_structural_fuzz():
    import random
    import struct
    import zlib

    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import (
        _png_chunk,
        decode_png,
    )

    rng = random.Random(0x916)
    for case in range(40):
        w, h = rng.randint(1, 32), rng.randint(1, 24)
        pixels = [[rng.randrange(256) for _ in range(w)] for _ in range(h)]
        raw = b"".join(b"\x00" + bytes(row) for row in pixels)
        n_text = rng.randint(0, 2)
        chunks = [_png_chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0))]
        for t in range(n_text):
            chunks.append(_png_chunk(b"tEXt", b"k%d\x00v%d" % (t, case)))
        chunks.append(_png_chunk(b"IDAT", zlib.compress(raw, rng.randint(0, 9))))
        chunks.append(_png_chunk(b"IEND", b""))
        png = bytearray(b"\x89PNG\r\n\x1a\n" + b"".join(chunks))

        mode = rng.choice(["clean", "idat_body", "any_crc"])
        if mode == "idat_body":
            # first IDAT body byte: 8 sig + IHDR chunk + tEXt chunks + 8 hdr
            off = 8 + len(chunks[0]) + sum(len(c) for c in chunks[1:1 + n_text]) + 8
            png[off] ^= 0xFF
        elif mode == "any_crc":
            # last 4 bytes of a random chunk are its CRC field
            ci = rng.randrange(len(chunks))
            start = 8 + sum(len(c) for c in chunks[:ci])
            png[start + len(chunks[ci]) - rng.randint(1, 4)] ^= 0xFF

        ((_, width, height, _depth, _ctype, n_chunks, crc_ok, px_sum),) = decode_png(
            case, bytes(png)
        )
        assert (width, height) == (w, h), (case, mode)
        assert n_chunks == 3 + n_text, (case, mode)
        if mode == "clean":
            assert crc_ok, (case, mode)
            assert px_sum == sum(map(sum, pixels)), (case, mode)
        else:
            assert not crc_ok, (case, mode)
            assert px_sum is None, (case, mode)


# --- BMFF box walker: seeded structural fuzz -----------------------------
#
# Random box TREES (the fixture's tree is fixed-shape): leaves with random
# tags/body sizes, containers (moov/trak) recursing to random depth, plus
# corruption modes (size overflowing the parent, size < 8, truncated
# header) — expected rows modeled independently during generation.


def test_bmff_walker_seeded_structural_fuzz():
    import random
    import struct

    import pytest as _pytest

    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import walk_bmff

    rng = random.Random(0xB0FF)
    _LEAF_TAGS = [b"ftyp", b"mvhd", b"tkhd", b"mdat", b"free", b"udta"]

    def gen_boxes(depth, path, expect, doc_id):
        n = rng.randint(1, 3) if depth else rng.randint(2, 4)
        out = b""
        for _ in range(n):
            if depth < 2 and rng.random() < 0.4:
                tag = rng.choice([b"moov", b"trak"])
                body = gen_boxes(depth + 1, f"{path}/{tag.decode()}", expect, doc_id)
            else:
                tag = rng.choice(_LEAF_TAGS)
                body = bytes(rng.randrange(256) for _ in range(rng.randint(0, 20)))
            size = 8 + len(body)
            expect.append((doc_id, f"{path}/{tag.decode()}", size, depth))
            out += struct.pack(">I", size) + tag + body
        return out

    for case in range(30):
        expect = []
        payload = bytearray(gen_boxes(0, "", expect, case))
        mode = rng.choice(["clean", "overflow", "tiny_size", "truncate"])
        if mode == "overflow":
            struct.pack_into(">I", payload, 0, len(payload) + rng.randint(1, 99))
        elif mode == "tiny_size":
            struct.pack_into(">I", payload, 0, rng.randint(0, 7))
        elif mode == "truncate":
            payload = payload[: len(payload) - rng.randint(1, 7)]
        if mode == "clean":
            got = list(walk_bmff(case, bytes(payload)))
            # walker emits parent-before-children depth-first; the generator
            # appends in the same order EXCEPT containers append their
            # children first — compare as multisets plus per-path equality
            assert sorted(got) == sorted(expect), (case, got, expect)
        else:
            with _pytest.raises(ValueError, match="truncated box|bad box size"):
                list(walk_bmff(case, bytes(payload)))


# --- TIFF IFD walker: seeded structural fuzz -----------------------------
#
# Random endianness, a random header->IFD gap (real scanners place data
# before the IFD; the offset field must be honored, not assumed 8), extra
# SHORT tags beyond the required five, random values — plus every loud
# rejection mode (bad BOM, bad magic, unsupported entry type, chained IFD).


def test_tiff_walker_seeded_structural_fuzz():
    import random
    import struct

    import pytest as _pytest

    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import decode_tiff

    rng = random.Random(0x71FF)
    REQUIRED = (256, 257, 258, 259, 274)
    for case in range(40):
        e = rng.choice(["<", ">"])
        gap = rng.randint(0, 16)
        off = 8 + gap
        vals = {t: rng.randint(0, 0xFFFF) for t in REQUIRED}
        extra = sorted(rng.sample(range(300, 400), rng.randint(0, 3)))
        entries = sorted(list(vals.items()) + [(t, rng.randint(0, 0xFFFF)) for t in extra])
        mode = rng.choice(["clean", "bad_bom", "bad_magic", "bad_type", "chained"])

        ifd = struct.pack(e + "H", len(entries))
        for i, (tag, val) in enumerate(entries):
            typ = 9 if (mode == "bad_type" and i == 0) else 3
            ifd += struct.pack(e + "HHI", tag, typ, 1) + struct.pack(e + "H", val) + b"\x00\x00"
        ifd += struct.pack(e + "I", 77 if mode == "chained" else 0)
        bom = b"XX" if mode == "bad_bom" else (b"II" if e == "<" else b"MM")
        magic = 43 if mode == "bad_magic" else 42
        payload = bom + struct.pack(e + "HI", magic, off) + bytes(gap) + ifd

        if mode == "clean":
            ((_, byte_order, n_entries, *got),) = decode_tiff(case, payload)
            assert byte_order == ("II" if e == "<" else "MM"), case
            assert n_entries == len(entries), case
            # (width, height, bits, compression, orientation)
            assert tuple(got) == tuple(vals[t] for t in REQUIRED), (case, got)
        else:
            pat = {"bad_bom": "byte-order", "bad_magic": "magic",
                   "bad_type": "unsupported entry", "chained": "chained"}[mode]
            with _pytest.raises(ValueError, match=pat):
                list(decode_tiff(case, payload))
