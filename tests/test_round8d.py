"""Seeded-fuzz / property witnesses over the round-8 extracted helpers
and binary kernels, on shapes the parquet fixtures never produce:

- PNG synth→decode over the full (width, height) fixture lattice via
  hypothesis, checked against the closed-form gradient sum;
- the BMFF walker on RANDOM nested trees (deep nesting, empty
  containers, sibling runs) — expected output is built during
  generation, so the walker is compared against the generator's own
  bookkeeping, not against itself;
- the fixed-width feed on 200 seeded-random records hitting the
  boundary widths (18-char names, truncation, zero/negative/11-digit
  cents) in one Spark call;
- the delimiter sniffer on seeded-random fields with per-shard random
  separators.

Spark-side fuzz uses a FIXED seed: the point is coverage of the format
space, not flaky nondeterminism.
"""

import random
import string
import struct

from hypothesis import given, settings, strategies as st

from gcp_cloudsql_to_bigquery_spark.operators.multimodal import (
    decode_png,
    run_steps,
    synthesize_png,
    walk_bmff,
)


# --- PNG: property over the whole fixture lattice ---


@settings(max_examples=30, deadline=None)
@given(doc_id=st.integers(0, 10_000), n_chars=st.integers(0, 1_000_000))
def test_png_gradient_property(doc_id, n_chars):
    w, h = doc_id % 24 + 4, n_chars % 16 + 4
    ((_, width, height, _depth, _ctype, _n, crc_ok, px_sum),) = run_steps(
        [(doc_id, n_chars)], synthesize_png, decode_png
    )
    assert (width, height, crc_ok) == (w, h, True)
    assert px_sum == sum(
        (x + 3 * y + doc_id) % 256 for x in range(w) for y in range(h)
    )


# --- BMFF: walker vs generator bookkeeping on random trees ---

_CONTAINERS = [b"moov", b"trak"]  # the walker's recursion set


_LEAVES = [b"ftyp", b"mvhd", b"tkhd", b"mdat", b"free"]


def _random_tree(rng, path, depth, max_depth, expected):
    """Emit a random run of sibling boxes; containers recurse.  Returns
    the concatenated bytes and appends (path, size, depth) rows to
    `expected` in the walker's visit order (parent before children)."""
    blob = b""
    for _ in range(rng.randint(1, 3)):
        if depth < max_depth and rng.random() < 0.5:
            tag = rng.choice(_CONTAINERS)
            p = f"{path}/{tag.decode()}"
            marker = len(expected)
            expected.append(None)  # reserve the parent's slot
            body = (
                _random_tree(rng, p, depth + 1, max_depth, expected)
                if rng.random() < 0.8
                else b""  # empty container: zero children is legal
            )
            expected[marker] = (p, len(body) + 8, depth)
        else:
            tag = rng.choice(_LEAVES)
            body = bytes(rng.randrange(256) for _ in range(rng.randint(0, 12)))
            expected.append((f"{path}/{tag.decode()}", len(body) + 8, depth))
        blob += struct.pack(">I", len(body) + 8) + tag + body
    return blob


def test_bmff_walker_matches_generator_on_random_trees():
    rng = random.Random(0xB0F)
    for trial in range(40):
        expected = []
        payload = _random_tree(rng, "", 0, max_depth=4, expected=expected)
        got = [row[1:] for row in walk_bmff(trial, payload)]
        assert got == expected, f"trial {trial}"


# --- fixed-width feed: seeded fuzz over boundary widths, one Spark call ---

_NAME_CHARS = string.ascii_letters + string.digits + "#,|&- "


def _rand_name(rng):
    # exercise <18, ==18 and >18 (truncation); rstrip because the parse
    # side rtrims padding — a trailing space is not representable
    n = rng.choice([0, 1, 17, 18, 19, 25, rng.randint(2, 16)])
    return "".join(rng.choice(_NAME_CHARS) for _ in range(n)).rstrip()


def test_fixed_width_feed_seeded_fuzz(spark):
    from gcp_cloudsql_to_bigquery_spark.sources.files import parse_fixed_width_feed

    rng = random.Random(0xF1D)
    shards, truth = [], {}
    key = 1
    for shard in range(8):
        recs = []
        for _ in range(25):
            cents = rng.choice(
                [0, -1, 1, 99_999_999_999, -99_999_999_999, rng.randint(-10**10, 10**10)]
            )
            name, seg = _rand_name(rng), _rand_name(rng)[:10]
            truth[key] = (name[:18].rstrip(), cents, seg.rstrip())
            recs.append((key, name, cents, seg))
            key += 1
        lines = [f"H{shard:09d}"]
        total = 0
        for k, name, cents, seg in recs:
            sign = "-" if cents < 0 else "+"
            lines.append(f"D{k:09d}{name:<18.18}{sign}{abs(cents):011d}{seg:<10.10}")
            total += cents
        tsign = "-" if total < 0 else "+"
        lines.append(f"T{len(recs):09d}{tsign}{abs(total):015d}")
        shards.append((shard, "\n".join(lines)))

    feeds = spark.createDataFrame(shards, "shard int, content string")
    rows = parse_fixed_width_feed(feeds).collect()
    assert len(rows) == len(truth)
    for r in rows:
        name, cents, seg = truth[r["custkey"]]
        assert (r["name"], r["bal_cents"], r["segment"]) == (name, cents, seg)
        assert r["count_ok"] and r["checksum_ok"]


# --- delimiter sniffer: seeded fuzz, separator-free fields ---


def test_sniffer_seeded_fuzz(spark):
    from gcp_cloudsql_to_bigquery_spark.sources.files import (
        _SNIFF_DELIMS,
        _SNIFF_NAMES,
        sniff_and_parse_feed,
    )

    rng = random.Random(0x5F1F)
    clean = string.ascii_letters + string.digits + " #&-"
    feeds, truth = [], {}
    key = 1
    for shard in range(9):
        d_idx = rng.randrange(3)
        d, d_name = _SNIFF_DELIMS[d_idx], _SNIFF_NAMES[d_idx]
        lines = [d.join(["custkey", "name", "segment"])]
        for _ in range(20):
            name = "".join(rng.choice(clean) for _ in range(rng.randint(1, 12))).strip() or "x"
            seg = "".join(rng.choice(clean) for _ in range(rng.randint(1, 8))).strip() or "y"
            truth[key] = (name, seg, d_name)
            lines.append(d.join([str(key), name, seg]))
            key += 1
        feeds.append((shard, "\n".join(lines)))

    df = spark.createDataFrame(feeds, "shard int, content string")
    rows = sniff_and_parse_feed(df).collect()
    assert len(rows) == len(truth)
    for r in rows:
        assert (r["name"], r["segment"], r["detected"]) == truth[r["custkey"]]


# --- registry binding invariant ---


def test_registry_names_bind_their_own_functions():
    """Every registered query's fn.__name__ must equal its registry key.
    Pins the decorator-binding hazard: a module-level helper inserted
    between @register(...) and the query def silently rebinds the entry
    to the helper (caught live during the r8 feed-helper extraction —
    selfcheck failed with 'takes 1 positional argument but 2 were
    given'); this makes the mistake a unit-test failure instead."""
    from gcp_cloudsql_to_bigquery_spark.workload import REGISTRY

    mismatched = {k: q.fn.__name__ for k, q in REGISTRY.items() if q.fn.__name__ != k}
    assert not mismatched
