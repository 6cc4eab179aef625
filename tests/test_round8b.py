"""Round-8 witnesses for the binary-container kernels whose FAILURE paths
had no test: the PNG integrity decoder (multimodal_png_integrity) and the
BMFF box walker (multimodal_bmff_box_walk).

Both queries are selfcheck-green against their DuckDB oracles, but the
oracle only ever sees well-formed fixtures — the integrity machinery
(CRC gating the inflate, bounds checks rejecting truncated/overflowing
boxes) is exactly the code that never executes on the happy path.  These
tests drive the per-row kernels directly with crafted byte
strings, no Spark session needed, so every documented rejection branch
fires at least once, and the happy-path outputs are recomputed from first
principles (pure-Python gradient sum / hand-computed box tree) rather
than by re-running either engine.
"""

import struct
import zlib

import pytest

from gcp_cloudsql_to_bigquery_spark.operators.multimodal import (
    _png_chunk,
    decode_png,
    synthesize_bmff,
    synthesize_png,
    walk_bmff,
)
from tests.conftest import fw_detail_rec, fw_trailer_rec


def _good_png(doc_id=5, n_chars=7):
    ((_, png),) = synthesize_png(doc_id, n_chars)
    return png


# --- PNG happy path: decode output == first-principles gradient math ---


def test_png_roundtrip_matches_pure_python_gradient():
    doc_id, n_chars = 5, 7
    w, h = doc_id % 24 + 4, n_chars % 16 + 4
    expected_px = sum(
        (x + 3 * y + doc_id) % 256 for x in range(w) for y in range(h)
    )
    ((_, width, height, depth, ctype, n_chunks, crc_ok, px_sum),) = decode_png(
        doc_id, _good_png(doc_id, n_chars)
    )
    assert (width, height) == (w, h)
    assert (depth, ctype, n_chunks) == (8, 0, 3)
    assert crc_ok and px_sum == expected_px


# --- PNG failure paths: each documented rejection branch fires once ---


def test_png_corrupt_idat_surfaces_as_crc_false_not_crash():
    """Flip one byte inside the IDAT body: the kernel must emit
    crc_ok=False with px_sum NULL — never reach zlib.decompress on the
    corrupted stream (which would abort the whole Arrow batch)."""
    png = bytearray(_good_png())
    # IDAT body starts after 8 sig + 25 IHDR chunk + 8 IDAT header
    idat_body = 8 + (12 + 13) + 8
    png[idat_body + 2] ^= 0xFF
    ((*_, crc_ok, px_sum),) = decode_png(5, bytes(png))
    assert not crc_ok
    assert px_sum is None


def test_png_bad_signature_raises():
    png = b"\x89PNX" + _good_png()[4:]
    with pytest.raises(ValueError, match="bad PNG signature"):
        list(decode_png(5, png))


def test_png_missing_idat_raises():
    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 0, 0, 0, 0)
    png = b"\x89PNG\r\n\x1a\n" + _png_chunk(b"IHDR", ihdr) + _png_chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="missing IHDR/IDAT"):
        list(decode_png(5, png))


def test_png_inflated_size_mismatch_raises():
    """Valid CRCs but the IDAT inflates to the wrong byte count (one
    scanline short): the buffer-size validation must catch it."""
    w, h = 4, 4
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = (b"\x00" + bytes(w)) * (h - 1)  # one scanline missing
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="inflated size"):
        list(decode_png(9, png))


def test_png_unsupported_filter_byte_raises():
    w, h = 4, 2
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"\x01" + bytes(w) + b"\x00" + bytes(w)  # filter 1 (Sub) unsupported
    png = (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw))
        + _png_chunk(b"IEND", b"")
    )
    with pytest.raises(ValueError, match="unsupported filter 1"):
        list(decode_png(9, png))


# --- BMFF happy path: walk output == hand-computed box tree ---


def _bmff_box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tag + body


def test_bmff_walk_matches_hand_computed_tree():
    doc_id, n_chars = 3, 12
    ((_, payload),) = synthesize_bmff(doc_id, n_chars)
    got = [row[1:] for row in walk_bmff(doc_id, payload)]
    # sizes derived from the format spec by hand, not from the encoder:
    # ftyp body 16B; tkhd 8B body; mvhd 4B; trak wraps tkhd; moov wraps
    # mvhd+trak; mdat body is n_chars%50+1 bytes
    assert got == [
        ("/ftyp", 24, 0),
        ("/moov", 44, 0),
        ("/moov/mvhd", 12, 1),
        ("/moov/trak", 24, 1),
        ("/moov/trak/tkhd", 16, 2),
        ("/mdat", 8 + (n_chars % 50 + 1), 0),
    ]


# --- BMFF failure paths: strict bounds checks reject malformed boxes ---


def test_bmff_truncated_header_raises():
    payload = _bmff_box(b"ftyp", b"isom") + b"\x00\x00\x00"  # 3 trailing bytes
    with pytest.raises(ValueError, match="truncated box header"):
        list(walk_bmff(1, payload))


def test_bmff_undersized_box_raises():
    # size=4 < 8-byte header: would loop forever or emit garbage if accepted
    payload = struct.pack(">I", 4) + b"free"
    with pytest.raises(ValueError, match="bad box size 4"):
        list(walk_bmff(1, payload))


def test_bmff_overflowing_box_raises():
    # declared size runs past the end of the buffer
    payload = struct.pack(">I", 64) + b"mdat" + bytes(8)
    with pytest.raises(ValueError, match="bad box size 64"):
        list(walk_bmff(1, payload))


def test_bmff_overflowing_child_inside_container_raises():
    """A child whose size escapes its PARENT's extent (but not the file)
    must be rejected — the recursion's end is the parent's end, which is
    what makes the walk safe on adversarial containers."""
    bad_child = struct.pack(">I", 48) + b"tkhd" + bytes(8)  # claims 48, parent has 16
    moov = _bmff_box(b"moov", bad_child)
    payload = moov + _bmff_box(b"free", bytes(32))
    with pytest.raises(ValueError, match="bad box size 48"):
        list(walk_bmff(1, payload))


# --- fixed-width trailer audit: tamper paths (src_fixed_width_trailer) ---
#
# The producer inside the query is consistent by construction, so the
# audit's false branches never fire on fixture data.  These feeds are
# crafted by hand from the format spec (conftest's fw_detail_rec /
# fw_trailer_rec) — an independent witness of the offsets as well as
# of the audit verdicts.


def test_fixed_width_trailer_audit_flags_tampering(spark):
    from gcp_cloudsql_to_bigquery_spark.sources.files import parse_fixed_width_feed

    good = "\n".join(
        ["H000000000", fw_detail_rec(8, "ALICE", 12345, "AUTO"),
         fw_detail_rec(16, "BOB", -678, "MACHINERY"), fw_trailer_rec(2, 11667)]
    )
    bad_count = "\n".join(
        ["H000000001", fw_detail_rec(24, "CAROL", 500, "HOUSEHOLD"), fw_trailer_rec(2, 500)]
    )
    bad_sum = "\n".join(
        ["H000000002", fw_detail_rec(32, "DAVE", -40, "FURNITURE"), fw_trailer_rec(1, 40)]
    )
    feeds = spark.createDataFrame(
        [(0, good), (1, bad_count), (2, bad_sum)], "shard int, content string"
    )
    rows = {r["custkey"]: r for r in parse_fixed_width_feed(feeds).collect()}

    assert rows[8]["name"] == "ALICE" and rows[8]["bal_cents"] == 12345
    assert rows[16]["segment"] == "MACHINERY" and rows[16]["bal_cents"] == -678
    assert rows[8]["count_ok"] and rows[8]["checksum_ok"]
    # count tampered: count_ok false, checksum still consistent
    assert not rows[24]["count_ok"] and rows[24]["checksum_ok"]
    # checksum tampered (sign flipped): checksum_ok false, count fine
    assert rows[32]["count_ok"] and not rows[32]["checksum_ok"]
    assert rows[32]["bal_cents"] == -40


# --- delimiter sniffing: plurality + tie-break (elt_delimiter_sniffing) ---


def test_sniffing_plurality_and_tiebreak(spark):
    from gcp_cloudsql_to_bigquery_spark.sources.files import sniff_and_parse_feed

    feeds = spark.createDataFrame(
        [
            # header holds 1 comma AND 2 pipes: plurality must pick pipe
            (0, "a,b|c|d\n5|x,y|SEG"),
            # exact tie comma-vs-pipe: greatest((1,'comma'),(1,'pipe'))
            # breaks to the lexicographically larger name — pipe, stably
            (1, "k,v|w\n7|n|s"),
            (2, "k\tv\tw\n9\tTABBY\tTS"),
        ],
        "shard int, content string",
    )
    got = {r["custkey"]: r for r in sniff_and_parse_feed(feeds).collect()}
    assert got[5]["detected"] == "pipe" and got[5]["name"] == "x,y"
    assert got[7]["detected"] == "pipe" and got[7]["segment"] == "s"
    assert got[9]["detected"] == "tab" and got[9]["name"] == "TABBY"
