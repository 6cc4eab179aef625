"""Multimodal column plumbing: opaque binary payloads + typed metadata,
synthesize / decode / feature-extract as ONE Arrow-batched ``mapInPandas``
crossing per pipeline (``media_kernel``).

North-star extension surface (BASELINE.json).  The decode kernels for PPM
images and RIFF/WAV audio are REAL (header parse, buffer validation, numpy
reduction) and oracle-verified against closed forms; only formats needing an
external codec library (JPEG/MP4 — not installed in this container) remain
out of scope.  Everything Spark-side is load-bearing: the binary column
representation, the metadata struct schema, the per-row kernel steps that
``media_kernel`` chains inside one Python worker, partition-preserving
narrow execution, and the projection contract (binary column dropped after
feature extraction so the heavy bytes never travel further than necessary).

At 100 TB: payload bytes dominate — keep them in their own column so column
pruning skips them for metadata-only queries; decode early, project the
payload away, and carry only extracted features downstream.
"""

from __future__ import annotations

import re
import struct
import zlib
from collections.abc import Iterable, Iterator
from itertools import chain, starmap

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load
from ..registry import register


def media_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``documents`` rows addressable as media.

    NULL ``doc_id`` is excluded (round-13 null-KEYS contract): every
    synthesis kernel in this module derives its payload deterministically
    from the id (``int(doc_id)`` seeds planes, dims, box trees), and every
    decode result is keyed back by it — a blob without identity can be
    neither synthesized nor addressed.  Each oracle states the same
    ``doc_id IS NOT NULL`` (or an arithmetic predicate that implies it).

    r17 note: a ``load_spread`` variant of this scan was measured and
    REVERTED — family-wide warm A/B at sf0.1 (15 queries, min-of-3 each):
    11.37 s plain vs 16.76 s spread, EVERY query flat-to-worse (e.g.
    phash_thumbnail_match 3.22 -> 3.48 s, decode_features 0.49 -> 1.71 s).
    Unlike the JVM-codegen text/dedup map work the r17 spread batch
    parallelized, this module's cost sits in its Python kernels: above a
    spread exchange each Python crossing pays 32 worker spin-ups and many
    small Arrow batches where the single-task form streams a few large
    batches through one warm worker — at bench volume the boundary
    overhead swamped the parallelism (the r16 cosine-revert lesson, guide
    §4.2's batch-size caveat).  Those numbers were taken while each
    pipeline still ran as 2-3 chained mapInPandas stages; every pipeline
    is one ``media_kernel`` crossing now, and the scan stays unspread on
    the measured numbers until an A/B over the fused form says otherwise.
    On a real multi-row-group corpus the scan fans out natively and none
    of this applies."""
    return load(spark, sf_dir, "documents").filter(F.col("doc_id").isNotNull())


def run_steps(rows: Iterable[tuple], *steps) -> list[tuple]:
    """Thread ``(doc_id, value)`` rows through per-row ``steps`` in order.

    Each step is a generator ``(doc_id, value) -> output tuples``: a
    synthesizer maps ``(doc_id, n_chars)`` to ``(doc_id, payload)``, a
    transcoder (resize, decimate) maps a payload to a new payload, and the
    last step yields the output rows — one per input for decoders, any
    number for the fan-out kernels (histogram, shot detect, box walk)."""
    for step in steps:
        rows = chain.from_iterable(starmap(step, rows))
    return list(rows)


def media_kernel(docs: DataFrame, schema: str, *steps) -> DataFrame:
    """Run a media pipeline over ``docs``' (doc_id, n_chars) as ONE Arrow
    crossing: every Arrow batch goes through all of ``steps``
    (``run_steps``) inside a single Python worker, so intermediate
    payloads never return to the JVM and the plan holds one MapInPandas
    node whatever the chain length.  The output frame takes its column
    names from ``schema`` (a flat DDL string)."""
    columns = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = run_steps(zip(pdf["doc_id"], pdf["n_chars"]), *steps)
            yield pd.DataFrame(rows, columns=columns)

    run.__name__ = "->".join(step.__name__ for step in steps)  # names the plan node
    return docs.select("doc_id", "n_chars").mapInPandas(run, schema=schema)


_P6_HEADER = re.compile(rb"P6\s+(\d+)\s+(\d+)\s+255\s")


def parse_ppm(doc_id, buf: bytes, pos: int = 0):
    """Parse the binary P6 PPM image that starts at byte ``pos`` of
    ``buf``: header, then w*h*3 pixel bytes.  Returns ``(w, h,
    pixels, end)`` with pixels an (h, w, 3) uint8 view and ``end`` the
    offset just past them (the next frame of a multi-frame container).
    Raises on a bad header or a truncated pixel buffer."""
    m = _P6_HEADER.match(buf, pos)
    if not m:
        raise ValueError(f"doc {doc_id}: not a P6 PPM header at {pos}")
    w, h = int(m.group(1)), int(m.group(2))
    start, end = m.end(), m.end() + 3 * w * h
    if end > len(buf):
        raise ValueError(f"doc {doc_id}: pixel buffer {len(buf) - start} < {w}x{h}x3 at {pos}")
    px = np.frombuffer(buf, dtype=np.uint8, count=3 * w * h, offset=start)
    return w, h, px.reshape(h, w, 3), end


def _ppm_image(doc_id, payload: bytes) -> np.ndarray:
    """Pixels of a payload holding exactly one P6 image (trailing bytes
    are a corrupt payload, not a second frame)."""
    _w, _h, px, end = parse_ppm(doc_id, payload)
    if end != len(payload):
        raise ValueError(f"doc {doc_id}: pixel buffer has {len(payload) - end} trailing bytes")
    return px


def _ppm_bytes(px: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 array as a binary P6 PPM file."""
    h, w = px.shape[:2]
    return f"P6\n{w} {h}\n255\n".encode() + px.tobytes()


def _wav_bytes(samples: np.ndarray, rate: int, n_ch: int) -> bytes:
    """Encode interleaved int16 ``samples`` as a RIFF/WAVE PCM16 file."""
    data = samples.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, n_ch, rate, rate * 2 * n_ch, 2 * n_ch, 16)
    chunks = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    chunks += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(chunks)) + chunks


def as_media_table(docs: DataFrame) -> DataFrame:
    """Build a media-shaped table from ``documents``: payload = encoded text
    (an opaque blob to the engine), typed metadata alongside — the layout a
    real image/audio table would have."""
    return docs.select(
        "doc_id",
        F.col("text").cast("binary").alias("payload"),
        F.when(F.col("doc_id") % 3 == 0, "image/png")
        .when(F.col("doc_id") % 3 == 1, "audio/wav")
        .otherwise("video/mp4")
        .alias("media_type"),
        F.struct(
            F.col("source").alias("origin"),
            F.col("n_chars").cast("bigint").alias("content_length"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


@register(
    "multimodal_metadata_stats",
    oracle="""
    SELECT CASE WHEN doc_id % 3 = 0 THEN 'image/png'
                WHEN doc_id % 3 = 1 THEN 'audio/wav'
                ELSE 'video/mp4' END          AS media_type,
           count(*)                           AS n_docs,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           round(avg(n_chars), 4)             AS avg_content_length
    FROM documents
    WHERE doc_id IS NOT NULL
    GROUP BY media_type
    """,
    doc="Metadata-only rollup over a multimodal table: payload column is "
    "pruned from the scan (only byte length touches the blob) — the query "
    "shape that must NOT read 100 TB of pixels.",
)
def multimodal_metadata_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = as_media_table(media_docs(spark, sf_dir))
    return (
        media.groupBy("media_type")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.octet_length("payload")).alias("total_bytes"),
            F.round(F.avg(F.col("meta.content_length")), 4).alias("avg_content_length"),
        )
    )


@register(
    "multimodal_decode_features",
    oracle="""
    SELECT doc_id, 'image/ppm' AS media_type,
           CAST(n_chars % 64 + 8 AS INT)  AS width,
           CAST(doc_id % 48 + 8 AS INT)   AS height,
           CAST(NULL AS BIGINT)           AS n_samples,
           (doc_id % 48 + 7) / 2.0        AS feat
    FROM documents WHERE doc_id % 3 = 0
    UNION ALL
    SELECT doc_id, 'audio/wav' AS media_type,
           CAST(NULL AS INT)                    AS width,
           CAST(NULL AS INT)                    AS height,
           CAST(n_chars % 2000 + 100 AS BIGINT) AS n_samples,
           CAST(doc_id % 1000 AS DOUBLE)        AS feat
    FROM documents WHERE doc_id % 3 = 1
    """,
    doc="Media-type-routed REAL decode: image rows go through the P6 PPM "
    "decoder, audio rows through the RIFF/WAV PCM16 decoder (both genuine "
    "parse+validate+reduce kernels, see multimodal_decode_ppm / _wav), "
    "unified into one feature table — width/height + mean-g for images, "
    "sample count + RMS for audio.  Video rows are excluded: MP4 needs an "
    "external codec, which is exactly the boundary this operator documents. "
    "Each branch is a narrow synthesize→decode mapInPandas pipeline (no "
    "shuffle; union is plan-level, not an exchange), payload projected away "
    "inside the decode stage.  Replaces the former digest-based stub kernel "
    "— every emitted number is now produced by real byte-level decoding and "
    "checked against the DuckDB closed forms.",
)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = media_docs(spark, sf_dir)
    img = (
        media_kernel(
            docs.filter(F.col("doc_id") % 3 == 0), PPM_DECODED_SCHEMA, synthesize_ppm, decode_ppm
        )
        .select(
            "doc_id",
            F.lit("image/ppm").alias("media_type"),
            "width",
            "height",
            F.lit(None).cast("bigint").alias("n_samples"),
            F.col("mean_g").alias("feat"),
        )
    )
    aud = (
        media_kernel(
            docs.filter(F.col("doc_id") % 3 == 1), WAV_DECODED_SCHEMA, synthesize_wav, decode_wav
        )
        .select(
            "doc_id",
            F.lit("audio/wav").alias("media_type"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            "n_samples",
            F.col("rms").alias("feat"),
        )
    )
    return img.unionByName(aud)


@register(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id, CAST(f AS BIGINT) AS frame_no,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
    FROM documents, LATERAL unnest(range(0, CAST(floor(n_chars / 50) AS BIGINT), 4)) AS t(f)
    WHERE doc_id % 3 = 2
    """,
    doc="Frame sampling for video rows: every 4th frame index from a "
    "metadata-declared frame count (n_frames ~ content_length/50), fanned "
    "out 1→N with explode(sequence(...)) — the decode work-list a video "
    "pipeline feeds to its frame extractor.  The payload is carried by "
    "REFERENCE (doc_id + byte length only) so the blob is never replicated "
    "per frame — the fan-out that must stay metadata-sized at 100 TB.",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    media = as_media_table(media_docs(spark, sf_dir))
    video = media.filter(F.col("media_type") == "video/mp4")
    n_frames = (F.col("meta.content_length") / 50).cast("long")
    frames = F.sequence(F.lit(0).cast("long"), n_frames - 1, F.lit(4).cast("long"))
    return (
        video.filter(n_frames > 0)
        .select(
            "doc_id",
            F.octet_length("payload").cast("long").alias("payload_bytes"),
            F.explode(frames).alias("frame_no"),
        )
        .select("doc_id", "frame_no", "payload_bytes")
    )


PPM_DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, n_bytes bigint, "
    "mean_r double, mean_g double, mean_b double"
)


def synthesize_ppm(doc_id, n_chars):
    """Fixture-side encoder: build a REAL binary P6 PPM image per row,
    deterministic from (doc_id, n_chars) — r plane constant doc_id%256,
    g plane a vertical gradient (y), b plane constant (doc_id*31)%256.
    Runs distributed (mapInPandas) so the binary column is produced the
    way a real ingest would: bytes born on executors, never the driver."""
    w = int(n_chars) % 64 + 8
    h = int(doc_id) % 48 + 8
    px = np.empty((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = int(doc_id) % 256
    px[:, :, 1] = (np.arange(h, dtype=np.uint8) % 256)[:, None]
    px[:, :, 2] = (int(doc_id) * 31) % 256
    yield doc_id, _ppm_bytes(px)


def decode_ppm(doc_id, payload):
    """REAL decode kernel: parse the P6 header, validate the pixel-buffer
    length, reshape to (h, w, 3), reduce to per-channel means.  Nothing
    here is stubbed — a wrong header parse, byte offset, or memory layout
    produces wrong means and fails the closed-form oracle."""
    px = _ppm_image(doc_id, payload)
    h, w = px.shape[:2]
    # integer sums < 2^53 are exact in float64 → means are exact,
    # so the oracle can state them in closed form with no rounding
    r, g, b = px.reshape(-1, 3).mean(axis=0, dtype=np.float64)
    yield doc_id, w, h, len(payload), float(r), float(g), float(b)


@register(
    "multimodal_decode_ppm",
    oracle="""
    SELECT doc_id,
           CAST(n_chars % 64 + 8 AS INT)  AS width,
           CAST(doc_id % 48 + 8 AS INT)   AS height,
           CAST(3 + length(CAST(n_chars % 64 + 8 AS VARCHAR)) + 1
                  + length(CAST(doc_id % 48 + 8 AS VARCHAR)) + 1 + 4
                  + 3 * (n_chars % 64 + 8) * (doc_id % 48 + 8) AS BIGINT) AS n_bytes,
           CAST(doc_id % 256 AS DOUBLE)        AS mean_r,
           (doc_id % 48 + 7) / 2.0             AS mean_g,
           CAST((doc_id * 31) % 256 AS DOUBLE) AS mean_b
    FROM documents
    WHERE doc_id IS NOT NULL
    """,
    doc="REAL binary image decode, fully oracle-verified: synthesize a "
    "deterministic P6 PPM per document (constant r/b planes, vertical "
    "gradient g plane) and decode it (header parse, buffer-length "
    "validation, (h,w,3) reshape, per-channel means) in one distributed "
    "mapInPandas crossing, and check dims/sizes/means against the DuckDB "
    "closed forms.  This is the production multimodal pipeline shape with "
    "nothing faked — only codec-library formats (JPEG/MP4) stay out of "
    "scope.  Channel means are exact (integer sums < 2^53 in "
    "float64), so the comparison needs no rounding slack.  At 100 TB the "
    "two steps run as one narrow pass: bytes never shuffle, and the "
    "payload is projected away right after decode.",
)
def multimodal_decode_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(media_docs(spark, sf_dir), PPM_DECODED_SCHEMA, synthesize_ppm, decode_ppm)


WAV_DECODED_SCHEMA = (
    "doc_id bigint, sample_rate int, n_channels int, n_samples bigint, "
    "duration_sec double, rms double"
)

_WAV_RATE = 8000


def synthesize_wav(doc_id, n_chars):
    """Fixture-side encoder: a REAL RIFF/WAVE PCM16 mono file per row —
    a Nyquist square wave of amplitude doc_id%1000 (alternating +A/-A),
    n_chars%2000+100 samples at 8 kHz, so RMS == A exactly."""
    samples = np.full(int(n_chars) % 2000 + 100, int(doc_id) % 1000, dtype=np.int16)
    samples[1::2] *= -1
    yield doc_id, _wav_bytes(samples, _WAV_RATE, 1)


def parse_wav_chunks(doc_id, payload):
    """Shared RIFF/WAVE chunk walk (not fixed offsets — real files carry
    LIST/INFO chunks): validate the container, return (fmt tuple, data
    bytes) or raise."""
    if payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError(f"doc {doc_id}: not a RIFF/WAVE container")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError(f"doc {doc_id}: missing fmt/data chunk")
    return fmt, data


def decode_wav(doc_id, payload):
    """REAL audio decode kernel: validate the RIFF/WAVE container, walk the
    chunk list (not fixed offsets — real files carry LIST/INFO chunks),
    parse the PCM fmt block, then reduce the int16 frame buffer to
    duration + RMS.  Wrong endianness, chunk walk, or frame math fails the
    closed-form oracle."""
    fmt, data = parse_wav_chunks(doc_id, payload)
    audio_fmt, n_ch, rate, _byterate, _align, bits = fmt
    if audio_fmt != 1 or bits != 16:
        raise ValueError(f"doc {doc_id}: not PCM16 (fmt={audio_fmt}, bits={bits})")
    x = np.frombuffer(data, dtype="<i2").astype(np.float64)
    n = x.size // n_ch
    # int16² sums stay < 2^53 → mean exact; sqrt of the exact
    # perfect square A² is exactly A (IEEE sqrt is correctly rounded)
    yield doc_id, rate, n_ch, n, n / rate, float(np.sqrt(np.mean(x * x)))


@register(
    "multimodal_decode_wav",
    oracle=f"""
    SELECT doc_id,
           {_WAV_RATE}                                   AS sample_rate,
           1                                             AS n_channels,
           CAST(n_chars % 2000 + 100 AS BIGINT)          AS n_samples,
           (n_chars % 2000 + 100) / {_WAV_RATE}.0        AS duration_sec,
           CAST(doc_id % 1000 AS DOUBLE)                 AS rms
    FROM documents
    WHERE doc_id IS NOT NULL
    """,
    doc="REAL audio decode, fully oracle-verified (the WAV sibling of "
    "multimodal_decode_ppm): synthesize a PCM16 RIFF/WAVE square-wave per "
    "document distributed, then genuinely parse it back — container "
    "validation, word-aligned chunk walk, fmt-block unpack, int16 frame "
    "reduction to duration and RMS — against DuckDB closed forms.  The "
    "Nyquist square wave of amplitude A has RMS exactly A and all sums "
    "stay integer-exact in float64, so the comparison needs no rounding "
    "slack.  Image (PPM) and audio (WAV) decode paths are now real "
    "end-to-end; only codec-library formats remain stubbed.",
)
def multimodal_decode_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(media_docs(spark, sf_dir), WAV_DECODED_SCHEMA, synthesize_wav, decode_wav)


def resize_ppm(doc_id, payload):
    """REAL resize kernel (binary → binary): parse the P6 header, validate
    the buffer, nearest-neighbor downsample by 2 (px[::2, ::2]), re-encode
    as a well-formed P6 payload.  The output is a genuine image file again
    — the next pipeline step (decode, thumbnail sink) needs no special
    casing — and wrong stride/reshape order produces wrong downstream
    means, failing the closed-form oracle."""
    yield doc_id, _ppm_bytes(_ppm_image(doc_id, payload)[::2, ::2])


@register(
    "multimodal_resize_ppm",
    oracle="""
    SELECT doc_id,
           CAST((n_chars % 64 + 8 + 1) // 2 AS INT) AS width,
           CAST((doc_id % 48 + 8 + 1) // 2 AS INT)  AS height,
           CAST(3 + length(CAST((n_chars % 64 + 8 + 1) // 2 AS VARCHAR)) + 1
                  + length(CAST((doc_id % 48 + 8 + 1) // 2 AS VARCHAR)) + 1 + 4
                  + 3 * ((n_chars % 64 + 8 + 1) // 2) * ((doc_id % 48 + 8 + 1) // 2)
               AS BIGINT)                            AS n_bytes,
           CAST(doc_id % 256 AS DOUBLE)             AS mean_r,
           CAST((doc_id % 48 + 8 + 1) // 2 - 1 AS DOUBLE) AS mean_g,
           CAST((doc_id * 31) % 256 AS DOUBLE)      AS mean_b
    FROM documents
    WHERE doc_id IS NOT NULL
    """,
    doc="REAL image resize, the brief's named multimodal op: synthesize a "
    "P6 PPM per document, nearest-neighbor downsample 2x in a distributed "
    "binary-to-binary step (header parse, [::2,::2] pixel "
    "slice, re-encode as valid P6), then decode the RESIZED file with the "
    "standard decoder and check dims/bytes/channel means against DuckDB "
    "closed forms: new dims are ceil(w/2) x ceil(h/2), constant r/b "
    "planes are invariant under subsampling, and the gradient g plane's "
    "selected rows 0,2,..,2(k-1) have exact integer mean k-1.  Three "
    "chained steps in one narrow Arrow crossing — bytes never shuffle, "
    "each step's output is a self-describing image the next step "
    "re-validates.  At 100 TB "
    "this is the thumbnail/downsample pass that cuts payload bytes 4x "
    "before any shuffle or sink.",
)
def multimodal_resize_ppm(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(
        media_docs(spark, sf_dir), PPM_DECODED_SCHEMA, synthesize_ppm, resize_ppm, decode_ppm
    )


def decimate_wav(doc_id, payload):
    """REAL audio resample kernel (binary → binary): walk the RIFF chunks,
    take every 2nd PCM16 frame (decimation by 2 — the no-filter nearest
    neighbor of resampling), re-encode a valid RIFF/WAVE at half the
    sample rate.  The output is a playable file the standard decoder
    re-validates."""
    (_afmt, n_ch, rate, _br, _al, _bits), data = parse_wav_chunks(doc_id, payload)
    frames = np.frombuffer(data, dtype="<i2").reshape(-1, n_ch)[::2]
    yield doc_id, _wav_bytes(frames, rate // 2, n_ch)


@register(
    "multimodal_resample_wav",
    oracle=f"""
    SELECT doc_id,
           {_WAV_RATE} // 2                                        AS sample_rate,
           1                                                       AS n_channels,
           CAST((n_chars % 2000 + 100 + 1) // 2 AS BIGINT)         AS n_samples,
           ((n_chars % 2000 + 100 + 1) // 2) / ({_WAV_RATE} / 2.0) AS duration_sec,
           CAST(doc_id % 1000 AS DOUBLE)                           AS rms
    FROM documents
    WHERE doc_id IS NOT NULL
    """,
    doc="REAL audio resample (the WAV sibling of multimodal_resize_ppm): "
    "decimate the PCM16 stream by 2 in a binary-to-binary "
    "step (chunk walk, [::2] frame slice, re-encode a valid RIFF at "
    "half rate), then decode the RESAMPLED file with the standard "
    "decoder.  Closed forms: ceil-half sample count, duration preserved "
    "to within one sample (n'/(r/2) ~ n/r), and the Nyquist +/-A square "
    "wave decimates to a constant-amplitude signal whose RMS is still "
    "EXACTLY A — so the check needs no tolerance.  Decode / feature / "
    "resize-resample / frame-sample now all exist for both image and "
    "audio payloads, all byte-level real, all oracle-verified.",
)
def multimodal_resample_wav(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(
        media_docs(spark, sf_dir), WAV_DECODED_SCHEMA, synthesize_wav, decimate_wav, decode_wav
    )


def wav_spectral(doc_id, payload):
    """Per-clip spectral features of a mono PCM16 payload: sample count,
    peak and mean absolute amplitude, zero crossings, and the dominant
    frequency implied by the crossing rate (Nyquist for the fixture)."""
    fmt, data = parse_wav_chunks(doc_id, payload)
    audio_fmt, n_ch, rate, _br, _al, bits = fmt
    if audio_fmt != 1 or bits != 16 or n_ch != 1:
        raise ValueError(f"doc {doc_id}: not mono PCM16")
    x = np.frombuffer(data, dtype="<i2").astype(np.int64)
    zc = int(np.count_nonzero(x[:-1] * x[1:] < 0))
    # sum(|x|) < 2^31 * n — exact integer; mean via floor-div
    # rounded ((2S+n) // (2n); values non-negative)
    s_abs = int(np.abs(x).sum())
    n = int(x.size)
    peak = int(np.abs(x).max()) if n else 0
    mean_abs = (2 * s_abs + n) // (2 * n) if n else 0
    yield doc_id, n, peak, mean_abs, zc, rate // 2


@register(
    "multimodal_audio_spectral",
    oracle=f"""
    SELECT doc_id,
           CAST(n_chars % 2000 + 100 AS BIGINT) AS n_samples,
           CAST(doc_id % 1000 AS BIGINT)        AS peak,
           CAST(doc_id % 1000 AS BIGINT)        AS mean_abs,
           CAST(CASE WHEN doc_id % 1000 = 0 THEN 0
                     ELSE n_chars % 2000 + 100 - 1 END AS BIGINT)
             AS zero_crossings,
           CAST({_WAV_RATE} / 2 AS BIGINT)      AS dominant_hz
    FROM documents
    WHERE doc_id IS NOT NULL
    """,
    doc="Spectral feature extraction over REAL audio payloads — the "
    "second-stage kernel a training pipeline runs after decode (VAD/"
    "music-detection features): per clip, peak amplitude, mean absolute "
    "amplitude, zero-crossing count, and the dominant frequency implied "
    "by the crossing rate.  The fixture square wave (amplitude "
    "doc_id%1000 alternating +A/-A at 8 kHz) makes every feature "
    "CLOSED-FORM: peak = mean_abs = A, crossings = n-1 (0 for silence), "
    "dominant = Nyquist — so the oracle derives all outputs "
    "arithmetically from the base table and any chunk-walk/endianness/"
    "frame-math bug fails the hash.  Same mapInPandas Arrow pipeline as "
    "decode (synthesize -> parse via the shared chunk walk -> numpy "
    "reduction); integer outputs only.  Scale: narrow per-row kernels, "
    "payload bytes never shuffle.",
)
def multimodal_audio_spectral(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(
        media_docs(spark, sf_dir),
        "doc_id bigint, n_samples bigint, peak bigint, mean_abs bigint, "
        "zero_crossings bigint, dominant_hz bigint",
        synthesize_wav,
        wav_spectral,
    )


def ppm_histogram(doc_id, payload):
    """Green-plane intensity histogram of a P6 payload in 16-value bins;
    one (doc_id, bucket, n_px) row per non-empty bin."""
    g = _ppm_image(doc_id, payload)[:, :, 1]
    counts = np.bincount(g.ravel() // 16, minlength=16)
    for b in np.flatnonzero(counts):
        yield doc_id, int(b), int(counts[b])


@register(
    "multimodal_image_histogram",
    oracle="""
    WITH dims AS (
      SELECT doc_id,
             n_chars % 64 + 8 AS w,
             doc_id % 48 + 8 AS h
      FROM documents
      WHERE doc_id IS NOT NULL
    )
    SELECT d.doc_id, b.b AS bucket,
           CAST(least(greatest(h - 16 * b.b, 0), 16) * w AS BIGINT) AS n_px
    FROM dims d CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS b) b
    WHERE least(greatest(h - 16 * b.b, 0), 16) > 0
    """,
    doc="Per-image intensity HISTOGRAM over real decoded pixels — the "
    "second-stage image kernel after decode (exposure/contrast QA, the "
    "image analog of multimodal_audio_spectral): the green plane of "
    "each P6 image is bucketed into 16-value intensity bins with a "
    "numpy bincount inside the same mapInPandas Arrow pipeline as the "
    "decoder.  The fixture's green plane is the vertical gradient "
    "y=0..h-1, so every bucket count has the CLOSED FORM "
    "clamp(h-16b, 0, 16)*w that the oracle derives arithmetically from "
    "the base table — any histogram-kernel bug (off-by-one bin edges, "
    "plane confusion, reshape order) breaks the hash.  Empty buckets "
    "are dropped on both sides.  Scale: narrow per-row kernel, "
    "payload never shuffles; histograms are mergeable integer vectors.",
)
def multimodal_image_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(
        media_docs(spark, sf_dir),
        "doc_id bigint, bucket int, n_px bigint",
        synthesize_ppm,
        ppm_histogram,
    )


_PHASH_GRID = 8  # aHash grid: 8x8 block means -> 64-bit hash

def _phash_sql(hexpr: str) -> str:
    """Closed-form phash of the fixture image with height ``hexpr`` (SQL
    expression): each grid-row bit is floor(i*h/8)+floor((i+1)*h/8) > h,
    identical across the 8 columns, so each hash byte is 0x00 or 0xff."""
    return " || ".join(
        f"CASE WHEN ({i} * ({hexpr})) // {_PHASH_GRID} "
        f"+ ({i + 1} * ({hexpr})) // {_PHASH_GRID} > ({hexpr}) "
        "THEN 'ff' ELSE '00' END"
        for i in range(_PHASH_GRID)
    )


_PHASH_ORACLE_BYTES = _phash_sql("h")
_PHASH_SCHEMA = "doc_id bigint, phash string"


def phash_ppm(doc_id, payload):
    """REAL aHash kernel: P6 parse, grayscale (r+g+b integer sum), 8x8
    block-mean pooling via a 2-D integral image (the classic O(1)-per-block
    summed-area table), exact cross-multiplied integer threshold against
    the image mean, 64-bit row-major MSB-first pack.  Images smaller than
    the grid in either dimension yield empty blocks (floor boundaries
    coincide); an empty block's bit is 0 (0 > 0 is false) — well-defined
    for thumbnails down to 1px."""
    g = _PHASH_GRID
    px = _ppm_image(doc_id, payload)
    h, w = px.shape[:2]
    gray = px.sum(axis=2, dtype=np.int64)
    integral = np.zeros((h + 1, w + 1), dtype=np.int64)
    integral[1:, 1:] = gray.cumsum(axis=0).cumsum(axis=1)
    total = int(integral[h, w])
    rb = [i * h // g for i in range(g + 1)]
    cb = [j * w // g for j in range(g + 1)]
    hash_bytes = bytearray()
    for i in range(g):
        byte = 0
        a, b = rb[i], rb[i + 1]
        for j in range(g):
            c, d = cb[j], cb[j + 1]
            s = int(integral[b, d] - integral[a, d] - integral[b, c] + integral[a, c])
            # exact integer threshold: mean_block > mean_image
            if s * (w * h) > total * ((b - a) * (d - c)):
                byte |= 1 << (7 - j)
        hash_bytes.append(byte)
    yield doc_id, bytes(hash_bytes).hex()


@register(
    "multimodal_phash_dedup",
    oracle=f"""
    WITH dims AS (
      SELECT doc_id, doc_id % 48 + 8 AS h FROM documents
      WHERE doc_id IS NOT NULL
    ),
    ph AS (
      SELECT doc_id, {_PHASH_ORACLE_BYTES} AS phash FROM dims
    ),
    clustered AS (
      SELECT doc_id, phash,
             CAST(count(*) OVER (PARTITION BY phash) AS BIGINT)    AS cluster_size,
             CAST(min(doc_id) OVER (PARTITION BY phash) AS BIGINT) AS rep_doc_id
      FROM ph
    )
    SELECT doc_id, phash, cluster_size, rep_doc_id,
           cluster_size > 1 AND doc_id <> rep_doc_id AS is_dup
    FROM clustered
    """,
    doc="Perceptual-hash (aHash) image NEAR-DUP DEDUP — the image analog of "
    "dedup_simhash, run over real decoded pixels: each P6 payload is "
    "decoded, reduced to grayscale (r+g+b integer sum — constants factor "
    "out of the mean comparison), block-mean pooled onto an 8x8 grid with "
    "floor(i*h/8) boundaries (np.add.reduceat, the real pooling kernel), "
    "and each block's bit is mean_block > mean_image evaluated in exact "
    "cross-multiplied integer form (block_sum * n_px > total_sum * "
    "block_px — no division, no float).  The 64 bits pack row-major "
    "MSB-first into a 16-hex-char hash; images then cluster by exact hash "
    "equality (count + min-id representative over a phash-partitioned "
    "window).  The fixture's gray plane is column-constant and row-linear "
    "(r + y + b), so every bit has the CLOSED FORM "
    "floor(i*h/8) + floor((i+1)*h/8) > h — identical across the 8 columns "
    "of a grid row, making each hash byte 0x00 or 0xff — which the oracle "
    "derives arithmetically from the base table; any pooling bug (bin "
    "edges, reshape order, threshold tie handling) flips bytes and fails "
    "the hash compare.  Scale: the payload never shuffles (narrow "
    "synthesize->decode->hash pipeline, blob projected away inside the "
    "kernel); the only exchange carries (doc_id, 8-byte hash) — the "
    "canonical fingerprint-keyed dedup shuffle, uniform by construction. "
    "For billion-image corpora the same hash feeds the banded Hamming "
    "join of dedup_simhash (16-bit bands -> bit_count(xor) verify) for "
    "near-duplicate clusters beyond exact equality.",
)
def multimodal_phash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    hashed = media_kernel(media_docs(spark, sf_dir), _PHASH_SCHEMA, synthesize_ppm, phash_ppm)
    w = W.partitionBy("phash")
    clustered = hashed.select(
        "doc_id",
        "phash",
        F.count(F.lit(1)).over(w).alias("cluster_size"),
        F.min("doc_id").over(w).alias("rep_doc_id"),
    )
    return clustered.withColumn(
        "is_dup", (F.col("cluster_size") > 1) & (F.col("doc_id") != F.col("rep_doc_id"))
    )


def synthesize_ppm_striped(doc_id, n_chars):
    """Striped variant of the PPM fixture: same constant r/b planes and
    vertical-gradient g plane, but with a BRIGHT STRIPE (g=255) across the
    grid-row band ``doc_id % 8`` — rows [ceil(k*h/8), ceil((k+1)*h/8)).
    The stripe position survives 2x decimation, giving the perceptual-hash
    operators a corpus with genuinely DIVERSE hashes (stripe x boundary
    effects) instead of the gradient's two."""
    w = int(n_chars) % 64 + 8
    h = int(doc_id) % 48 + 8
    k = int(doc_id) % 8
    lo, hi = (k * h + 7) // 8, ((k + 1) * h + 7) // 8
    g = (np.arange(h, dtype=np.int64) % 256).astype(np.uint8)
    g[lo:hi] = 255
    px = np.empty((h, w, 3), dtype=np.uint8)
    px[:, :, 0] = int(doc_id) % 256
    px[:, :, 1] = g[:, None]
    px[:, :, 2] = (int(doc_id) * 31) % 256
    yield doc_id, _ppm_bytes(px)


def _tri(x: str) -> str:
    """Triangular number sum(0..x-1) = x*(x-1)/2, exact integer SQL."""
    return f"(({x}) * (({x}) - 1) // 2)"


def _nib_sql(ww: str, js: range) -> str:
    """Nibble of column-block-nonempty bits for grid cols ``js`` (weights
    8,4,2,1): column block j is empty iff floor(j*w/8)==floor((j+1)*w/8)."""
    return " + ".join(
        f"(CASE WHEN ({j} * {ww}) // 8 < ({j + 1} * {ww}) // 8 "
        f"THEN {1 << (3 - idx)} ELSE 0 END)"
        for idx, j in enumerate(js)
    )


def _phash_striped_sql(scale: int) -> str:
    """Closed-form phash of a striped fixture image (or its 2x decimation
    when scale=2), as a SELECT producing (doc_id, phash) from CTE ``p1``
    (columns doc_id, h, w, lo, hi — stripe bounds on ORIGINAL rows).

    Derivation: gray(y) = r + g(y) + b with constant r/b planes and
    column-uniform g, so in the block-vs-image mean comparison the
    constants AND the column extent cancel, leaving per grid row [a,b):
    bit = b > a AND RG(a,b) * H > RG(0,H) * (b-a), where RG is the g-plane
    row sum — scale*(tri(b)-tri(a)) with the stripe-overlapped rows'
    gradient values swapped for 255s.  The decimated image's row y' is
    original row 2y' (g = 2y' or 255; stripe range [ceil(lo/2),
    ceil(hi/2))).  A grid row/column whose floor boundaries coincide is
    empty -> bit 0, mirroring the integral-image kernel; empty column
    blocks zero that bit in every byte via the nib0/nib1 masks."""
    if scale == 1:
        hh, ww, flo, fhi = "h", "w", "lo", "hi"
    else:
        hh, ww = "((h + 1) // 2)", "((w + 1) // 2)"
        flo, fhi = "((lo + 1) // 2)", "((hi + 1) // 2)"
    rgtot = (
        f"{scale} * ({_tri('hh2')} - ({_tri('fhi2')} - {_tri('flo2')}))"
        " + 255 * (fhi2 - flo2)"
    )
    rg = (
        f"{scale} * ({_tri('b')} - {_tri('a')})"
        " - CASE WHEN least(b, fhi2) - greatest(a, flo2) > 0"
        f" THEN {scale} * ({_tri('least(b, fhi2)')} - {_tri('greatest(a, flo2)')})"
        " - 255 * (least(b, fhi2) - greatest(a, flo2))"
        " ELSE 0 END"
    )
    return f"""
      SELECT doc_id, string_agg(byte_hex, '' ORDER BY i) AS phash
      FROM (
        SELECT doc_id, i,
               CASE WHEN b > a AND ({rg}) * hh2 > rgtot * (b - a)
                    THEN substr('0123456789abcdef', nib0 + 1, 1)
                         || substr('0123456789abcdef', nib1 + 1, 1)
                    ELSE '00' END AS byte_hex
        FROM (
          SELECT doc_id, i, hh2, flo2, fhi2, rgtot, nib0, nib1,
                 (i * hh2) // 8 AS a, ((i + 1) * hh2) // 8 AS b
          FROM (
            SELECT doc_id, hh2, flo2, fhi2, nib0, nib1, {rgtot} AS rgtot
            FROM (
              SELECT doc_id, {hh} AS hh2, {flo} AS flo2, {fhi} AS fhi2,
                     {_nib_sql(ww, range(0, 4))} AS nib0,
                     {_nib_sql(ww, range(4, 8))} AS nib1
              FROM p1
            )
          ) CROSS JOIN (SELECT unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i)
        )
      )
      GROUP BY doc_id
    """


_PHASH_HAMMING_SQL = " + ".join(
    f"bit_count(xor(CAST('0x' || substr(o.phash, {i * 4 + 1}, 4) AS INTEGER), "
    f"CAST('0x' || substr(t.phash, {i * 4 + 1}, 4) AS INTEGER)))"
    for i in range(4)
)


@register(
    "multimodal_phash_thumbnail_match",
    oracle=f"""
    WITH p1 AS (
      SELECT doc_id,
             doc_id % 48 + 8 AS h,
             n_chars % 64 + 8 AS w,
             ((doc_id % 8) * (doc_id % 48 + 8) + 7) // 8 AS lo,
             ((doc_id % 8 + 1) * (doc_id % 48 + 8) + 7) // 8 AS hi
      FROM documents
      WHERE doc_id IS NOT NULL
    ),
    ph_o AS ({_phash_striped_sql(1)}),
    ph_t AS ({_phash_striped_sql(2)}),
    t_counts AS (
      SELECT phash, CAST(count(*) AS BIGINT) AS n_thumb
      FROM ph_t GROUP BY phash
    ),
    o_dist AS (SELECT DISTINCT phash FROM ph_o),
    pairs AS (
      SELECT o.phash AS phash_o, t.n_thumb,
             CAST({_PHASH_HAMMING_SQL} AS INTEGER) AS hamming
      FROM o_dist o CROSS JOIN t_counts t
    ),
    matched AS (
      SELECT phash_o, CAST(min(hamming) AS INTEGER) AS best_hamming,
             CAST(sum(n_thumb) AS BIGINT) AS n_thumb_matches
      FROM pairs WHERE hamming <= 8 GROUP BY phash_o
    )
    SELECT p.doc_id, p.phash, m.best_hamming,
           coalesce(m.n_thumb_matches, 0) AS n_thumb_matches
    FROM ph_o p LEFT JOIN matched m ON p.phash = m.phash_o
    """,
    doc="Scale-invariant THUMBNAIL DETECTION via banded Hamming join over "
    "perceptual hashes — the cross-collection image near-dup search: hash "
    "every striped-fixture original (synthesize -> aHash) and every "
    "2x-decimated thumbnail (synthesize -> REAL nearest-neighbor resize -> "
    "aHash) with the same integral-image pooling kernel, then for each "
    "original report whether a perceptually-matching thumbnail exists "
    "(Hamming <= 8 of 64 bits), the best distance, and how many "
    "thumbnails match.  The striped fixture (bright band at grid row "
    "doc_id%8) yields a genuinely diverse hash corpus (dozens of distinct "
    "hashes, stripe position preserved under decimation) and the oracle "
    "derives BOTH hash sets arithmetically — gradient + stripe row sums "
    "in exact triangular-number form, empty-block semantics for "
    "sub-grid thumbnails included — so any kernel bug (pooling bounds, "
    "integral-image indexing, threshold ties, byte packing) flips hex "
    "chars and fails the hash compare.  The match runs at the "
    "DISTINCT-HASH level, LSH-banded: each 64-bit hash splits into four "
    "16-bit bands (conv on 4-hex-char slices), candidates equi-join on "
    "(band_idx, band_value), survivors verify with bit_count(xor) summed "
    "over the bands — never an all-pairs scan of the corpus.  The DuckDB "
    "oracle computes ground truth from the UNbanded distinct-hash cross "
    "join, so any recall loss in the banding is a red row — at Hamming "
    "<= 8 a miss requires all four bands touched, impossible for the "
    "row-structured differences these images produce.  Scale: payload "
    "bytes stay in narrow synthesize/resize/hash stages; the exchanges "
    "carry (doc_id, 8-byte hash); the distinct-hash match tables "
    "(corpus-bounded) broadcast back onto per-doc rows.",
)
def multimodal_phash_thumbnail_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = media_docs(spark, sf_dir)
    orig = media_kernel(docs, _PHASH_SCHEMA, synthesize_ppm_striped, phash_ppm)
    thumbs = media_kernel(docs, _PHASH_SCHEMA, synthesize_ppm_striped, resize_ppm, phash_ppm)

    t_counts = thumbs.groupBy("phash").agg(F.count(F.lit(1)).alias("n_thumb"))
    o_dist = orig.select("phash").distinct()

    def band(col: str, i: int):
        return F.conv(F.substring(col, i * 4 + 1, 4), 16, 10).cast("int")

    def bands(df: DataFrame, side: str) -> DataFrame:
        renamed = df.withColumnRenamed("phash", f"phash_{side}")
        return renamed.select(
            "*",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("band_idx"),
                            band(f"phash_{side}", i).alias("band_val"),
                        )
                        for i in range(4)
                    ]
                )
            ).alias("b"),
        ).select(*renamed.columns, "b.band_idx", "b.band_val")

    cand = (
        bands(o_dist, "o")
        .join(F.broadcast(bands(t_counts, "t")), ["band_idx", "band_val"])
        .select("phash_o", "phash_t", "n_thumb")
        .distinct()
    )
    hamming = sum(
        F.bit_count(band("phash_o", i).bitwiseXOR(band("phash_t", i)))
        for i in range(4)
    ).cast("int")
    matched = (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 8)
        .groupBy("phash_o")
        .agg(
            F.min("hamming").cast("int").alias("best_hamming"),
            F.sum("n_thumb").alias("n_thumb_matches"),
        )
    )
    return orig.join(
        F.broadcast(matched), orig["phash"] == matched["phash_o"], "left"
    ).select(
        "doc_id",
        "phash",
        "best_hamming",
        F.coalesce(F.col("n_thumb_matches"), F.lit(0)).alias("n_thumb_matches"),
    )


def synthesize_video(doc_id, n_chars):
    """Fixture-side encoder: a 4-9 frame 'video' of CONCATENATED P6 PPM
    frames with scene cuts at frames floor(F/3) and floor(2F/3), where
    the g-plane base jumps by 60."""
    doc_id, n_chars = int(doc_id), int(n_chars)
    nf = doc_id % 6 + 4
    w, h = n_chars % 32 + 8, doc_id % 24 + 8
    c1, c2 = nf // 3, (2 * nf) // 3
    frames = []
    for f in range(nf):
        scene = (f >= c1) + (f >= c2)
        g = (10 + 60 * scene + np.arange(h, dtype=np.int64)).astype(np.uint8)
        px = np.empty((h, w, 3), dtype=np.uint8)
        px[:, :, 0] = doc_id % 256
        px[:, :, 1] = g[:, None]
        px[:, :, 2] = (doc_id * 31) % 256
        frames.append(_ppm_bytes(px))
    yield doc_id, b"".join(frames)


def detect_shots(doc_id, payload):
    """Walk a concatenated-P6 container frame by frame, reduce each frame
    to its doubled mean intensity ((2*graysum) // npx), and emit one
    (doc_id, cut_frame, mean_before_x2, mean_after_x2) row per adjacent
    pair whose doubled means differ by more than 60."""
    pos, means = 0, []
    while pos < len(payload):
        w, h, px, pos = parse_ppm(doc_id, payload, pos)
        means.append(2 * int(px.sum(dtype=np.int64)) // (w * h))
    for f in range(1, len(means)):
        if abs(means[f] - means[f - 1]) > 60:
            yield doc_id, f, means[f - 1], means[f]


@register(
    "multimodal_shot_boundaries",
    oracle="""
    WITH p AS (
      SELECT doc_id,
             doc_id % 6 + 4                              AS nf,
             doc_id % 24 + 8                             AS h,
             doc_id % 256 + (doc_id * 31) % 256          AS cc
      FROM documents
      WHERE doc_id IS NOT NULL
    )
    SELECT doc_id, CAST(nf // 3 AS INT) AS cut_frame,
           CAST(2 * (cc + 10) + (h - 1) AS BIGINT)       AS mean_before_x2,
           CAST(2 * (cc + 70) + (h - 1) AS BIGINT)       AS mean_after_x2
    FROM p
    UNION ALL
    SELECT doc_id, CAST((2 * nf) // 3 AS INT) AS cut_frame,
           CAST(2 * (cc + 70) + (h - 1) AS BIGINT)       AS mean_before_x2,
           CAST(2 * (cc + 130) + (h - 1) AS BIGINT)      AS mean_after_x2
    FROM p
    """,
    doc="VIDEO SHOT-BOUNDARY DETECTION over a real multi-frame container: "
    "each document synthesizes a 4-9 frame 'video' as CONCATENATED P6 PPM "
    "frames (the MJPEG-style frame-sequence layout), with two scene cuts "
    "at frames floor(F/3) and floor(2F/3) where the g-plane base jumps by "
    "60; the detector then genuinely WALKS the container — parsing each "
    "variable-length frame header at its byte offset, validating the "
    "pixel-buffer length, advancing past it — decodes every frame to its "
    "exact doubled mean intensity ((2*graysum) // npx, integer-exact "
    "because w*h | 2*w*tri(h)), and flags frame pairs whose doubled-mean "
    "delta exceeds 60 (true cuts differ by exactly 120, within-scene "
    "pairs by 0).  A wrong header regex, frame offset, or buffer stride "
    "desynchronizes the walk and produces missing/spurious cuts against "
    "the closed-form oracle (cut positions AND both scene means derived "
    "arithmetically).  Scale: the whole detect is ONE narrow mapInPandas "
    "stage — frame bytes never leave their partition, and only "
    "(doc_id, cut_frame, two means) rows emerge; the shape that must "
    "hold when each video is gigabytes.",
)
def multimodal_shot_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(
        media_docs(spark, sf_dir),
        "doc_id bigint, cut_frame int, mean_before_x2 bigint, mean_after_x2 bigint",
        synthesize_video,
        detect_shots,
    )


TIFF_META_SCHEMA = (
    "doc_id bigint, byte_order string, n_entries int, width bigint, "
    "height bigint, bits int, compression int, orientation int"
)


def synthesize_tiff(doc_id, n_chars):
    """Fixture-side encoder: a REAL baseline-TIFF header per row — 'II'
    (little-endian) for even doc_ids, 'MM' (big-endian) for odd, magic 42,
    one IFD of five ascending-tag entries (ImageWidth/ImageLength/
    BitsPerSample/Compression/Orientation).  Mixed endianness across one
    corpus is exactly what real scanned-document collections look like."""
    doc_id, n_chars = int(doc_id), int(n_chars)
    e = "<" if doc_id % 2 == 0 else ">"
    entries = [
        (256, doc_id % 200 + 16),   # ImageWidth
        (257, n_chars % 100 + 8),   # ImageLength
        (258, 8),                   # BitsPerSample
        (259, 1),                   # Compression
        (274, doc_id % 8 + 1),      # Orientation
    ]
    ifd = struct.pack(e + "H", len(entries))
    for tag, val in entries:
        # type 3 = SHORT, count 1; the value sits LEFT-JUSTIFIED in
        # the 4-byte value field (first two bytes in BOTH byte
        # orders) — the classic TIFF-walker gotcha
        ifd += struct.pack(e + "HHI", tag, 3, 1) + struct.pack(e + "H", val) + b"\x00\x00"
    ifd += struct.pack(e + "I", 0)  # no next IFD
    hdr = (b"II" if e == "<" else b"MM") + struct.pack(e + "HI", 42, 8)
    yield doc_id, hdr + ifd


def decode_tiff(doc_id, payload):
    """Endianness-aware IFD walk: byte-order probe, magic check, entry
    iteration with per-entry (tag, type, count, value) decode.  Raises on
    any malformed container rather than emitting garbage."""
    doc_id = int(doc_id)
    bom = bytes(payload[:2])
    if bom == b"II":
        e = "<"
    elif bom == b"MM":
        e = ">"
    else:
        raise ValueError(f"doc {doc_id}: bad byte-order mark {bom!r}")
    magic, off = struct.unpack_from(e + "HI", payload, 2)
    if magic != 42:
        raise ValueError(f"doc {doc_id}: bad TIFF magic {magic}")
    (n,) = struct.unpack_from(e + "H", payload, off)
    tags = {}
    for i in range(n):
        tag, typ, cnt = struct.unpack_from(e + "HHI", payload, off + 2 + 12 * i)
        if typ != 3 or cnt != 1:
            raise ValueError(f"doc {doc_id}: unsupported entry {tag}/{typ}/{cnt}")
        (val,) = struct.unpack_from(e + "H", payload, off + 2 + 12 * i + 8)
        tags[tag] = val
    (nxt,) = struct.unpack_from(e + "I", payload, off + 2 + 12 * n)
    if nxt != 0:
        raise ValueError(f"doc {doc_id}: chained IFDs unsupported")
    yield (doc_id, bom.decode(), n, *(tags[t] for t in (256, 257, 258, 259, 274)))


@register(
    "multimodal_tiff_metadata",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
           5                                    AS n_entries,
           CAST(doc_id % 200 + 16 AS BIGINT)    AS width,
           CAST(n_chars % 100 + 8 AS BIGINT)    AS height,
           8                                    AS bits,
           1                                    AS compression,
           CAST(doc_id % 8 + 1 AS INT)          AS orientation
    FROM documents
    WHERE doc_id IS NOT NULL
    """,
    doc="REAL TIFF/EXIF-style METADATA WALK, fully oracle-verified: "
    "synthesize a baseline-TIFF header per document — half the corpus "
    "little-endian ('II'), half big-endian ('MM'), the mixed-endianness "
    "reality of scanned archives — then walk the IFD in the same "
    "mapInPandas crossing: byte-order probe, magic-42 check, 12-byte entry "
    "decode (tag/type/count + the LEFT-JUSTIFIED short-in-value-field "
    "rule that breaks naive walkers on big-endian files).  This is the "
    "structured-binary STRUCT-WALKING pattern (EXIF, BMFF boxes, ID3) "
    "that complements the PPM/WAV SAMPLE decoders: no pixel data, pure "
    "metadata extraction.  All five tags round-trip to DuckDB closed "
    "forms.  Scale: the two steps run as one narrow pass — payloads "
    "never shuffle, and at 100 TB the walker reads only the first KB of "
    "each blob (header-range reads against object storage).",
)
def multimodal_tiff_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(media_docs(spark, sf_dir), TIFF_META_SCHEMA, synthesize_tiff, decode_tiff)


PNG_DECODED_SCHEMA = (
    "doc_id bigint, width int, height int, bit_depth int, color_type int, "
    "n_chunks int, crc_ok boolean, px_sum bigint"
)


def _png_chunk(tag: bytes, body: bytes) -> bytes:
    return (
        struct.pack(">I", len(body))
        + tag
        + body
        + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
    )


def synthesize_png(doc_id, n_chars):
    """Fixture-side encoder: a REAL grayscale PNG per row — 8-byte
    signature, IHDR, one zlib-DEFLATE-compressed IDAT of filter-0
    scanlines with pixel (x + 3y + doc_id) % 256, IEND; every chunk
    carries its real CRC32."""
    doc_id, n_chars = int(doc_id), int(n_chars)
    w, h = doc_id % 24 + 4, n_chars % 16 + 4
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    raw = b"".join(
        b"\x00" + bytes((x + 3 * y + doc_id) % 256 for x in range(w))
        for y in range(h)
    )
    yield doc_id, (
        b"\x89PNG\r\n\x1a\n"
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(raw, 6))
        + _png_chunk(b"IEND", b"")
    )


def decode_png(doc_id, payload):
    """Chunk walk + INTEGRITY pass: verify the signature and every chunk's
    CRC32, parse IHDR, inflate IDAT, strip filter bytes, sum pixels."""
    doc_id = int(doc_id)
    if bytes(payload[:8]) != b"\x89PNG\r\n\x1a\n":
        raise ValueError(f"doc {doc_id}: bad PNG signature")
    pos, n_chunks, crc_ok = 8, 0, True
    ihdr = idat = None
    while pos < len(payload):
        (ln,) = struct.unpack_from(">I", payload, pos)
        tag = bytes(payload[pos + 4 : pos + 8])
        body = bytes(payload[pos + 8 : pos + 8 + ln])
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + ln)
        crc_ok = crc_ok and (zlib.crc32(tag + body) & 0xFFFFFFFF) == crc
        if tag == b"IHDR":
            ihdr = struct.unpack(">IIBBBBB", body)
        elif tag == b"IDAT":
            idat = body
        n_chunks += 1
        pos += 12 + ln
        if tag == b"IEND":
            break
    if ihdr is None or idat is None:
        raise ValueError(f"doc {doc_id}: missing IHDR/IDAT")
    w, h, depth, ctype = ihdr[0], ihdr[1], ihdr[2], ihdr[3]
    # CRC gates the inflate: a corrupted IDAT must surface as
    # crc_ok=false, never as a zlib crash mid-job
    px_sum = None
    if crc_ok:
        raw = zlib.decompress(idat)
        if len(raw) != h * (w + 1):
            raise ValueError(f"doc {doc_id}: inflated size {len(raw)} != {h}x({w}+1)")
        px_sum = 0
        for y in range(h):
            row = raw[y * (w + 1) : (y + 1) * (w + 1)]
            if row[0] != 0:
                raise ValueError(f"doc {doc_id}: unsupported filter {row[0]}")
            px_sum += sum(row[1:])
    yield doc_id, w, h, depth, ctype, n_chunks, bool(crc_ok), px_sum


@register(
    "multimodal_png_integrity",
    oracle="""
    SELECT doc_id,
           CAST(doc_id % 24 + 4 AS INT)   AS width,
           CAST(n_chars % 16 + 4 AS INT)  AS height,
           8                              AS bit_depth,
           0                              AS color_type,
           3                              AS n_chunks,
           TRUE                           AS crc_ok,
           CAST((SELECT sum((x.x + 3 * y.y + doc_id) % 256)
                 FROM unnest(generate_series(0, doc_id % 24 + 3)) AS x(x),
                      unnest(generate_series(0, n_chars % 16 + 3)) AS y(y))
                AS BIGINT)                AS px_sum
    FROM documents
    WHERE doc_id IS NOT NULL
    """,
    doc="REAL PNG ENCODE/DECODE with INTEGRITY VERIFICATION — the full "
    "compressed-container round trip the PPM path (uncompressed) "
    "cannot show: per document a genuine grayscale PNG is built "
    "(signature, IHDR, zlib-DEFLATE IDAT of filter-0 scanlines, IEND, "
    "REAL CRC32 on every chunk), then the same mapInPandas crossing walks "
    "the chunks, re-computes every CRC32, INFLATES the pixel stream, "
    "validates filter bytes and buffer size, and sums pixels — dims "
    "and the pixel-gradient checksum land on DuckDB closed forms "
    "(the oracle re-derives px_sum from the (x+3y+d)%256 gradient via "
    "a generate_series double spine).  zlib is lossless, so the "
    "compression layer is transparent to the oracle by construction — "
    "exactly why real pipelines checksum AFTER decode.  Scale: "
    "synthesize->decode fuse into one narrow Arrow pass, payloads "
    "never shuffle; CRC failures surface as crc_ok=false rows, not "
    "job aborts.",
)
def multimodal_png_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(media_docs(spark, sf_dir), PNG_DECODED_SCHEMA, synthesize_png, decode_png)


BMFF_WALK_SCHEMA = "doc_id bigint, box_path string, box_size bigint, depth int"


def _bmff_box(tag: bytes, body: bytes) -> bytes:
    return struct.pack(">I", len(body) + 8) + tag + body


def synthesize_bmff(doc_id, n_chars):
    """Fixture-side encoder: a minimal ISO BMFF (MP4-style) container per
    row — ftyp, then a NESTED moov(mvhd, trak(tkhd)) tree, then an mdat
    whose payload length is doc-dependent.  Every box is (u32 size,
    4-char type, body), sizes include the 8-byte header."""
    doc_id, n_chars = int(doc_id), int(n_chars)
    ftyp = _bmff_box(b"ftyp", b"isom\x00\x00\x02\x00isomiso2")
    tkhd = _bmff_box(b"tkhd", struct.pack(">Q", doc_id))
    mvhd = _bmff_box(b"mvhd", struct.pack(">I", n_chars % 100000))
    trak = _bmff_box(b"trak", tkhd)
    moov = _bmff_box(b"moov", mvhd + trak)
    mdat = _bmff_box(b"mdat", bytes([doc_id % 7 + 1]) * (n_chars % 50 + 1))
    yield doc_id, ftyp + moov + mdat


_BMFF_CONTAINERS = {b"moov", b"trak"}  # boxes whose body is more boxes


def walk_bmff(doc_id, buf, pos=0, end=None, path="", depth=0):
    """Recursive box walk: container boxes (moov, trak) recurse into their
    body; every box emits (doc_id, path, size, depth), parent before
    children.  Rejects truncated or misaligned boxes instead of emitting
    garbage."""
    doc_id = int(doc_id)
    end = len(buf) if end is None else end
    while pos < end:
        if end - pos < 8:
            raise ValueError(f"doc {doc_id}: truncated box header at {pos}")
        (size,) = struct.unpack_from(">I", buf, pos)
        tag = bytes(buf[pos + 4 : pos + 8])
        if size < 8 or pos + size > end:
            raise ValueError(f"doc {doc_id}: bad box size {size} at {pos}")
        p = f"{path}/{tag.decode()}"
        yield doc_id, p, size, depth
        if tag in _BMFF_CONTAINERS:
            yield from walk_bmff(doc_id, buf, pos + 8, pos + size, p, depth + 1)
        pos += size


@register(
    "multimodal_bmff_box_walk",
    oracle="""
    SELECT doc_id, b.p AS box_path, b.s AS box_size, b.d AS depth
    FROM documents,
    LATERAL (
      SELECT * FROM (VALUES
        ('/ftyp', CAST(24 AS BIGINT), 0),
        ('/moov', CAST(8 + (8 + 4) + (8 + (8 + 8)) AS BIGINT), 0),
        ('/moov/mvhd', CAST(12 AS BIGINT), 1),
        ('/moov/trak', CAST(24 AS BIGINT), 1),
        ('/moov/trak/tkhd', CAST(16 AS BIGINT), 2),
        ('/mdat', CAST(8 + (n_chars % 50 + 1) AS BIGINT), 0)
      ) t(p, s, d)
    ) b
    WHERE doc_id IS NOT NULL
    """,
    doc="ISO BMFF (MP4-family) BOX-TREE WALK — the NESTED container "
    "grammar the flat TIFF IFD walk cannot express: boxes are (size, "
    "type, body) where container boxes (moov, trak) hold more boxes, so "
    "the walker recurses with strict bounds checking (truncated or "
    "size-overflowing boxes raise, they don't emit garbage) and emits "
    "each box's PATH (/moov/trak/tkhd), size and depth — exactly what a "
    "video-ingest pipeline reads to find track metadata before ever "
    "touching the mdat payload.  Structure is deterministic per doc, so "
    "the oracle states the whole tree in closed form (mdat's size "
    "carries the doc-dependent payload length).  Completes the binary-"
    "container family: PPM (raw), WAV (chunked), TIFF (flat directory), "
    "PNG (checksummed+compressed), BMFF (recursive).  Scale: one narrow "
    "Arrow pass, payload bytes never shuffle; at real MP4 sizes the "
    "walker reads box headers only — range requests, not full blobs.",
)
def multimodal_bmff_box_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return media_kernel(media_docs(spark, sf_dir), BMFF_WALK_SCHEMA, synthesize_bmff, walk_bmff)
