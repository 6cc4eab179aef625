"""Multimodal plumbing tests: binary column, metadata struct, mapInPandas
decode contract (real PPM/WAV kernels), column-pruning behavior."""

import pytest

from gcp_cloudsql_to_bigquery_spark.catalog import load
from gcp_cloudsql_to_bigquery_spark.operators import multimodal
from gcp_cloudsql_to_bigquery_spark.operators.multimodal import as_media_table
from gcp_cloudsql_to_bigquery_spark.workload import queries
from tests.conftest import SF0001


def test_media_table_schema(spark):
    media = as_media_table(load(spark, SF0001, "documents"))
    kinds = dict(media.dtypes)
    assert kinds["payload"] == "binary"
    assert kinds["media_type"] == "string"
    assert kinds["meta"].startswith("struct<origin:string,content_length:bigint,lang:string")


def test_decode_features_routes_by_media_type(spark):
    rows = queries()["multimodal_decode_features"](spark, SF0001).collect()
    by_id = {r.doc_id: r for r in rows}
    # one feature row per non-video payload, each decoded by its own kernel
    docs = load(spark, SF0001, "documents").select("doc_id").collect()
    expect = {r.doc_id for r in docs if r.doc_id % 3 in (0, 1)}
    assert set(by_id) == expect
    for r in rows:
        if r.doc_id % 3 == 0:
            assert r.media_type == "image/ppm"
            assert r.width is not None and r.height is not None
            assert r.n_samples is None
        else:
            assert r.media_type == "audio/wav"
            assert r.width is None and r.height is None
            assert r.n_samples is not None and r.n_samples >= 100


def test_metadata_query_prunes_payload(spark):
    # metadata rollup must not read the payload bytes except octet_length;
    # check the scan's ReadSchema doesn't include the full text column beyond
    # what the byte-length needs — structural: plan contains no mapInPandas
    df = queries()["multimodal_metadata_stats"](spark, SF0001)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan


def test_decode_projects_payload_away(spark):
    out = queries()["multimodal_decode_features"](spark, SF0001)
    assert "payload" not in out.columns


def test_ppm_decode_rejects_corrupt_payloads():
    """The real decoder must fail loudly on malformed headers and on
    truncated pixel buffers — silent garbage means silent wrong features."""
    import pytest as _pytest

    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import decode_ppm

    with _pytest.raises(ValueError, match="not a P6"):
        list(decode_ppm(1, b"JFIF\x00\x01garbage"))

    with _pytest.raises(ValueError, match="pixel buffer"):
        list(decode_ppm(2, b"P6\n4 4\n255\n" + b"\x00" * 10))


def test_wav_decode_rejects_corrupt_payloads():
    import struct

    import pytest as _pytest

    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import decode_wav

    with _pytest.raises(ValueError, match="not a RIFF"):
        list(decode_wav(1, b"OggS" + b"\x00" * 40))

    # valid container, no data chunk
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    with _pytest.raises(ValueError, match="missing fmt/data"):
        list(decode_wav(2, b"RIFF" + struct.pack("<I", len(body)) + body))


def test_resize_halves_dims_and_preserves_planes():
    """Pure-kernel check: resize(synthesize(x)) decodes to ceil-half dims
    with constant planes invariant and the gradient mean equal to k-1."""
    from gcp_cloudsql_to_bigquery_spark.operators.multimodal import (
        decode_ppm,
        resize_ppm,
        run_steps,
        synthesize_ppm,
    )

    src = [(7, 100), (123, 57), (4000, 999)]
    out = run_steps(src, synthesize_ppm, resize_ppm, decode_ppm)
    assert [row[0] for row in out] == [doc_id for doc_id, _ in src]
    for (doc_id, n_chars), (_, width, height, _n, mean_r, mean_g, mean_b) in zip(src, out):
        w, h = n_chars % 64 + 8, doc_id % 48 + 8
        assert width == (w + 1) // 2
        assert height == (h + 1) // 2
        assert mean_r == doc_id % 256
        assert mean_b == (doc_id * 31) % 256
        assert mean_g == (h + 1) // 2 - 1

    import pytest as _pytest

    with _pytest.raises(ValueError, match="not a P6"):
        list(resize_ppm(1, b"GIF89a..."))


_GOOD_P6 = b"P6\n2 2\n255\n" + bytes(12)


_PPM_CONSUMERS = ("decode_ppm", "resize_ppm", "phash_ppm", "ppm_histogram", "detect_shots")


@pytest.mark.parametrize(
    "kernel, payload, message",
    [(k, b"JFIF\x00\x01garbage", "not a P6") for k in _PPM_CONSUMERS]
    + [(k, b"P6\n4 4\n255\n" + bytes(10), "pixel buffer") for k in _PPM_CONSUMERS]
    # a truncated SECOND frame: the multi-frame walk must not stop short
    + [("detect_shots", _GOOD_P6 + b"P6\n4 4\n255\n" + bytes(10), "pixel buffer")]
    # single-image consumers: bytes after the pixel buffer are corruption
    + [(k, _GOOD_P6 + b"\x00", "trailing") for k in _PPM_CONSUMERS[:4]]
    + [("decimate_wav", b"OggS" + bytes(40), "not a RIFF")],
)
def test_media_kernels_reject_corrupt_payloads(kernel, payload, message):
    """Every PPM consumer shares parse_ppm's header and buffer-length
    checks, and the WAV resampler shares parse_wav_chunks' container
    check: each raises on a corrupt payload instead of emitting rows."""
    step = getattr(multimodal, kernel)
    with pytest.raises(ValueError, match=message):
        list(step(1, payload))
