from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from token_etl_spark.operators.multimodal import attach_binary_payload, decode_features


def _docs(spark):
    return spark.createDataFrame(
        [(0, "hello world"), (1, "spark engine"), (2, "")], ["doc_id", "text"]
    )


def test_payload_schema_and_metadata(spark):
    out = attach_binary_payload(_docs(spark))
    assert dict(out.dtypes)["payload"] == "binary"
    row = out.filter(F.col("doc_id") == 0).collect()[0]
    assert row["media_meta"]["byte_len"] == len(b"hello world")
    assert row["media_meta"]["media_type"] == "image/fake"


def test_decode_fake_is_deterministic(spark):
    payloads = attach_binary_payload(_docs(spark))
    a = {r["doc_id"]: (r["width"], r["height"], r["n_frames"]) for r in decode_features(payloads).collect()}
    b = {r["doc_id"]: (r["width"], r["height"], r["n_frames"]) for r in decode_features(payloads).collect()}
    assert a == b
    assert a[0] == (16 + 11, 16 + (b"h"[0] % 512), 1 + (11 % 7))


def test_decode_error_stub_raises(spark):
    payloads = attach_binary_payload(_docs(spark))
    with pytest.raises(Exception) as exc:
        decode_features(payloads, decode_stub="error").collect()
    assert "NotImplementedError" in str(exc.value) or "media decode" in str(exc.value)


def _png(w, h):
    import struct
    return b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR" + struct.pack(">II", w, h) + b"\x08\x02\x00\x00\x00"


def _gif(w, h):
    import struct
    return b"GIF89a" + struct.pack("<HH", w, h) + b"\x00" * 6


def _bmp(w, h, topdown=False):
    import struct
    return b"BM" + b"\x00" * 16 + struct.pack("<ii", w, -h if topdown else h) + b"\x00" * 8


def _jpeg(w, h):
    import struct
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" + b"\x00" * 9
    sof0 = b"\xff\xc0" + struct.pack(">H", 17) + b"\x08" + struct.pack(">HH", h, w) + b"\x03" + b"\x00" * 9
    return b"\xff\xd8" + app0 + sof0


def test_parse_image_header_real_formats():
    """Stdlib-only header parsing reads true dimensions from real
    format bytes — PNG IHDR, GIF screen descriptor, BMP info header
    (incl. top-down negative height), JPEG SOF scan past APP0."""
    from token_etl_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_png(640, 480)) == ("png", 640, 480)
    assert parse_image_header(_gif(320, 200)) == ("gif", 320, 200)
    assert parse_image_header(_bmp(1024, 768)) == ("bmp", 1024, 768)
    assert parse_image_header(_bmp(1024, 768, topdown=True)) == ("bmp", 1024, 768)
    assert parse_image_header(_jpeg(1920, 1080)) == ("jpeg", 1920, 1080)
    assert parse_image_header(b"plain text bytes") is None
    assert parse_image_header(b"") is None
    assert parse_image_header(b"\x89PNG\r\n\x1a\n tru") is None  # truncated


def test_parse_image_header_rejects_out_of_int32_dims():
    """Header-sniffed dims are untrusted (VERDICT r9 item 1): PNG's
    unsigned-32 fields can carry >= 2**31, and a top-down BMP height of
    exactly -2**31 abs()-es to +2**31 — both must be rejected (None →
    kind='unknown' downstream), never flow into the int32 columns where
    they crash Arrow serialization of the whole batch. Boundary values
    just inside the range stay accepted, zero dims are degenerate."""
    import struct

    from token_etl_spark.operators.multimodal import parse_image_header

    assert parse_image_header(_png(2**31, 1)) is None
    assert parse_image_header(_png(1, 2**32 - 1)) is None
    assert parse_image_header(_png(2**31 - 1, 2**31 - 1)) == ("png", 2**31 - 1, 2**31 - 1)
    assert parse_image_header(_png(0, 480)) is None  # zero dim = degenerate
    # BMP top-down height of INT32_MIN: struct.pack needs the raw value
    bmp_min = b"BM" + b"\x00" * 16 + struct.pack("<ii", 1, -(2**31)) + b"\x00" * 8
    assert parse_image_header(bmp_min) is None
    assert parse_image_header(_bmp(1, 2**31 - 1, topdown=True)) == ("bmp", 1, 2**31 - 1)
    assert parse_image_header(_bmp(0, 1)) is None


def test_decode_headers_mode_mixed_corpus(spark):
    """decode_stub='headers' extracts true dims for real image payloads
    inside the Arrow batch contract; non-image payloads fall back to the
    deterministic fake path; a payload CLAIMING a known format whose
    header is malformed (truncated, or dims out of int32 range) degrades
    to NULL dims — a fabricated mid-size dimension would let a malformed
    multi-gigapixel claim sail through a resolution filter (r10 review)."""
    import struct

    from token_etl_spark.operators.multimodal import decode_features

    overflow_png = (
        b"\x89PNG\r\n\x1a\n" + b"\x00" * 8 + struct.pack(">II", 2**31, 1)
    )
    rows = [
        (1, _png(640, 480), {"media_type": "image/png", "byte_len": 0, "checksum": "a"}),
        (2, _jpeg(32, 64), {"media_type": "image/jpeg", "byte_len": 0, "checksum": "b"}),
        (3, b"not an image", {"media_type": "text/plain", "byte_len": 0, "checksum": "c"}),
        (4, overflow_png, {"media_type": "image/png", "byte_len": 0, "checksum": "d"}),
        (5, b"\x89PNG\r\n\x1a\n tru", {"media_type": "image/png", "byte_len": 0, "checksum": "e"}),
        # short ASCII text starting with 'BM' is NOT a BMP claim (far
        # likelier prose than a truncated bitmap): fake path, full frame
        (6, b"BMW review: great", {"media_type": "text/plain", "byte_len": 0, "checksum": "f"}),
        # claims JPEG (FFD8) but has no SOF segment: NULLs, not fake dims
        (7, b"\xff\xd8garbage-no-sof", {"media_type": "image/jpeg", "byte_len": 0, "checksum": "g"}),
    ]
    df = spark.createDataFrame(
        rows,
        "doc_id long, payload binary, media_meta struct<media_type:string,byte_len:int,checksum:string>",
    )
    got = {r.doc_id: r for r in decode_features(df, decode_stub="headers").collect()}
    assert (got[1].width, got[1].height, got[1].n_frames) == (640, 480, 1)
    assert (got[2].width, got[2].height, got[2].n_frames) == (32, 64, 1)
    n = len(b"not an image")
    assert got[3].width == 16 + (n % 1024)  # fake-path fallback
    # malformed-but-claiming-PNG: NULLs, never fabricated dims
    assert (got[4].width, got[4].height, got[4].n_frames) == (None, None, None)
    assert (got[5].width, got[5].height, got[5].n_frames) == (None, None, None)
    # 'BM'-prefixed short text: fake path (no format claim)
    m = len(b"BMW review: great")
    assert got[6].width == 16 + (m % 1024)
    # FFD8 with no SOF: a JPEG claim that cannot be parsed → NULLs
    assert (got[7].width, got[7].height, got[7].n_frames) == (None, None, None)


def _wav_bytes(freq=440.0, rate=8000, n=800, amp=0.5):
    import io
    import wave

    import numpy as np

    t = np.arange(n) / rate
    samples = (amp * np.sin(2 * np.pi * freq * t) * 32767).astype(np.int16)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(rate)
        w.writeframes(samples.tobytes())
    return buf.getvalue(), samples


def test_decode_wav_real_samples():
    import numpy as np

    from token_etl_spark.operators.multimodal import decode_wav

    payload, samples = _wav_bytes()
    got = decode_wav(payload)
    assert got["n_channels"] == 1 and got["sample_rate"] == 8000
    assert got["n_samples"] == 800 and abs(got["duration_s"] - 0.1) < 1e-9
    ref = samples.astype(np.float64) / 32768.0
    assert abs(got["rms"] - float(np.sqrt(np.mean(ref**2)))) < 1e-12
    assert abs(got["peak"] - float(np.max(np.abs(ref)))) < 1e-12
    assert decode_wav(b"not audio at all") is None


def test_decode_encode_ppm_roundtrip_and_comments():
    import numpy as np

    from token_etl_spark.operators.multimodal import decode_ppm, encode_ppm

    arr = np.arange(2 * 3 * 3, dtype=np.uint8).reshape(2, 3, 3)
    assert np.array_equal(decode_ppm(encode_ppm(arr)), arr)
    # header comments are legal Netpbm
    withc = b"P6\n# a comment\n3 2\n255\n" + arr.tobytes()
    assert np.array_equal(decode_ppm(withc), arr)
    gray = np.array([[0, 128], [255, 7]], dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(gray)), gray)
    assert decode_ppm(b"P6\n3 2\n65535\n" + b"\x00" * 36) is None  # 16-bit out of scope
    assert decode_ppm(b"hello") is None


def test_nearest_resize_picks_expected_pixels():
    import numpy as np

    from token_etl_spark.operators.multimodal import nearest_resize

    arr = np.array([[1, 2], [3, 4]], dtype=np.uint8)
    up = nearest_resize(arr, 4, 4)
    assert up.shape == (4, 4)
    # index map for 2 -> 4 is [0, 0, 1, 1]: each source pixel becomes a 2x2 block
    want = np.array(
        [[1, 1, 2, 2], [1, 1, 2, 2], [3, 3, 4, 4], [3, 3, 4, 4]], dtype=np.uint8
    )
    assert np.array_equal(up, want)
    down = nearest_resize(arr, 1, 1)
    assert down[0, 0] == 1  # nearest of the top-left region


def test_extract_media_features_dispatches_real_decoders(spark):
    import numpy as np

    from token_etl_spark.operators.multimodal import (
        encode_ppm,
        extract_media_features,
    )

    wav, samples = _wav_bytes()
    solid = np.full((4, 6, 3), 100, dtype=np.uint8)
    png = b"\x89PNG\r\n\x1a\n" + b"\x00\x00\x00\rIHDR" + (64).to_bytes(4, "big") + (32).to_bytes(4, "big")
    rows = [
        (1, bytearray(wav)),
        (2, bytearray(encode_ppm(solid))),
        (3, bytearray(png)),
        (4, bytearray(b"opaque junk")),
    ]
    df = spark.createDataFrame(rows, "doc_id long, payload binary")
    got = {r["doc_id"]: r.asDict() for r in extract_media_features(df).collect()}
    assert got[1]["kind"] == "wav" and got[1]["sample_rate"] == 8000
    ref = samples.astype("float64") / 32768.0
    assert abs(got[1]["rms"] - float(np.sqrt(np.mean(ref**2)))) < 1e-9
    assert got[2]["kind"] == "ppm" and (got[2]["width"], got[2]["height"]) == (6, 4)
    assert abs(got[2]["mean_luma"] - 100.0) < 1e-9  # luma weights sum to 1
    assert got[3]["kind"] == "png" and (got[3]["width"], got[3]["height"]) == (64, 32)
    assert got[3]["mean_luma"] is None  # pixels need a codec — honest NULL
    assert got[4]["kind"] == "unknown"


def test_resize_raw_images_real_netpbm_path(spark):
    import numpy as np

    from token_etl_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_raw_images,
    )

    quad = np.zeros((2, 2, 3), dtype=np.uint8)
    quad[0, 0] = 10
    quad[0, 1] = 20
    quad[1, 0] = 30
    quad[1, 1] = 40
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(quad))), (2, bytearray(b"not an image"))],
        "doc_id long, payload binary",
    )
    got = {r["doc_id"]: r for r in resize_raw_images(df, 4, 4).collect()}
    out = decode_ppm(bytes(got[1]["payload"]))
    assert out.shape == (4, 4, 3)
    assert np.array_equal(out[0, 0], quad[0, 0]) and np.array_equal(out[3, 3], quad[1, 1])
    assert got[2]["payload"] is None  # compressed/unknown: honest NULL, not fake


def test_media_features_tolerate_null_and_truncated_payloads(spark):
    """Review r8: NULL payloads (e.g. resize_raw_images' pass-through
    for non-Netpbm rows) and truncated WAVs must degrade, never crash —
    the two stages compose."""
    import numpy as np

    from token_etl_spark.operators.multimodal import (
        decode_wav,
        encode_ppm,
        extract_media_features,
        resize_raw_images,
    )

    wav, _ = _wav_bytes()
    truncated = wav[:-1]  # splits the final 16-bit frame
    got = decode_wav(truncated)
    assert got is not None and got["n_channels"] == 1  # trimmed, not raised
    assert decode_wav(None) is None

    quad = np.full((2, 2, 3), 9, dtype=np.uint8)
    df = spark.createDataFrame(
        [(1, bytearray(encode_ppm(quad))), (2, bytearray(b"not media")), (3, None)],
        "doc_id long, payload binary",
    )
    resized = resize_raw_images(df, 4, 4)
    feats = {r["doc_id"]: r["kind"] for r in extract_media_features(resized).collect()}
    assert feats[1] == "ppm" and feats[2] == "unknown" and feats[3] == "unknown"


def test_pixel_query_payload_synthesis_matches_python_md5(spark):
    """ext_multimodal_pixels' in-engine P5 synthesis: header + the 16
    md5 bytes as an 8x2 gray image; mean_luma is the byte mean and the
    4x1 nearest resize picks row-0 columns (0,2,4,6) — pinned against a
    hand-computed md5 digest."""
    import hashlib

    from token_etl_spark.plans.extensions import q_multimodal_pixels

    # run the declared plan on real gate data, spot-check one doc
    rows = {
        r["doc_id"]: r
        for r in q_multimodal_pixels(spark, "/root/testdata/sf0.001").collect()
    }
    import duckdb

    txt = duckdb.sql(
        "SELECT text FROM read_parquet('/root/testdata/sf0.001/documents.parquet')"
        " WHERE doc_id = 42"
    ).fetchone()[0]
    dig = hashlib.md5(txt.encode()).digest()
    r = rows[42]
    assert (r["kind"], r["width"], r["height"]) == ("pgm", 8, 2)
    assert abs(r["mean_luma"] - sum(dig) / 16.0) < 1e-12
    assert abs(r["resized_luma"] - sum(dig[i] for i in (0, 2, 4, 6)) / 4.0) < 1e-12
