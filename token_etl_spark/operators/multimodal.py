"""Multimodal-column plumbing (BASELINE.json north star).

Images/audio/video are opaque ``binary`` columns with a typed metadata
struct alongside. The Spark-side contract — schema, partition-parallel
Arrow batching via ``mapInPandas``, deterministic output shape — is real
and tested. Decode tiers, honest about what this container can do:

- REAL, header level: ``parse_image_header`` (stdlib-only PNG/GIF/BMP/
  JPEG dimension extraction from actual bytes — the resolution-filter
  stage needs no pixel library; ``decode_stub="headers"`` runs it
  inside the batch contract).
- REAL, sample/pixel level for UNCOMPRESSED formats (r8): ``decode_wav``
  (stdlib ``wave`` + numpy — actual PCM samples, rms/peak/duration),
  ``decode_ppm``/``encode_ppm`` (binary Netpbm pixels),
  ``nearest_resize`` (pure-numpy resampling); composed into
  ``extract_media_features`` and ``resize_raw_images`` over the same
  mapInPandas contract. No external codec involved.
- STUBBED: compressed pixel/sample decode (JPEG/PNG pixels, MP3/AAC,
  video) genuinely needs PIL/torchaudio/ffmpeg, absent here:
  ``decode_stub="fake"`` produces deterministic fake features,
  ``decode_stub="error"`` raises NotImplementedError exactly where the
  codec would plug in, and the real-path operators return NULL for
  those rows instead of faking silently.

At 100 TB: binary payloads dominate I/O, so the metadata struct lives in
its own (small) columns — predicates on media_type/byte_len prune row
groups without ever reading payload bytes; mapInPandas batch size is
bounded by ``spark.sql.execution.arrow.maxRecordsPerBatch`` so executor
memory stays flat regardless of payload size distribution.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


#: Sentinel: the payload CLAIMS a known image format (magic matched)
#: but its header is truncated or carries out-of-range dimensions —
#: distinct from "no known magic at all" (None). One dispatcher owns
#: the magic constants so the claims-vs-parses distinction can never
#: drift from the parser (r10 review). A string (compared by value),
#: NOT object() — mapInPandas closures are cloudpickled to workers,
#: where an object() sentinel deserializes as a different instance and
#: every identity check silently fails.
_INVALID_HEADER = "__invalid_image_header__"


def _sniff_image_header(payload: bytes):
    """(format, width, height) | None | :data:`_INVALID_HEADER`.

    None = the magic bytes match no known format (or the prefix is too
    ambiguous to count as a claim — a 2-byte ASCII ``BM`` on a payload
    shorter than a BMP info header is far likelier to be text than a
    truncated bitmap, so it is NOT treated as claiming BMP).
    ``_INVALID_HEADER`` = a real format claim whose header cannot be
    trusted: truncated, a JPEG with no SOF segment, or dimensions
    rejected by ``_valid_dims``.
    """
    if payload[:8] == b"\x89PNG\r\n\x1a\n":
        if len(payload) < 24:
            return _INVALID_HEADER
        w, h = struct.unpack(">II", payload[16:24])
        return ("png", w, h) if _valid_dims(w, h) else _INVALID_HEADER
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        if len(payload) < 10:
            return _INVALID_HEADER
        w, h = struct.unpack("<HH", payload[6:10])
        return ("gif", w, h) if _valid_dims(w, h) else _INVALID_HEADER
    if payload[:2] == b"BM":
        if len(payload) < 26:
            return None  # ambiguous with ASCII text — not a format claim
        w, h = struct.unpack("<ii", payload[18:26])
        h = abs(h)  # negative height = top-down DIB; abs(-2**31) = 2**31 is caught below
        return ("bmp", w, h) if _valid_dims(w, h) else _INVALID_HEADER
    if payload[:2] == b"\xff\xd8":  # JPEG: walk segments to a SOF marker
        i = 2
        while i + 9 <= len(payload):
            if payload[i] != 0xFF:
                break
            marker = payload[i + 1]
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2  # standalone markers carry no length field
                continue
            if i + 4 > len(payload):
                break
            seglen = struct.unpack(">H", payload[i + 2 : i + 4])[0]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3) and i + 9 <= len(payload):
                h, w = struct.unpack(">HH", payload[i + 5 : i + 9])
                return ("jpeg", w, h) if _valid_dims(w, h) else _INVALID_HEADER
            i += 2 + seglen
        return _INVALID_HEADER  # claims JPEG, no parseable SOF
    return None


def parse_image_header(payload: bytes) -> tuple[str, int, int] | None:
    """REAL (format, width, height) extraction from actual image bytes —
    stdlib-only, no PIL: PNG IHDR, GIF logical-screen descriptor, BMP
    info header, and a JPEG SOF-marker scan. Returns None when the magic
    bytes match no known format OR the header is malformed (callers that
    need to distinguish the two use :func:`_sniff_image_header`).

    This is the one media stage that needs no pixel library, and at
    100 TB it is also the one worth running FIRST: resolution/format
    predicates (drop icons, keep ≥ 224×224) prune payloads before any
    real decoder spends CPU on them — the same role the metadata struct
    plays for row-group pruning, one level deeper into the bytes.

    Header-sniffed dimensions are UNTRUSTED input: PNG carries unsigned
    32-bit fields (up to 4,294,967,295) and a top-down BMP height of
    exactly -2**31 abs()-es to +2**31 — both overflow the int32
    width/height columns downstream and would crash the whole Arrow
    batch on one malformed document. ``_valid_dims`` rejects any dim
    outside (0, 2**31) as garbage (a multi-gigapixel claim in a header
    is inherently malformed); callers then degrade to kind='unknown'.
    """
    sniffed = _sniff_image_header(payload)
    return sniffed if isinstance(sniffed, tuple) else None


def _valid_dims(w: int, h: int) -> bool:
    """Sniffed dimensions must fit the int32 output columns and be
    physically plausible: strictly positive and < 2**31. A zero dim is
    a degenerate image; anything ≥ 2**31 cannot be represented in the
    declared schema and kills Arrow serialization of the batch."""
    return 0 < w < 2**31 and 0 < h < 2**31

DECODED_SCHEMA = (
    "doc_id bigint, media_type string, byte_len int, width int, height int, n_frames int, checksum string"
)


def attach_binary_payload(df: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Synthesize an opaque binary column + typed metadata from text
    (stands in for real media bytes; encoding is deterministic)."""
    payload = F.encode(F.col(text_col), "UTF-8")
    return df.select(
        F.col(id_col),
        payload.alias("payload"),
        F.struct(
            F.lit("image/fake").alias("media_type"),
            F.length(payload).alias("byte_len"),
            F.md5(F.col(text_col)).alias("checksum"),
        ).alias("media_meta"),
    )


def decode_features(df: DataFrame, decode_stub: str = "fake") -> DataFrame:
    """Per-payload feature extraction via Arrow-batched mapInPandas.

    The generator signature (iterator of pandas batches in/out) is the
    real production shape — a decoder swap touches only ``_decode_one``.
    """

    def _decode_one(payload: bytes) -> tuple[int | None, int | None, int | None]:
        if decode_stub == "error":
            raise NotImplementedError(
                "media decode requires an image/audio library not present in this "
                "container; plug PIL/torchaudio here"
            )
        if decode_stub == "headers":
            # REAL header parse (PNG/GIF/BMP/JPEG, stdlib-only). Payloads
            # whose magic matches no format fall through to the fake path
            # so mixed corpora still produce a full frame — but a payload
            # that CLAIMS a known format and fails to parse (truncated, or
            # dims rejected by _valid_dims) must degrade to NULLs: a
            # fabricated mid-size dimension would let a malformed
            # multi-gigapixel claim sail through a resolution filter.
            sniffed = _sniff_image_header(bytes(payload))
            if isinstance(sniffed, tuple):
                _, w, h = sniffed
                return w, h, 1
            if sniffed == _INVALID_HEADER:
                return None, None, None
        # Deterministic fake: derive pseudo-dimensions from the byte length
        # and first bytes so tests have stable expectations.
        n = len(payload)
        w = 16 + (n % 1024)
        h = 16 + ((payload[0] if n else 0) % 512)
        frames = 1 + (n % 7)
        return w, h, frames

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [_decode_one(p) for p in pdf["payload"]]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "media_type": [m["media_type"] for m in pdf["media_meta"]],
                    "byte_len": [m["byte_len"] for m in pdf["media_meta"]],
                    "width": [f[0] for f in feats],
                    "height": [f[1] for f in feats],
                    "n_frames": [f[2] for f in feats],
                    "checksum": [m["checksum"] for m in pdf["media_meta"]],
                }
            )

    return df.mapInPandas(_batches, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = "doc_id bigint, width int, height int, payload binary"
# ---------------------------------------------------------------------------
# REAL decoders for uncompressed formats (numpy + stdlib only)
#
# The container has no PIL/soundfile/ffmpeg, but that blocks only
# COMPRESSED codecs: PCM WAV (stdlib ``wave`` + numpy.frombuffer) and
# binary PPM/PGM (a text header + raw samples) decode exactly with what
# is here. These are the real thing — actual samples, actual pixels —
# so the mapInPandas feature/resize stages below run genuinely end to
# end for raw media, and the stub surface shrinks to formats that
# truly need an external codec (JPEG/PNG pixels, MP3/AAC, video).


def decode_wav(payload: bytes) -> dict | None:
    """REAL PCM WAV decode: (channels, sample_rate, n_samples, duration,
    rms, peak) from actual audio bytes. Returns None unless the payload
    is a RIFF/WAVE container with integer PCM samples (8/16/32-bit —
    the uncompressed cases ``wave`` handles without external codecs)."""
    import io
    import wave

    import numpy as np

    if payload is None or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        return None
    try:
        with wave.open(io.BytesIO(bytes(payload))) as w:
            n_ch, sampwidth, rate, n_frames = (
                w.getnchannels(), w.getsampwidth(), w.getframerate(), w.getnframes(),
            )
            raw = w.readframes(n_frames)
    # RuntimeError: stdlib wave raises it BARE (not wave.Error) when a
    # truncated RIFF chunk seeks past end-of-payload — exactly what an
    # interrupted crawl download produces (fuzz-found; the contract is
    # None/degraded, never a crashed executor task)
    except (wave.Error, EOFError, RuntimeError):
        return None
    dtype = {1: np.uint8, 2: np.int16, 4: np.int32}.get(sampwidth)
    if dtype is None:
        return None
    # a truncated data chunk can leave a partial trailing frame — trim it
    # instead of letting np.frombuffer raise (contract: None/degraded,
    # never a crashed executor task)
    usable = len(raw) - (len(raw) % sampwidth)
    samples = np.frombuffer(raw, dtype=dtype, count=usable // sampwidth).astype(
        np.float64
    )
    if sampwidth == 1:
        samples -= 128.0  # 8-bit WAV is unsigned, centered at 128
    scale = float(2 ** (8 * sampwidth - 1))
    samples /= scale
    return {
        "n_channels": n_ch,
        "sample_rate": rate,
        "n_samples": int(n_frames),
        "duration_s": (n_frames / rate) if rate else 0.0,
        "rms": float(np.sqrt(np.mean(samples**2))) if samples.size else 0.0,
        "peak": float(np.max(np.abs(samples))) if samples.size else 0.0,
    }


def decode_ppm(payload: bytes):
    """REAL binary PPM (P6) / PGM (P5) pixel decode → numpy array of
    shape (h, w, 3) or (h, w), dtype uint8. Returns None for anything
    else (including maxval > 255 — 16-bit Netpbm stays out of scope)."""
    import numpy as np

    if payload is None or payload[:2] not in (b"P6", b"P5"):
        return None
    # header = magic, width, height, maxval — whitespace-separated with
    # optional '#' comment lines; exactly one whitespace byte after maxval
    tokens: list[bytes] = []
    i = 2
    data = bytes(payload)
    while len(tokens) < 3 and i < len(data):
        c = data[i : i + 1]
        if c == b"#":
            i = data.find(b"\n", i)
            if i < 0:
                return None
            i += 1
        elif c.isspace():
            i += 1
        else:
            j = i
            while j < len(data) and not data[j : j + 1].isspace():
                j += 1
            tokens.append(data[i:j])
            i = j
    if len(tokens) < 3 or i >= len(data):
        return None
    i += 1  # the single whitespace byte terminating the header
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError:
        return None
    if maxval > 255 or w <= 0 or h <= 0:
        return None
    depth = 3 if data[:2] == b"P6" else 1
    need = w * h * depth
    body = np.frombuffer(data, dtype=np.uint8, count=-1, offset=i)
    if body.size < need:
        return None
    arr = body[:need].reshape((h, w, 3) if depth == 3 else (h, w))
    return arr


def encode_ppm(arr) -> bytes:
    """Inverse of :func:`decode_ppm` for 8-bit arrays (P6 for (h, w, 3),
    P5 for (h, w))."""
    import numpy as np

    arr = np.asarray(arr, dtype=np.uint8)
    magic = b"P6" if arr.ndim == 3 else b"P5"
    h, w = arr.shape[0], arr.shape[1]
    return magic + f"\n{w} {h}\n255\n".encode() + arr.tobytes()


def nearest_resize(arr, target_w: int, target_h: int):
    """REAL nearest-neighbor resize of a decoded pixel array — pure
    numpy fancy indexing (the resize a thumbnail/dedup-fingerprint stage
    needs; bilinear would swap in here the same way)."""
    import numpy as np

    h, w = arr.shape[0], arr.shape[1]
    rows = np.minimum((np.arange(target_h) * h) // target_h, h - 1)
    cols = np.minimum((np.arange(target_w) * w) // target_w, w - 1)
    return arr[rows][:, cols]


MEDIA_FEATURES_SCHEMA = (
    "doc_id bigint, kind string, width int, height int, mean_luma double,"
    " n_channels int, sample_rate int, duration_s double, rms double"
)


def extract_media_features(df: DataFrame) -> DataFrame:
    """Per-payload REAL feature extraction over the standard
    Arrow-batched contract, dispatching on magic bytes:

    - PCM WAV → audio stats (``decode_wav`` — real samples);
    - binary PPM/PGM → dimensions + mean luma (``decode_ppm`` — real
      pixels; luma = ITU-R BT.601 weights);
    - PNG/GIF/BMP/JPEG → dimensions from the REAL header parse (pixel
      decode needs a codec library — those columns stay NULL);
    - anything else → kind='unknown', all feature columns NULL.

    Input: (doc_id, payload) rows. One output row per input row; at
    100 TB the dispatch order puts the cheap magic checks first and no
    branch ever buffers more than one Arrow batch.
    """
    import numpy as np

    def _one(doc_id: int, payload: bytes) -> dict:
        out = {
            "doc_id": doc_id, "kind": "unknown", "width": None, "height": None,
            "mean_luma": None, "n_channels": None, "sample_rate": None,
            "duration_s": None, "rms": None,
        }
        if payload is None:
            return out
        wav = decode_wav(payload)
        if wav is not None:
            out.update(
                kind="wav", n_channels=wav["n_channels"],
                sample_rate=wav["sample_rate"], duration_s=wav["duration_s"],
                rms=wav["rms"],
            )
            return out
        arr = decode_ppm(payload)
        if arr is not None:
            luma = (
                float(np.mean(arr @ np.array([0.299, 0.587, 0.114])))
                if arr.ndim == 3
                else float(np.mean(arr))
            )
            out.update(
                kind="ppm" if arr.ndim == 3 else "pgm",
                width=arr.shape[1], height=arr.shape[0], mean_luma=luma,
            )
            return out
        header = parse_image_header(bytes(payload))
        if header is not None:
            fmt, w, h = header
            out.update(kind=fmt, width=w, height=h)
        return out

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                [_one(d, p) for d, p in zip(pdf["doc_id"], pdf["payload"])]
            )

    return df.mapInPandas(_batches, schema=MEDIA_FEATURES_SCHEMA)


def resize_raw_images(df: DataFrame, target_w: int = 224, target_h: int = 224) -> DataFrame:
    """REAL resize for raw Netpbm payloads over the Arrow-batched
    mapInPandas contract: decode → nearest-neighbor resample →
    re-encode P6/P5. Non-Netpbm payloads pass through with NULL payload
    (a compressed-format resize needs the codec library — the honest
    boundary, visible per row instead of silently faked)."""

    def _one(payload: bytes) -> bytes | None:
        arr = decode_ppm(payload)  # None payloads decode to None → pass through
        if arr is None:
            return None
        return encode_ppm(nearest_resize(arr, target_w, target_h))

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "width": target_w,
                    "height": target_h,
                    "payload": [_one(p) for p in pdf["payload"]],
                }
            )

    return df.mapInPandas(_batches, schema=RESIZED_SCHEMA)
