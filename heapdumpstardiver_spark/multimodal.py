"""Multimodal column operators: image/audio/video as opaque binary
columns with typed metadata (100-TB training-pipeline surface).

The Spark-side plumbing — schemas, Arrow-batched `mapInPandas`
signatures, partition-preserving shapes — is real and tested, and so
are the built-in stdlib codecs: 8-bit truecolor PNG (all five
filters), PCM16 mono WAV, and the JPEG matrix — baseline/extended
sequential grayscale, 4:4:4, 4:2:2 and 4:2:0 color, 16-bit quant
tables, DRI/RSTn restart intervals, full progressive (SOF2, spectral
selection + successive approximation), lossless (SOF3) and
arithmetic-coded (SOF9) grayscale — plus the MJPEG container. What
remains injected (``decode(decoder=...)``) is compressed audio,
inter-frame video and exotic JPEG variants (hierarchical, sampling
factors > 2); an unsupported payload raises ``NotImplementedError``
loudly, and a truncated or corrupt one (a declared length that does
not match its contents, a scan that runs out of bytes) raises
``ValueError``. ``extract_features`` uses a
clearly-marked deterministic fake (bytes → hash → unit vector) where
a real model would plug in. The surrounding plan is exactly what
production would run.

Design for scale: media payloads never enter a shuffle — every
operator is a narrow `mapInPandas` over the storage partitioning;
only fixed-width outputs (features, metadata) flow downstream.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from collections.abc import Callable, Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), False),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("format", T.StringType()),
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("sample_rate", T.IntegerType()),
                    T.StructField("duration_ms", T.LongType()),
                ]
            ),
        ),
    ]
)


_PNG_MAGIC = b"\x89PNG\r\n\x1a\n"


def encode_png(width: int, height: int, rgb: bytes,
               filter_type: int | None = None) -> bytes:
    """Minimal 8-bit RGB PNG encoder — stdlib zlib only, used to
    build deterministic image fixtures. By default each scanline
    cycles filter types 0-4 (None/Sub/Up/Average/Paeth) so a decoder
    round-trip exercises every unfilter path in the spec."""
    _check_fixture(width, height, rgb, 3, 1)
    stride = width * 3
    raw = bytearray()
    prev = bytes(stride)
    for y in range(height):
        line = rgb[y * stride:(y + 1) * stride]
        ft = (y % 5) if filter_type is None else filter_type
        raw.append(ft)
        if ft == 0:
            raw += line
        elif ft == 1:  # Sub
            raw += bytes(
                (line[i] - (line[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(stride)
            )
        elif ft == 2:  # Up
            raw += bytes((line[i] - prev[i]) & 0xFF for i in range(stride))
        elif ft == 3:  # Average
            raw += bytes(
                (line[i] - (((line[i - 3] if i >= 3 else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(stride)
            )
        else:  # Paeth
            enc = bytearray()
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                enc.append((line[i] - pred) & 0xFF)
            raw += enc
        prev = line

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", zlib.crc32(tag + body) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_MAGIC
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(bytes(raw)))
        + chunk(b"IEND", b"")
    )


def decode_png(payload: bytes) -> bytes:
    """Pure-stdlib PNG decode (zlib inflate + scanline unfilter) to
    raw RGB bytes — the built-in codec behind :func:`decode`, covering
    8-bit non-interlaced truecolor (the fixture/export format). All
    five PNG filter types are reconstructed per the spec; anything
    fancier (palette, 16-bit, interlace) still needs an injected
    codec. A chunk that runs past the payload end, an IHDR that is not
    13 bytes, a missing IEND or corrupt image data raises
    ``ValueError``."""
    data = bytes(payload)
    if data[:8] != _PNG_MAGIC:
        raise ValueError("not a PNG payload")
    pos, idat, w, h = 8, bytearray(), None, None
    while True:
        end = pos + 12 + int.from_bytes(data[pos:pos + 4], "big")
        if end > len(data):
            raise ValueError("PNG chunk runs past the payload end")
        tag, body, pos = data[pos + 4:pos + 8], data[pos + 8:end - 4], end
        if tag == b"IHDR":
            if len(body) != 13:
                raise ValueError(f"PNG IHDR declares {len(body)} bytes, not 13")
            w, h, depth, ctype, _comp, _filt, inter = struct.unpack(
                ">IIBBBBB", body
            )
            if depth != 8 or ctype != 2 or inter != 0:
                raise NotImplementedError(
                    "built-in codec covers 8-bit non-interlaced RGB PNG only"
                )
        elif tag == b"IDAT":
            idat += body
        elif tag == b"IEND":
            break
    if w is None:
        raise ValueError("PNG missing IHDR")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise ValueError(f"PNG image data: {e}") from e
    stride = w * 3
    out = bytearray()
    prev = bytes(stride)
    p = 0
    for _y in range(h):
        ft = raw[p]
        line = bytearray(raw[p + 1:p + 1 + stride])
        p += 1 + stride
        if ft == 1:  # Sub
            for i in range(3, stride):
                line[i] = (line[i] + line[i - 3]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                line[i] = (line[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                line[i] = (line[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = line[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                pr = a + b - c
                pa, pb, pc = abs(pr - a), abs(pr - b), abs(pr - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                line[i] = (line[i] + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"unknown PNG filter type {ft}")
        out += line
        prev = bytes(line)
    return bytes(out)


_WAV_MAGIC = b"RIFF"


def encode_wav_pcm16(samples: list[int], sample_rate: int = 8000) -> bytes:
    """Minimal RIFF/WAVE encoder — stdlib struct only, used to build
    deterministic audio fixtures: 16-bit signed little-endian PCM,
    mono, with a spec-complete ``fmt `` chunk (audio format 1 = PCM,
    block align = 2, byte rate = 2·rate)."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, 1, sample_rate, sample_rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(payload: bytes) -> bytes:
    """Pure-stdlib RIFF/WAVE decode to raw PCM bytes — the audio
    member of the built-in codec family (PNG/JPEG are the image
    members). Walks the chunk list per the RIFF spec (word-aligned,
    unknown chunks skipped — a real-world WAV often carries LIST/fact
    chunks before data), validates 16-bit mono integer PCM, and
    returns the data chunk bytes (little-endian int16 samples).
    Compressed formats (ADPCM, float, mp3-in-wav) still need an
    injected codec; a chunk that runs past the payload end or a ``fmt ``
    chunk under 16 bytes raises ``ValueError``."""
    data = bytes(payload)
    if data[:4] != _WAV_MAGIC or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, fmt, pcm = 12, None, None
    while pos + 8 <= len(data):
        tag = data[pos:pos + 4]
        (ln,) = struct.unpack("<I", data[pos + 4:pos + 8])
        if pos + 8 + ln > len(data):
            raise ValueError("WAV chunk runs past the payload end")
        body = data[pos + 8:pos + 8 + ln]
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
        if tag == b"fmt ":
            if len(body) < 16:
                raise ValueError(f"WAV fmt chunk declares {len(body)} bytes, under 16")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            pcm = body
    if fmt is None or pcm is None:
        raise ValueError("WAV missing fmt or data chunk")
    audio_fmt, channels, _rate, _brate, _align, bits = fmt
    if audio_fmt != 1 or channels != 1 or bits != 16:
        raise NotImplementedError(
            "built-in codec covers 16-bit mono integer PCM WAV only"
        )
    return pcm


def _builtin_decoder(payload: bytes) -> bytes:
    data = bytes(payload)
    if data[:8] == _PNG_MAGIC:
        return decode_png(data)
    if data[:4] == _WAV_MAGIC:
        return decode_wav(data)
    if data[:2] == _JPEG_MAGIC:
        return _decode_jpeg_any(data)
    if any(m.startswith(data) for m in (_PNG_MAGIC, _WAV_MAGIC, _JPEG_MAGIC)):
        raise ValueError("media payload ends inside its format magic")
    raise NotImplementedError(
        "no built-in codec for this payload format; inject decoder=... "
        "(PNG, PCM16 WAV, and baseline/extended/progressive/lossless/"
        "arithmetic grayscale / 4:4:4 / 4:2:0 / 4:2:2 color JPEG "
        "decode stdlib-side in this environment)"
    )


def decode(df: DataFrame, decoder: Callable | None = None) -> DataFrame:
    """Decode payloads to raw bytes via Arrow-batched ``mapInPandas``.

    The built-in stdlib codecs cover PNG (:func:`decode_png`), PCM16
    WAV (:func:`decode_wav`) and the JPEG matrix (baseline/extended
    gray, 4:4:4, 4:2:2 and 4:2:0 color, restart intervals,
    progressive, lossless, arithmetic — :func:`decode_jpeg_gray` /
    :func:`decode_jpeg_color`); other formats need an injected
    *decoder* (production would supply PIL/libav — those libraries
    don't ship in this environment). Executor-side, a payload outside
    the built-in surface raises ``NotImplementedError`` and a
    truncated one (any proper prefix of a supported payload) or a
    corrupt one raises ``ValueError`` — never wrong bytes."""
    if decoder is None:
        decoder = _builtin_decoder

    out_schema = T.StructType(
        list(MEDIA_SCHEMA.fields) + [T.StructField("decoded", T.BinaryType())]
    )

    def run(batches: Iterator) -> Iterator:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["decoded"] = pdf["payload"].map(decoder)
            yield pdf

    return df.mapInPandas(run, schema=out_schema)


FEATURE_DIM = 8


def extract_features(df: DataFrame, dim: int = FEATURE_DIM) -> DataFrame:
    """Per-item feature vector via Arrow-batched mapInPandas.

    DETERMINISTIC FAKE FEATURES: sha256(payload) expanded to a unit
    vector — stands in for a real encoder (CLIP/wav2vec/...). The
    output schema (media_id, kind, features array<float>) and batch
    shape are the production contract; downstream ANN (queries/llm.py)
    consumes it unchanged."""
    out_schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("kind", T.StringType()),
            T.StructField("features", T.ArrayType(T.FloatType())),
        ]
    )

    def featurize(payload: bytes) -> list[float]:
        h = hashlib.sha256(bytes(payload)).digest()
        raw = [int.from_bytes(h[4 * i : 4 * i + 4], "big", signed=True) for i in range(dim)]
        norm = sum(x * x for x in raw) ** 0.5 or 1.0
        return [x / norm for x in raw]

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            yield pd.DataFrame(
                {
                    "media_id": pdf["media_id"],
                    "kind": pdf["kind"],
                    "features": pdf["payload"].map(featurize),
                }
            )

    return df.mapInPandas(run, schema=out_schema)


def resize_plan(df: DataFrame, width: int, height: int) -> DataFrame:
    """Resize planning: metadata-only transform (scale factors, output
    dims) computed JVM-side; the pixel work would happen inside
    ``decode`` with a real codec. Keeps the 100-TB rule: touch payload
    bytes once, in one narrow stage."""
    return df.select(
        "media_id",
        "kind",
        "payload",
        F.struct(
            F.col("meta.format").alias("format"),
            F.lit(width).alias("width"),
            F.lit(height).alias("height"),
            F.col("meta.sample_rate").alias("sample_rate"),
            F.col("meta.duration_ms").alias("duration_ms"),
        ).alias("meta"),
        (F.col("meta.width") / F.lit(width)).alias("scale_x"),
        (F.col("meta.height") / F.lit(height)).alias("scale_y"),
    )


def sample_frames(df: DataFrame, every_ms: int = 1000) -> DataFrame:
    """Frame-sampling plan for video rows: one output row per sampled
    timestamp, derived from duration metadata with JVM-side sequence/
    explode — no Python, no payload duplication (the payload column is
    dropped before the explode so the fan-out carries only ids)."""
    vids = df.filter(F.col("kind") == "video").select(
        "media_id", F.col("meta.duration_ms").alias("duration_ms")
    )
    return vids.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), F.col("duration_ms") - 1, F.lit(every_ms))
        ).alias("frame_ts_ms"),
    )


# ---------------------------------------------------------------------------
# MJPEG container (multipart/x-mixed-replace framing), stdlib-only.
#
# The "video" line of the codec-injection surface, closed with the
# same posture as the still-image codecs: a real container format
# (the MJPEG-over-HTTP multipart stream every IP camera emits,
# RFC 2046 framing with Content-Length per part) written and split
# by stdlib code, each part a standalone JPEG the built-in decoder
# already handles. What stays injected is inter-frame video
# (H.264 etc.) — no codec library ships in this environment.
# ---------------------------------------------------------------------------

MJPEG_BOUNDARY = b"--mjpegframe"


def encode_mjpeg(frames: list[bytes]) -> bytes:
    """Frame list → multipart MJPEG stream (boundary + Content-Type +
    Content-Length headers per part, closing boundary at the end)."""
    out = bytearray()
    for f in frames:
        out += MJPEG_BOUNDARY + b"\r\n"
        out += b"Content-Type: image/jpeg\r\n"
        out += b"Content-Length: " + str(len(f)).encode("ascii") + b"\r\n"
        out += b"\r\n"
        out += f
        out += b"\r\n"
    out += MJPEG_BOUNDARY + b"--\r\n"
    return bytes(out)


def split_mjpeg(payload: bytes) -> list[bytes]:
    """Multipart MJPEG stream → list of JPEG frame payloads.

    Splits on the declared Content-Length (never by scanning for
    JPEG markers — 0xFF bytes inside entropy-coded data make marker
    scanning fragile) and validates each part's SOI/EOI framing."""
    data = bytes(payload)
    frames: list[bytes] = []
    pos = 0
    while True:
        b = data.find(MJPEG_BOUNDARY, pos)
        if b < 0:
            raise ValueError("MJPEG stream: missing boundary")
        after = b + len(MJPEG_BOUNDARY)
        if data[after : after + 2] == b"--":
            break  # closing boundary
        hdr_end = data.find(b"\r\n\r\n", after)
        if hdr_end < 0:
            raise ValueError("MJPEG stream: unterminated part headers")
        length = None
        for line in data[after:hdr_end].split(b"\r\n"):
            k, _, v = line.partition(b":")
            if k.strip().lower() == b"content-length":
                length = int(v.strip())
        if length is None:
            raise ValueError("MJPEG stream: part without Content-Length")
        start = hdr_end + 4
        frame = data[start : start + length]
        if len(frame) != length:
            raise ValueError("MJPEG stream: truncated frame")
        if frame[:2] != _JPEG_MAGIC or frame[-2:] != b"\xff\xd9":
            raise ValueError("MJPEG stream: part is not SOI..EOI framed")
        frames.append(frame)
        pos = start + length
    return frames


MJPEG_FRAME_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("frame_idx", T.IntegerType(), False),
        T.StructField("frame", T.BinaryType(), False),
        T.StructField("decoded", T.BinaryType(), False),
    ]
)


def split_mjpeg_frames(df: DataFrame, decoder: Callable | None = None) -> DataFrame:
    """Explode MJPEG video rows into per-frame decoded rows in ONE
    Arrow-batched ``mapInPandas`` stage: the container split and the
    per-frame JPEG decode happen in the same pass, so each payload is
    read exactly once and only fixed-shape frame rows flow downstream
    — payloads never shuffle (the 100-TB rule ``decode`` follows).

    Default decoder is the built-in stdlib JPEG codec; inject
    ``decoder=`` for formats beyond it (same contract as
    :func:`decode`)."""
    if decoder is None:
        decoder = _builtin_decoder

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            out: dict[str, list] = {
                "media_id": [], "frame_idx": [], "frame": [], "decoded": []
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                for i, fr in enumerate(split_mjpeg(bytes(payload))):
                    out["media_id"].append(mid)
                    out["frame_idx"].append(i)
                    out["frame"].append(fr)
                    out["decoded"].append(decoder(fr))
            yield pd.DataFrame(out)

    return df.mapInPandas(run, schema=MJPEG_FRAME_SCHEMA)


# ---------------------------------------------------------------------------
# JPEG, stdlib-only — the second built-in image codec.
#
# Same posture as the PNG pair above: encoders build deterministic
# fixtures, decoders are the production-plumbing codec behind
# :func:`decode`. Huffman tables are carried IN the file (DHT) and the
# decoder trusts only those, so encoder/decoder share no hidden state.
# Every encoder writes its segments through one writer (`_seg`,
# `_frame_header`, `_sos`) and the baseline layouts share one core
# (`_encode_baseline`); every decoder reads through one segment reader
# (`_jpeg_segments`) and one table parser (`_jpeg_scans`), and one
# dispatcher (`_decode_jpeg_any`) routes a payload by its SOF marker.
# ---------------------------------------------------------------------------

_JPEG_MAGIC = b"\xff\xd8"

# zig-zag scan order: index i of the scan -> (row, col) flat index
_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Quality-neutral quantization table: DC step 16 (makes the DC-only
# reconstruction an exact integer: dequant/8 = 2*dcq), AC step 16.
_QTABLE = [16] * 64

# Standard (Annex K) luminance Huffman table specs: (bits[1..16], values)
_DC_BITS = [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0]
_DC_VALS = list(range(12))
_AC_BITS = [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D]
_AC_VALS = [
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06,
    0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08,
    0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24, 0x33, 0x62, 0x72,
    0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45,
    0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75,
    0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
    0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6,
    0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
    0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]


# Standard (Annex K) chrominance Huffman table specs — carried in the
# color encoder's DHT segments (ids 1); the decoder reads whatever the
# file declares, so these are fixture-side only.
_DC_BITS_C = [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0]
_DC_VALS_C = list(range(12))
_AC_BITS_C = [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77]
_AC_VALS_C = [
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41,
    0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91,
    0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15, 0x62, 0x72, 0xD1,
    0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44,
    0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58,
    0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74,
    0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A,
    0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4,
    0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
    0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4,
    0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
]

# DHT segment specs (Tc<<4 | Th, bits, values): table id 0 serves
# component 0 (luma), id 1 every later component (chroma).
_LUMA_DHT = [(0x00, _DC_BITS, _DC_VALS), (0x10, _AC_BITS, _AC_VALS)]
_CHROMA_DHT = [(0x01, _DC_BITS_C, _DC_VALS_C), (0x11, _AC_BITS_C, _AC_VALS_C)]


def _huff_codes(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman assignment per the JPEG spec: value ->
    (code, length)."""
    out, code, k = {}, 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


# Annex-K (DC codes, AC codes) per table id: 0 luma, 1 chroma
_ANNEX_K_CODES = [
    tuple(_huff_codes(bits, vals) for _tcth, bits, vals in dht)
    for dht in (_LUMA_DHT, _CHROMA_DHT)
]


def _category(v: int) -> int:
    """JPEG magnitude category: smallest s with |v| < 2^s."""
    s, a = 0, abs(v)
    while a:
        s += 1
        a >>= 1
    return s


class _BitWriter:
    def __init__(self) -> None:
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def put(self, code: int, length: int) -> None:
        self.acc = (self.acc << length) | (code & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:  # byte stuffing
                self.out.append(0x00)
            self.nbits -= 8

    def put_signed(self, code: tuple[int, int], v: int, s: int) -> None:
        """Huffman *code*, then the *s* magnitude bits of *v* (negative
        values as v + 2^s - 1, T.81 F.1.2.1)."""
        self.put(*code)
        self.put(v if v >= 0 else v + (1 << s) - 1, s)

    def flush(self) -> bytes:
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)  # 1-pad per spec
        return bytes(self.out)

    def restart_marker(self, n: int) -> None:
        """1-pad to a byte boundary, then emit RSTn — raw, NOT
        byte-stuffed (markers are how the decoder re-syncs)."""
        if self.nbits:
            pad = 8 - self.nbits
            self.put((1 << pad) - 1, pad)
        self.out += bytes([0xFF, 0xD0 + (n & 7)])


def _fdct8x8(block: list[float]) -> list[float]:
    import math

    out = [0.0] * 64
    for u in range(8):
        cu = (1 / math.sqrt(2)) if u == 0 else 1.0
        for v in range(8):
            cv = (1 / math.sqrt(2)) if v == 0 else 1.0
            s = 0.0
            for y in range(8):
                for x in range(8):
                    s += (
                        block[y * 8 + x]
                        * math.cos((2 * x + 1) * v * math.pi / 16)
                        * math.cos((2 * y + 1) * u * math.pi / 16)
                    )
            out[u * 8 + v] = 0.25 * cu * cv * s
    return out


def _idct8x8(coef: list[float]) -> list[float]:
    import math

    out = [0.0] * 64
    for y in range(8):
        for x in range(8):
            s = 0.0
            for u in range(8):
                cu = (1 / math.sqrt(2)) if u == 0 else 1.0
                for v in range(8):
                    cv = (1 / math.sqrt(2)) if v == 0 else 1.0
                    s += (
                        cu * cv * coef[u * 8 + v]
                        * math.cos((2 * x + 1) * v * math.pi / 16)
                        * math.cos((2 * y + 1) * u * math.pi / 16)
                    )
            out[y * 8 + x] = 0.25 * s
    return out


def _quant_zigzag_block(plane, stride: int, ox: int, oy: int) -> list[int]:
    """FDCT + quantize the level-shifted 8x8 block at (ox, oy) of
    *plane*; returns its coefficients in zigzag order."""
    block = [
        float(plane[(oy + y) * stride + ox + x]) - 128.0
        for y in range(8)
        for x in range(8)
    ]
    coef = _fdct8x8(block)
    q = [int(round(coef[i] / _QTABLE[i])) for i in range(64)]
    return [q[_ZIGZAG[i]] for i in range(64)]


def _encode_block(
    w: "_BitWriter",
    zz: list[int],
    prev_dc: int,
    dc_codes: dict,
    ac_codes: dict,
) -> int:
    """Huffman-code one quantized zigzag block into *w*; returns the
    new DC predictor for this component's chain."""
    diff = zz[0] - prev_dc
    s = _category(diff)
    w.put_signed(dc_codes[s], diff, s)
    run = 0
    last_nz = max((i for i in range(1, 64) if zz[i]), default=0)
    for i in range(1, last_nz + 1):
        if zz[i] == 0:
            run += 1
            if run == 16:
                w.put(*ac_codes[0xF0])  # ZRL
                run = 0
            continue
        s = _category(zz[i])
        w.put_signed(ac_codes[(run << 4) | s], zz[i], s)
        run = 0
    if last_nz < 63:
        w.put(*ac_codes[0x00])  # EOB
    return zz[0]


def rgb_to_ycbcr(r: int, g: int, b: int) -> tuple[int, int, int]:
    """JFIF forward color transform with deterministic half-up
    rounding (floor(x + 0.5)) — the exact arithmetic the color-decode
    oracle mirrors in SQL, so cross-engine parity is bit-level."""
    import math

    y = math.floor(0.299 * r + 0.587 * g + 0.114 * b + 0.5)
    cb = math.floor(128.0 - 0.168736 * r - 0.331264 * g + 0.5 * b + 0.5)
    cr = math.floor(128.0 + 0.5 * r - 0.418688 * g - 0.081312 * b + 0.5)
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
    return clamp(y), clamp(cb), clamp(cr)


def ycbcr_to_rgb(y: int, cb: int, cr: int) -> tuple[int, int, int]:
    """JFIF inverse color transform, floor(x + 0.5) like the forward
    direction."""
    import math

    r = math.floor(y + 1.402 * (cr - 128) + 0.5)
    g = math.floor(y - 0.344136 * (cb - 128) - 0.714136 * (cr - 128) + 0.5)
    b = math.floor(y + 1.772 * (cb - 128) + 0.5)
    clamp = lambda v: 0 if v < 0 else (255 if v > 255 else v)  # noqa: E731
    return clamp(r), clamp(g), clamp(b)


def _ycbcr_planes(width: int, height: int, rgb: bytes) -> list[bytearray]:
    """Full-resolution Y, Cb, Cr planes of interleaved RGB bytes
    (:func:`rgb_to_ycbcr` per pixel)."""
    planes = [bytearray(width * height) for _ in range(3)]
    for i in range(width * height):
        y, cb, cr = rgb_to_ycbcr(rgb[3 * i], rgb[3 * i + 1], rgb[3 * i + 2])
        planes[0][i], planes[1][i], planes[2][i] = y, cb, cr
    return planes


def _box_downsample(plane, width: int, height: int, sx: int, sy: int) -> bytearray:
    """Subsample a plane by *sx* x *sy* box averages with half-up
    integer rounding, ``(sum + n//2) // n`` for n = sx*sy."""
    cw, n = width // sx, sx * sy
    out = bytearray(cw * (height // sy))
    for i in range(len(out)):
        ox, oy = (i % cw) * sx, (i // cw) * sy
        s = sum(
            plane[(oy + dy) * width + ox + dx]
            for dy in range(sy)
            for dx in range(sx)
        )
        out[i] = (s + n // 2) // n
    return out


def _check_fixture(
    width: int, height: int, data: bytes, channels: int, mult: int = 8
) -> None:
    """Argument checks shared by the fixture encoders: dims a multiple
    of *mult* and exactly width*height*channels input bytes."""
    if width % mult or height % mult:
        raise ValueError(f"fixture encoder requires multiple-of-{mult} dims")
    n = width * height * channels
    if len(data) != n:
        rgb = "RGB " if channels == 3 else ""
        raise ValueError(f"need {n} {rgb}bytes, got {len(data)}")


def _seg(marker: int, body: bytes) -> bytes:
    """One marker segment: marker, 2-byte length (counting itself), body."""
    return struct.pack(">HH", marker, len(body) + 2) + body


def _frame_header(
    sof: int,
    width: int,
    height: int,
    samp: list[int],
    dht: list[tuple[int, list[int], list[int]]],
    dqt: bool = True,
    quant16: bool = False,
    restart_interval: int = 0,
) -> bytes:
    """The segments between SOI and the first SOS: DQT (one copy of
    :data:`_QTABLE` per table id in use, 16-bit entries under
    *quant16*), SOFn, one DHT segment per ``(TcTh, bits, values)`` in
    *dht*, and DRI when *restart_interval* is nonzero. Component i+1
    samples at ``samp[i]`` (the H<<4 | V byte) and uses quant table
    ``min(i, 1)``."""
    out = b""
    for tq in range(min(len(samp), 2) if dqt else 0):
        if quant16:
            entries = b"".join(struct.pack(">H", _QTABLE[z]) for z in _ZIGZAG)
        else:
            entries = bytes(_QTABLE[z] for z in _ZIGZAG)
        out += _seg(0xFFDB, bytes([(quant16 << 4) | tq]) + entries)
    body = struct.pack(">BHHB", 8, height, width, len(samp))
    for ci, s in enumerate(samp):
        body += bytes([ci + 1, s, min(ci, 1)])
    out += _seg(sof, body)
    for tcth, bits, vals in dht:
        out += _seg(0xFFC4, bytes([tcth]) + bytes(bits) + bytes(vals))
    if restart_interval:
        out += _seg(0xFFDD, struct.pack(">H", restart_interval))
    return out


def _sos(comps, ss: int, se: int, ahal: int) -> bytes:
    """SOS segment for component indices *comps* (table ids as in
    :func:`_frame_header`), spectral band *ss*..*se*, Ah<<4 | Al."""
    body = bytes([len(comps)])
    for ci in comps:
        t = min(ci, 1)
        body += bytes([ci + 1, (t << 4) | t])
    return _seg(0xFFDA, body + bytes([ss, se, ahal]))


def _encode_baseline(
    width: int,
    height: int,
    planes: list,
    samp: list[int],
    restart_interval: int = 0,
    quant16: bool = False,
) -> bytes:
    """Baseline sequential Huffman encoder core behind every baseline
    layout. Component i is ``planes[i]`` (stride: its own width),
    sampled at ``samp[i]`` (H<<4 | V) and coded with the Annex-K
    luminance tables for i == 0, the chrominance tables otherwise;
    each MCU interleaves every component's V x H blocks in raster
    order, one DC predictor chain per component. A nonzero
    *restart_interval* emits a DRI segment and RSTn markers every
    that many MCUs (padded, predictors reset). *quant16* writes the
    quant table with 16-bit entries (Pq=1) under SOF1 — extended
    sequential Huffman, the frame type that permits 16-bit tables;
    its entropy coding is identical to baseline."""
    hmax = max(s >> 4 for s in samp)
    vmax = max(s & 0xF for s in samp)
    w = _BitWriter()
    prev = [0] * len(planes)
    mcu = 0
    for my in range(height // (8 * vmax)):
        for mx in range(width // (8 * hmax)):
            if restart_interval and mcu and mcu % restart_interval == 0:
                w.restart_marker((mcu // restart_interval - 1) % 8)
                prev = [0] * len(planes)
            mcu += 1
            for ci, (plane, s) in enumerate(zip(planes, samp)):
                hi, vi = s >> 4, s & 0xF
                for bv in range(vi):  # V x H blocks, raster order in MCU
                    for bh in range(hi):
                        zz = _quant_zigzag_block(
                            plane,
                            width * hi // hmax,
                            (mx * hi + bh) * 8,
                            (my * vi + bv) * 8,
                        )
                        prev[ci] = _encode_block(
                            w, zz, prev[ci], *_ANNEX_K_CODES[min(ci, 1)]
                        )
    return (
        _JPEG_MAGIC
        + _frame_header(
            0xFFC1 if quant16 else 0xFFC0,
            width,
            height,
            samp,
            _LUMA_DHT + (_CHROMA_DHT if len(planes) > 1 else []),
            quant16=quant16,
            restart_interval=restart_interval,
        )
        + _sos(range(len(planes)), 0, 63, 0)
        + w.flush()
        + b"\xff\xd9"
    )


def encode_jpeg_gray(
    width: int,
    height: int,
    gray: bytes,
    restart_interval: int = 0,
    quant16: bool = False,
) -> bytes:
    """Baseline sequential JPEG encoder for one 8-bit grayscale
    component (dims must be multiples of 8 — fixture builder, not a
    general tool). Real FDCT + quantization + Annex-K Huffman coding,
    so a flat 8x8 block encodes to a DC-only MCU whose decode is
    exactly predictable (quant step 16: v' = 2*round((v-128)/2)+128,
    identity on even v) — the property the oracle-paired query leans
    on — while non-flat blocks exercise the full AC path. A nonzero
    *restart_interval* emits a DRI segment and RSTn markers every
    that many MCUs (padded, predictors reset) — the re-sync chunking
    real encoders use for error resilience / parallel decode.
    *quant16* writes a 16-bit quant table under SOF1."""
    _check_fixture(width, height, gray, 1)
    return _encode_baseline(width, height, [gray], [0x11], restart_interval, quant16)


def encode_jpeg_color(width: int, height: int, rgb: bytes) -> bytes:
    """Baseline sequential JPEG encoder for 4:4:4 YCbCr color (three
    8-bit components, no subsampling; dims must be multiples of 8).
    JFIF forward transform via :func:`rgb_to_ycbcr`, then per MCU the
    Y, Cb, Cr blocks are Huffman-interleaved — luminance tables (id 0)
    for Y, Annex-K chrominance tables (id 1) for Cb/Cr, separate DC
    predictors per component, two DQT segments — the full baseline
    color surface minus subsampling. Flat blocks whose (Y, Cb, Cr)
    are all EVEN reconstruct exactly under the step-16 quantizer, the
    property `multimodal_jpeg_color_decode` leans on."""
    _check_fixture(width, height, rgb, 3)
    return _encode_baseline(
        width, height, _ycbcr_planes(width, height, rgb), [0x11, 0x11, 0x11]
    )


def encode_jpeg_422(width: int, height: int, rgb: bytes) -> bytes:
    """Baseline sequential JPEG encoder for 4:2:2 YCbCr (chroma
    halved horizontally only; dims must be multiples of 16 for MCU
    alignment). One MCU = two Y blocks side by side + one Cb + one
    Cr; chroma downsampling is a horizontal 2-pixel box average with
    half-up integer rounding, and the decoder's factor-ratio sampling
    replicates it back. 16x16-flat even-YCbCr MCUs round-trip
    exactly, like the other layouts — exercised by pytest and by the
    oracle-paired `multimodal_jpeg_422_decode`; this layout completes
    the sampling-factor matrix {1,2}x{1,2} the decoder accepts."""
    _check_fixture(width, height, rgb, 3, 16)
    y, cb, cr = _ycbcr_planes(width, height, rgb)
    chroma = [_box_downsample(p, width, height, 2, 1) for p in (cb, cr)]
    return _encode_baseline(width, height, [y, *chroma], [0x21, 0x11, 0x11])


def encode_jpeg_420(
    width: int, height: int, rgb: bytes, restart_interval: int = 0
) -> bytes:
    """Baseline sequential JPEG encoder for 4:2:0 subsampled YCbCr
    (dims must be multiples of 16 — one MCU = four Y blocks + one Cb
    + one Cr). Chroma planes are box-downsampled 2x2 with half-up
    integer averaging (floor((a+b+c+d+2)/4)); the decoder upsamples
    by replication, so a 16x16-flat MCU whose (Y, Cb, Cr) are all
    EVEN round-trips exactly — the `multimodal_jpeg_420_decode`
    oracle invariant. Everything else (tables, predictors, quality)
    matches :func:`encode_jpeg_color`. A nonzero *restart_interval*
    emits DRI + RSTn every that many MCUs with all three DC
    predictors reset."""
    _check_fixture(width, height, rgb, 3, 16)
    y, cb, cr = _ycbcr_planes(width, height, rgb)
    chroma = [_box_downsample(p, width, height, 2, 2) for p in (cb, cr)]
    return _encode_baseline(
        width, height, [y, *chroma], [0x22, 0x11, 0x11], restart_interval
    )


# ---------------------------------------------------------------------------
# Lossless JPEG (SOF3, T.81 Annex H): Huffman-coded prediction
# residuals, no DCT, no quantization — the archival-JPEG variant.
# One 8-bit component (the fixture surface); the seven spec
# predictors are all implemented and selected via the SOS Ss field.
# ---------------------------------------------------------------------------


def _lossless_predict(recon: bytearray, width: int, x: int, y: int, sel: int) -> int:
    """T.81 H.1.2.1 prediction: first sample of the image predicts
    2^(P-1)=128; the rest of the first line uses Ra (left); the first
    sample of later lines uses Rb (above); everywhere else the
    selected predictor 1-7 applies."""
    if y == 0 and x == 0:
        return 128
    if y == 0:
        return recon[x - 1]
    if x == 0:
        return recon[(y - 1) * width]
    ra = recon[y * width + x - 1]
    rb = recon[(y - 1) * width + x]
    rc = recon[(y - 1) * width + x - 1]
    if sel == 1:
        return ra
    if sel == 2:
        return rb
    if sel == 3:
        return rc
    if sel == 4:
        return ra + rb - rc
    if sel == 5:
        return ra + ((rb - rc) >> 1)
    if sel == 6:
        return rb + ((ra - rc) >> 1)
    if sel == 7:
        return (ra + rb) >> 1
    raise ValueError(f"lossless predictor must be 1-7, got {sel}")


def encode_jpeg_lossless(
    width: int, height: int, gray: bytes, predictor: int = 4
) -> bytes:
    """Lossless JPEG (SOF3) encoder for one 8-bit grayscale component:
    each sample's prediction residual (mod 2^16) is coded exactly like
    a DC coefficient — category via the Huffman table, then category
    magnitude bits. No DCT, no quant tables; decode reproduces the
    input byte-for-byte (pinned by pytest)."""
    _check_fixture(width, height, gray, 1, 1)
    if not 1 <= predictor <= 7:
        raise ValueError("predictor must be 1-7")

    dc_codes = _ANNEX_K_CODES[0][0]
    w = _BitWriter()
    recon = bytearray(gray)  # lossless: reconstruction == source
    for y in range(height):
        for x in range(width):
            px = _lossless_predict(recon, width, x, y, predictor)
            diff = (gray[y * width + x] - px) & 0xFFFF
            if diff >= 32768:
                diff -= 65536
            cat = _category(diff)
            w.put_signed(dc_codes[cat], diff, cat)
    return (
        _JPEG_MAGIC
        + _frame_header(0xFFC3, width, height, [0x11], _LUMA_DHT[:1], dqt=False)
        # SOS for lossless: Ss = predictor selector, Se = 0, AhAl = 0
        + _sos([0], predictor, 0, 0)
        + w.flush()
        + b"\xff\xd9"
    )


# ---------------------------------------------------------------------------
# Decoding: one segment reader, one table parser, one dispatcher.
# ---------------------------------------------------------------------------

_SOF_MARKERS = frozenset(range(0xFFC0, 0xFFD0)) - {0xFFC4, 0xFFC8, 0xFFCC}


def _scan_end(data: bytes, pos: int) -> int:
    """Offset of the marker that ends the entropy-coded data starting
    at *pos*: the first 0xFF not followed by a stuffed 0x00 or an RSTn
    code. A scan with no such marker runs past the payload end."""
    while True:
        pos = data.find(b"\xff", pos)
        if pos < 0 or pos + 1 >= len(data):
            raise ValueError("JPEG scan runs past the payload end")
        if data[pos + 1] != 0x00 and not 0xD0 <= data[pos + 1] <= 0xD7:
            return pos
        pos += 2


def _jpeg_segments(data: bytes) -> Iterator[tuple[int, bytes, bytes]]:
    """The JPEG segment reader every decoder shares: walk *data* from
    SOI to EOI, yielding ``(marker, body, scan)`` per marker segment,
    where *scan* is the entropy-coded data an SOS segment opens (RSTn
    markers included) and ``b""`` for every other segment. A segment
    or scan that runs past the payload end — a cut payload — raises
    ``ValueError``, so it can never decode to wrong bytes."""
    if data[:2] != _JPEG_MAGIC:
        raise ValueError("not a JPEG payload")
    pos = 2
    while True:
        if pos + 2 > len(data):
            raise ValueError("JPEG payload ends before EOI")
        if data[pos] != 0xFF:
            raise ValueError("bad JPEG marker alignment")
        marker = (data[pos] << 8) | data[pos + 1]
        if marker == 0xFFD9:
            return
        end = pos + 2 + int.from_bytes(data[pos + 2:pos + 4], "big")
        if pos + 4 > len(data) or end > len(data):
            raise ValueError("JPEG segment runs past the payload end")
        body, pos, scan = data[pos + 4:end], end, b""
        if marker == 0xFFDA:
            pos = _scan_end(data, end)
            scan = data[end:pos]
        yield marker, body, scan


class _JpegFrame:
    """What a decoder has read of a JPEG header so far: SOFn marker,
    dims, components ``(id, h, v, tq)``, quant tables in natural order
    by id, Huffman readers by ``(class, id)``, restart interval."""

    def __init__(self) -> None:
        self.sof: int | None = None
        self.w = self.h = 0
        self.comps: list[tuple[int, int, int, int]] = []
        self.q: dict[int, list[int]] = {}
        self.huff: dict[tuple[int, int], Callable] = {}
        self.restart = 0


def _jpeg_scans(data: bytes) -> Iterator[tuple[_JpegFrame, bytes, bytes]]:
    """The JPEG table parser every decoder shares: fold the DQT
    (8- or 16-bit entries), DHT, DRI and SOFn segments into one
    :class:`_JpegFrame` and yield ``(frame, sos_body, scan)`` per
    scan. A frame beyond the built-in surface (not 8-bit, not 1 or 3
    components, a sampling factor above 2) raises
    ``NotImplementedError``; a segment whose declared length does not
    match the tables or fields it carries raises ``ValueError``."""

    def need(ok: bool, what: str) -> None:
        if not ok:
            raise ValueError(f"JPEG {what} segment length does not match its contents")

    f = _JpegFrame()
    for marker, body, scan in _jpeg_segments(data):
        if marker == 0xFFDB:
            o = 0
            while o < len(body):
                pq, tq = body[o] >> 4, body[o] & 0xF
                need(o + (129 if pq else 65) <= len(body), "DQT")
                if pq == 0:  # 8-bit entries
                    zz = body[o + 1:o + 65]
                else:  # Pq=1: 16-bit big-endian entries (extended seq.)
                    zz = struct.unpack(">64H", body[o + 1:o + 129])
                t = [0] * 64
                for i in range(64):
                    t[_ZIGZAG[i]] = zz[i]
                f.q[tq] = t
                o += 129 if pq else 65
        elif marker == 0xFFC4:
            o = 0
            while o < len(body):
                need(o + 17 <= len(body), "DHT")
                bits = list(body[o + 1:o + 17])
                n = sum(bits)
                need(o + 17 + n <= len(body), "DHT")
                vals = list(body[o + 17:o + 17 + n])
                f.huff[(body[o] >> 4, body[o] & 0xF)] = _huff_decoder(bits, vals)
                o += 17 + n
        elif marker == 0xFFDD:
            need(len(body) == 2, "DRI")
            (f.restart,) = struct.unpack(">H", body)
        elif marker in _SOF_MARKERS:
            need(len(body) >= 6 and len(body) == 6 + 3 * body[5], "SOF")
            prec, f.h, f.w, ncomp = struct.unpack(">BHHB", body[:6])
            if prec != 8 or ncomp not in (1, 3):
                raise NotImplementedError(
                    "built-in codec covers 8-bit 1- or 3-component JPEG only"
                )
            for ci in range(ncomp):
                cid, samp, tq = body[6 + 3 * ci:9 + 3 * ci]
                hi, vi = samp >> 4, samp & 0xF
                if hi not in (1, 2) or vi not in (1, 2):
                    raise NotImplementedError(
                        "sampling factors beyond 2 need an injected codec"
                    )
                f.comps.append((cid, hi, vi, tq))
            f.sof = marker
        elif marker == 0xFFDA:
            if f.sof is None:
                raise ValueError("JPEG scan before its SOF")
            need(len(body) >= 1 and len(body) == 4 + 2 * body[0], "SOS")
            yield f, body, scan


def _jpeg_sof_marker(data: bytes) -> int | None:
    """The SOFn marker before the first scan (None if there is none)."""
    for marker, _body, _scan in _jpeg_segments(data):
        if marker in _SOF_MARKERS:
            return marker
        if marker == 0xFFDA:
            return None
    return None


def _jpeg_is_progressive(data: bytes) -> bool:
    """True iff the payload's frame is progressive (SOF2)."""
    return _jpeg_sof_marker(bytes(data)) == 0xFFC2


class _BitReader:
    """MSB-first reader over one scan's entropy-coded bytes: stuffed
    0xFF00 pairs read as 0xFF, RSTn markers are consumed only by
    :meth:`expect_restart`."""

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.pos = 0
        self.acc = 0
        self.nbits = 0

    def bit(self) -> int:
        if self.nbits == 0:
            # past the end of the scan is the marker that ends it
            b = self.data[self.pos] if self.pos < len(self.data) else None
            self.pos += 1
            if b == 0xFF and self.data[self.pos:self.pos + 1] == b"\x00":
                self.pos += 1  # stuffed byte
            elif b is None or b == 0xFF:
                raise ValueError(
                    "JPEG scan ends or hits a marker before its last "
                    "block: corrupt or desynced entropy-coded data"
                )
            self.acc = b
            self.nbits = 8
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit()
        return v

    def expect_restart(self, n: int) -> None:
        """Drop pad bits, consume the byte-aligned RSTn marker."""
        self.nbits = 0
        if (
            self.pos + 1 >= len(self.data)
            or self.data[self.pos] != 0xFF
            or self.data[self.pos + 1] != 0xD0 + (n & 7)
        ):
            raise ValueError(
                f"expected restart marker RST{n & 7} at scan offset {self.pos}"
            )
        self.pos += 2


def _huff_decoder(bits: list[int], vals: list[int]):
    """(code, length) -> value lookup built canonically like the
    encoder side."""
    table = {}
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    def read(r: _BitReader) -> int:
        code, length = 0, 0
        while length <= 16:
            code = (code << 1) | r.bit()
            length += 1
            if (length, code) in table:
                return table[(length, code)]
        raise ValueError("invalid Huffman code in JPEG scan")
    return read


def _extend(v: int, s: int) -> int:
    return v if v >= (1 << (s - 1)) else v - (1 << s) + 1


def _decode_jpeg_lossless(payload: bytes) -> bytes:
    """Lossless JPEG (SOF3) decode to raw 8-bit grayscale bytes:
    Huffman-decode each residual category + magnitude bits, _extend to
    the signed difference, add the selected prediction mod 2^16."""
    for f, sos, scan in _jpeg_scans(bytes(payload)):
        if f.sof != 0xFFC3:
            break
        if len(f.comps) != 1:
            raise NotImplementedError(
                "stdlib lossless JPEG covers one 8-bit component"
            )
        if sos[0] != 1:
            raise NotImplementedError("one-component lossless scan only")
        dc_read = f.huff[(0, sos[2] >> 4)]
        predictor = sos[3]  # Ss field selects the predictor
        w, h = f.w, f.h
        r = _BitReader(scan)
        recon = bytearray(w * h)
        for y in range(h):
            for x in range(w):
                s = dc_read(r)
                diff = 32768 if s == 16 else (_extend(r.bits(s), s) if s else 0)
                px = _lossless_predict(recon, w, x, y, predictor)
                recon[y * w + x] = (px + diff) & 0xFF
        return bytes(recon)
    raise ValueError("lossless JPEG missing SOF3/SOS")


# ---------------------------------------------------------------------------
# DCT Huffman decode (SOF0/SOF1 sequential, SOF2 progressive) as one
# coefficient-accumulation model: every scan deposits bits into the
# per-block coefficient arrays; dequant + IDCT happen once at the end.
# A sequential scan is the model's special case — DC first plus AC
# first over the whole band 1-63 at Al=0, every component interleaved
# per MCU. The scan algorithms follow ITU-T T.81 G.2 (the same
# structure libjpeg's decode_mcu_DC/AC_first/refine implement).
# ---------------------------------------------------------------------------


def _dc_first_block(r, coef, al, dcr, prev_dc):
    s = dcr(r)
    diff = _extend(r.bits(s), s) if s else 0
    prev_dc += diff
    coef[0] = prev_dc * (1 << al)
    return prev_dc


def _ac_first_block(r, coef, ss, se, al, acr, eobrun):
    if eobrun > 0:
        return eobrun - 1
    k = ss
    while k <= se:
        rs = acr(r)
        rr, s = rs >> 4, rs & 15
        if s:
            k += rr
            if k > se:
                raise ValueError("AC band overflow in JPEG scan")
            coef[k] = _extend(r.bits(s), s) * (1 << al)
            k += 1
        else:
            if rr == 15:
                k += 16
                continue
            eobrun = 1 << rr
            if rr:
                eobrun += r.bits(rr)
            return eobrun - 1
    return 0


def _ac_refine_block(r, coef, ss, se, al, acr, eobrun):
    p1 = 1 << al
    m1 = -(1 << al)
    k = ss
    if eobrun == 0:
        while k <= se:
            rs = acr(r)
            rr, s = rs >> 4, rs & 15
            if s:
                if s != 1:
                    raise ValueError("bad successive-approximation AC code")
                s_val = p1 if r.bit() else m1
            else:
                if rr != 15:
                    eobrun = 1 << rr
                    if rr:
                        eobrun += r.bits(rr)
                    break
                s_val = 0
            while k <= se:
                if coef[k] != 0:
                    if r.bit() and (coef[k] & p1) == 0:
                        coef[k] += p1 if coef[k] >= 0 else m1
                else:
                    rr -= 1
                    if rr < 0:
                        break
                k += 1
            if s_val and k <= se:
                coef[k] = s_val
            k += 1
    if eobrun > 0:
        while k <= se:
            if coef[k] != 0:
                if r.bit() and (coef[k] & p1) == 0:
                    coef[k] += p1 if coef[k] >= 0 else m1
            k += 1
        eobrun -= 1
    return eobrun


def _decode_jpeg(
    payload: bytes,
) -> tuple[int, int, list[bytearray], list[tuple[int, int]], int]:
    """Pure-stdlib Huffman DCT JPEG decode to per-component 8-bit
    planes: baseline/extended sequential (SOF0/SOF1, 8- or 16-bit
    quant tables) and full progressive (SOF2: DC first/refine
    interleaved or single-component, AC first/refine per-component
    spectral bands with EOBRUN), 1 component (grayscale) or 3 YCbCr
    components with sampling factors in {1, 2} — 4:4:4 and
    4:2:0/4:2:2 subsampling — plus DRI/RSTn restart intervals
    (predictor and EOB-run reset + byte re-sync at each boundary).
    All tables come from the file's own DQT/DHT segments; nothing is
    assumed about the encoder. Other SOFn frames raise
    ``NotImplementedError``.

    Returns ``(w, h, planes, factors, mcux)`` where each plane is a
    block-padded buffer of stride ``mcux * h_i * 8`` (callers index
    subsampled planes through the factor ratios)."""
    f = coefs = None
    for f, sos, scan in _jpeg_scans(bytes(payload)):
        if f.sof not in (0xFFC0, 0xFFC1, 0xFFC2):
            raise NotImplementedError(
                "hierarchical / arithmetic-progressive JPEG needs an "
                "injected codec"
            )
        hmax = max(c[1] for c in f.comps)
        vmax = max(c[2] for c in f.comps)
        mcux = (f.w + 8 * hmax - 1) // (8 * hmax)
        mcuy = (f.h + 8 * vmax - 1) // (8 * vmax)
        if coefs is None:  # per comp, per padded block, 64 zigzag ints
            coefs = [
                [[0] * 64 for _ in range(mcux * hi * mcuy * vi)]
                for _cid, hi, vi, _tq in f.comps
            ]
        ns = sos[0]
        ids = [c[0] for c in f.comps]
        tables = {}  # scan component index -> (DC reader, AC reader)
        for si in range(ns):
            tda = sos[2 + 2 * si]
            tables[ids.index(sos[1 + 2 * si])] = (
                f.huff.get((0, tda >> 4)),
                f.huff.get((1, tda & 0xF)),
            )
        if f.sof == 0xFFC2:
            ss, se, ahal = sos[1 + 2 * ns:4 + 2 * ns]
            if (ss == 0) != (se == 0):
                raise ValueError(
                    "invalid progressive scan: DC band must be Ss=Se=0"
                )
            if ns > 1 and ss != 0:
                raise ValueError("interleaved AC scan is not legal JPEG")
        else:
            ss, se, ahal = 0, 63, 0
        ah, al = ahal >> 4, ahal & 0xF
        # restart units: MCUs of an interleaved (or one-component)
        # scan, else the blocks of the one component's own grid
        if ns > 1 or len(f.comps) == 1:
            sampling = [(ci, f.comps[ci][1], f.comps[ci][2]) for ci in tables]
            units = [
                [
                    (ci, (my * vi + bv) * mcux * hi + mx * hi + bh)
                    for ci, hi, vi in sampling
                    for bv in range(vi)
                    for bh in range(hi)
                ]
                for my in range(mcuy)
                for mx in range(mcux)
            ]
        else:
            (ci,) = tables
            _cid, hi, vi, _tq = f.comps[ci]
            bw = ((f.w * hi + hmax - 1) // hmax + 7) // 8
            bh = ((f.h * vi + vmax - 1) // vmax + 7) // 8
            units = [
                [(ci, row * mcux * hi + col)]
                for row in range(bh)
                for col in range(bw)
            ]
        r = _BitReader(scan)
        prev_dc = [0] * len(f.comps)
        eobrun = 0
        for u, blocks in enumerate(units):
            if f.restart and u and u % f.restart == 0:
                # re-sync: padded to a byte boundary, RSTn (n cycling
                # 0..7 from each scan's start), DC predictors and EOB
                # run reset — the independently decodable chunk
                # boundary JPEG uses for error resilience / parallel
                # decode
                r.expect_restart((u // f.restart - 1) % 8)
                prev_dc = [0] * len(f.comps)
                eobrun = 0
            for ci, bi in blocks:
                coef = coefs[ci][bi]
                dcr, acr = tables[ci]
                if ss == 0 and ah == 0:
                    prev_dc[ci] = _dc_first_block(r, coef, al, dcr, prev_dc[ci])
                elif ss == 0:
                    coef[0] |= r.bit() << al
                if se:
                    band = _ac_first_block if ah == 0 else _ac_refine_block
                    eobrun = band(r, coef, max(ss, 1), se, al, acr, eobrun)
    if coefs is None:
        raise ValueError("JPEG missing SOF/SOS")
    # final reconstruction: dequant + IDCT every block into planes
    planes = []
    for ci, (_cid, hi, vi, tq) in enumerate(f.comps):
        q = f.q[tq]
        stride = mcux * hi * 8
        plane = bytearray(stride * mcuy * vi * 8)
        for bi, zz in enumerate(coefs[ci]):
            coef = [0.0] * 64
            for i in range(64):
                coef[_ZIGZAG[i]] = zz[i] * q[_ZIGZAG[i]]
            pix = _idct8x8(coef)
            oy, ox = (bi // (mcux * hi)) * 8, (bi % (mcux * hi)) * 8
            for y in range(8):
                row = (oy + y) * stride + ox
                for x in range(8):
                    v = int(round(pix[y * 8 + x])) + 128
                    plane[row + x] = 0 if v < 0 else (255 if v > 255 else v)
        planes.append(plane)
    return f.w, f.h, planes, [(hi, vi) for _cid, hi, vi, _tq in f.comps], mcux


def _jpeg_to_pixels(
    w: int,
    h: int,
    planes: list[bytearray],
    factors: list[tuple[int, int]],
    mcux: int,
) -> bytes:
    """Crop/upsample the block-padded component planes to image
    pixels: gray bytes for one component, interleaved RGB (JFIF
    inverse transform) for three. Subsampled chroma upsamples by
    pixel replication — component sample at (x, y) is
    ``plane[(y*vi)//vmax][(x*hi)//hmax]``, the spec-legal nearest
    mapping whose determinism the exact oracles rely on."""
    hmax = max(f[0] for f in factors)
    vmax = max(f[1] for f in factors)
    strides = [mcux * f[0] * 8 for f in factors]

    def sample(ci: int, x: int, y: int) -> int:
        hi, vi = factors[ci]
        return planes[ci][((y * vi) // vmax) * strides[ci] + (x * hi) // hmax]

    if len(planes) == 1:
        out = bytearray(w * h)
        for y in range(h):
            for x in range(w):
                out[y * w + x] = sample(0, x, y)
        return bytes(out)
    out = bytearray(w * h * 3)
    for y in range(h):
        for x in range(w):
            r, g, b = ycbcr_to_rgb(
                sample(0, x, y), sample(1, x, y), sample(2, x, y)
            )
            i = 3 * (y * w + x)
            out[i], out[i + 1], out[i + 2] = r, g, b
    return bytes(out)


def _decode_jpeg_any(payload: bytes, ncomp: int | None = None) -> bytes:
    """The JPEG decode dispatcher behind :func:`_builtin_decoder`,
    :func:`decode_jpeg_gray` and :func:`decode_jpeg_color`: route by
    SOF marker — SOF3 lossless, SOF9 arithmetic, every other frame
    to the DCT Huffman decoder — and return gray or interleaved RGB
    bytes. Given *ncomp*, a payload with another component count
    raises ``ValueError`` naming the decoder that takes it."""
    data = bytes(payload)
    sof = _jpeg_sof_marker(data)
    if sof == 0xFFC3:
        n, pixels = 1, _decode_jpeg_lossless(data)
    elif sof == 0xFFC9:
        n, pixels = 1, _decode_jpeg_arith(data)
    else:
        w, h, planes, factors, mcux = _decode_jpeg(data)
        n, pixels = len(planes), _jpeg_to_pixels(w, h, planes, factors, mcux)
    if ncomp is not None and n != ncomp:
        raise ValueError(
            "color JPEG: use decode_jpeg_color"
            if ncomp == 1
            else "grayscale JPEG: use decode_jpeg_gray"
        )
    return pixels


def decode_jpeg_gray(payload: bytes) -> bytes:
    """JPEG decode to raw 8-bit grayscale bytes — the JPEG twin of
    :func:`decode_png`, over every variant the built-in codec covers
    (baseline/extended, restart intervals, progressive, lossless,
    arithmetic). A 3-component payload is an error here; route it to
    :func:`decode_jpeg_color` (or use the dispatcher in
    :func:`decode`)."""
    return _decode_jpeg_any(payload, ncomp=1)


def decode_jpeg_color(payload: bytes) -> bytes:
    """Color JPEG decode to interleaved raw RGB bytes: the three
    YCbCr planes merged through the JFIF inverse transform
    (:func:`ycbcr_to_rgb`, floor(x+0.5) — the arithmetic the color
    oracles mirror in SQL). Handles 4:4:4 and subsampled (4:2:0 /
    4:2:2) layouts, baseline or progressive; chroma upsamples by
    replication. A 1-component payload is an error here; route it to
    :func:`decode_jpeg_gray`."""
    return _decode_jpeg_any(payload, ncomp=3)


# ---------------------------------------------------------------------------
# Progressive JPEG (SOF2) encoder: spectral selection + successive
# approximation, decoded by :func:`_decode_jpeg` above.
# ---------------------------------------------------------------------------

# AC Huffman table for PROGRESSIVE scans: the Annex-K baseline tables
# have no EOBn codes (r<<4, r=1..14 with size 0 — they only exist in
# progressive streams), so progressive scans carry their own table:
# every (run, size) symbol with run 0-15 x size 0-10 at a uniform
# canonical length of 9 bits (176 symbols, 176/512 <= 1 — a valid,
# deliberately simple code; real encoders optimize per image, the
# decoder reads whatever DHT declares either way).
_AC_BITS_P = [0, 0, 0, 0, 0, 0, 0, 0, 176, 0, 0, 0, 0, 0, 0, 0]
_AC_VALS_P = [(r << 4) | s for r in range(16) for s in range(11)]


class _ProgAcWriter:
    """Per-scan AC emitter for progressive encoding: carries the
    EOBRUN counter (and, for refinement, the correction bits buffered
    behind it) ACROSS blocks, flushing per ITU-T T.81 G.1.2.2-3."""

    def __init__(self, w: "_BitWriter", ac_codes: dict, al: int) -> None:
        self.w = w
        self.ac = ac_codes
        self.al = al
        self.eobrun = 0
        self.pending: list[int] = []

    def flush_eobrun(self) -> None:
        if self.eobrun:
            nbits = self.eobrun.bit_length() - 1
            self.w.put(*self.ac[nbits << 4])
            if nbits:
                self.w.put(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for b in self.pending:
            self.w.put(b, 1)
        self.pending = []

    def first_block(self, zz: list[int], ss: int, se: int) -> None:
        vals = []
        for k in range(ss, se + 1):
            v = zz[k]
            a = abs(v) >> self.al
            vals.append(a if v >= 0 else -a)
        last_nz = max((i for i, v in enumerate(vals) if v), default=-1)
        if last_nz < 0:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()
            return
        self.flush_eobrun()
        run = 0
        for i in range(last_nz + 1):
            v = vals[i]
            if v == 0:
                run += 1
                if run == 16:
                    self.w.put(*self.ac[0xF0])
                    run = 0
                continue
            s = _category(v)
            self.w.put_signed(self.ac[(run << 4) | s], v, s)
            run = 0
        if last_nz < se - ss:
            self.eobrun += 1
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()

    def refine_block(self, zz: list[int], ss: int, se: int) -> None:
        absv = [abs(zz[k]) >> self.al for k in range(ss, se + 1)]
        eob = -1
        for i, a in enumerate(absv):
            if a == 1:
                eob = i
        r = 0
        br: list[int] = []
        for i, a in enumerate(absv):
            if a == 0:
                r += 1
                continue
            while r > 15 and i <= eob:
                self.flush_eobrun()
                self.w.put(*self.ac[0xF0])
                r -= 16
                for b in br:
                    self.w.put(b, 1)
                br = []
            if a > 1:
                br.append(a & 1)
                continue
            self.flush_eobrun()
            self.w.put(*self.ac[(r << 4) | 1])
            self.w.put(1 if zz[ss + i] >= 0 else 0, 1)
            for b in br:
                self.w.put(b, 1)
            br = []
            r = 0
        if r > 0 or br:
            self.eobrun += 1
            self.pending.extend(br)
            if self.eobrun == 0x7FFF:
                self.flush_eobrun()


def _encode_progressive(
    width: int,
    height: int,
    planes: list[bytes],
    restart_interval: int = 0,
) -> bytes:
    """Shared progressive-encoder core (all components 1x1): DC-first
    (Al=1, interleaved) → AC-first per component in two spectral
    bands (1-5, 6-63, Al=1) → DC refine (raw bits) → AC refine per
    component per band — the classic successive-approximation scan
    script. Component 0 codes its DC with the Annex-K luminance
    table, later components with the chrominance one."""
    ncomp = len(planes)
    bw, bh = width // 8, height // 8
    blocks = [
        [
            _quant_zigzag_block(p, width, bx * 8, by * 8)
            for by in range(bh)
            for bx in range(bw)
        ]
        for p in planes
    ]
    dc_codes = [_ANNEX_K_CODES[min(ci, 1)][0] for ci in range(ncomp)]
    prog_ac = _huff_codes(_AC_BITS_P, _AC_VALS_P)
    dht = [(0x00, _DC_BITS, _DC_VALS), (0x10, _AC_BITS_P, _AC_VALS_P)]
    if ncomp > 1:
        dht += [(0x01, _DC_BITS_C, _DC_VALS_C), (0x11, _AC_BITS_P, _AC_VALS_P)]

    out = bytearray(_JPEG_MAGIC)
    out += _frame_header(
        0xFFC2, width, height, [0x11] * ncomp, dht,
        restart_interval=restart_interval,
    )

    def maybe_restart(w, bi, ac=None):
        """Per-scan restart boundary: flush any pending EOB run
        (runs may not cross a restart), pad-align, emit RSTn (n
        numbers from 0 within each scan), reset predictors."""
        if restart_interval and bi and bi % restart_interval == 0:
            if ac is not None:
                ac.flush_eobrun()
            w.restart_marker((bi // restart_interval - 1) % 8)
            return True
        return False

    # scan 1: DC first, interleaved, Al=1
    w = _BitWriter()
    prev = [0] * ncomp
    for bi in range(bw * bh):
        if maybe_restart(w, bi):
            prev = [0] * ncomp
        for ci in range(ncomp):
            v = blocks[ci][bi][0] >> 1
            diff = v - prev[ci]
            prev[ci] = v
            s = _category(diff)
            w.put_signed(dc_codes[ci][s], diff, s)
    out += _sos(range(ncomp), 0, 0, 0x01) + w.flush()

    # scans 2..: AC first per component, two spectral bands, Al=1
    for ci in range(ncomp):
        for ss, se in ((1, 5), (6, 63)):
            w = _BitWriter()
            ac = _ProgAcWriter(w, prog_ac, 1)
            for bi in range(bw * bh):
                maybe_restart(w, bi, ac)
                ac.first_block(blocks[ci][bi], ss, se)
            ac.flush_eobrun()
            out += _sos([ci], ss, se, 0x01) + w.flush()

    # DC refine: one raw bit per block, interleaved
    w = _BitWriter()
    for bi in range(bw * bh):
        maybe_restart(w, bi)
        for ci in range(ncomp):
            w.put(blocks[ci][bi][0] & 1, 1)
    out += _sos(range(ncomp), 0, 0, 0x10) + w.flush()

    # AC refine per component per band
    for ci in range(ncomp):
        for ss, se in ((1, 5), (6, 63)):
            w = _BitWriter()
            ac = _ProgAcWriter(w, prog_ac, 0)
            for bi in range(bw * bh):
                maybe_restart(w, bi, ac)
                ac.refine_block(blocks[ci][bi], ss, se)
            ac.flush_eobrun()
            out += _sos([ci], ss, se, 0x10) + w.flush()

    out += b"\xff\xd9"
    return bytes(out)


def encode_jpeg_progressive_gray(
    width: int, height: int, gray: bytes, restart_interval: int = 0
) -> bytes:
    """Progressive (SOF2) grayscale encoder: successive approximation
    over two spectral bands — fixture builder for the progressive
    decoder; dims must be multiples of 8. A nonzero
    *restart_interval* emits DRI + per-scan RSTn boundaries (EOB runs
    flushed before each marker, predictors reset, numbering from 0 in
    every scan)."""
    _check_fixture(width, height, gray, 1)
    return _encode_progressive(width, height, [gray], restart_interval)


def encode_jpeg_progressive_color(width: int, height: int, rgb: bytes) -> bytes:
    """Progressive (SOF2) 4:4:4 color encoder — JFIF transform, then
    the same successive-approximation scan script per component."""
    _check_fixture(width, height, rgb, 3)
    return _encode_progressive(width, height, _ycbcr_planes(width, height, rgb))


# ---------------------------------------------------------------------------
# QM arithmetic coder (T.81 Annex D): the adaptive binary arithmetic
# entropy coder behind arithmetic-coded JPEG (SOF9/SOF13). Implemented
# as a standalone primitive — encoder, decoder, and the probability
# estimation state machine with conditional exchange and
# renormalization. Byte transport uses JPEG FF-stuffing (a 0x00 stuff
# byte after every 0xFF data byte), so streams are marker-safe.
#
# Scope note (honest limits): the full arithmetic-coded JPEG ALSO
# needs the Annex F statistical models (DC difference classification,
# per-index AC contexts, conditioning bounds from the DAC segment);
# those remain on the injected-codec surface. This coder is the
# entropy core, validated by exhaustive self-roundtrip and
# compression-behavior tests — no external arithmetic-JPEG codec
# exists in this environment to interop against.
#
# The state table below is a PARTIAL transcription of the standard
# Qe estimation table (T.81 Table D.3 has 113 states; 65 are carried
# here, covering the fast-attack states and the main adaptation
# chain) with dangling next-state references clamped at module init
# so every walk stays in range. A truncated chain only coarsens
# probability ADAPTATION on extremely skewed long streams — it never
# affects the validity of streams produced and consumed by THIS
# encoder/decoder pair, which is what the tests pin. Bit-exact
# interop with external arithmetic-JPEG codecs would need the full
# 113-state table and stays on the injected surface (no such codec
# ships in this environment to validate against anyway).
# Entries: (Qe, NMPS, NLPS, SWITCH).
# ---------------------------------------------------------------------------

_QM_TABLE = [
    (0x5A1D, 1, 1, 1), (0x2586, 2, 6, 0), (0x1114, 3, 9, 0),
    (0x080B, 4, 12, 0), (0x03D8, 5, 29, 0), (0x01DA, 38, 33, 0),
    (0x5A7F, 7, 6, 1), (0x3F25, 8, 14, 0), (0x2CF2, 9, 14, 0),
    (0x207C, 10, 14, 0), (0x17B9, 11, 17, 0), (0x1182, 12, 18, 0),
    (0x0CEF, 13, 20, 0), (0x09A1, 14, 21, 0), (0x072F, 15, 14, 0),
    (0x055C, 16, 14, 0), (0x0406, 17, 14, 0), (0x0303, 18, 14, 0),
    (0x0240, 19, 14, 0), (0x01B1, 20, 15, 0), (0x0144, 21, 16, 0),
    (0x00F5, 22, 17, 0), (0x00B7, 23, 18, 0), (0x008A, 24, 19, 0),
    (0x0068, 25, 19, 0), (0x004E, 26, 20, 0), (0x003B, 27, 21, 0),
    (0x002C, 28, 22, 0), (0x0021, 29, 23, 0), (0x0019, 30, 24, 0),
    (0x0013, 31, 25, 0), (0x000E, 32, 26, 0), (0x000B, 33, 27, 0),
    (0x0009, 34, 28, 0), (0x0007, 35, 29, 0), (0x0005, 36, 30, 0),
    (0x0004, 37, 31, 0), (0x0003, 38, 32, 0), (0x0002, 38, 33, 0),
    (0x5A1D, 40, 39, 1), (0x4D04, 41, 45, 0), (0x412C, 42, 46, 0),
    (0x37D8, 43, 48, 0), (0x2FE6, 44, 50, 0), (0x293C, 45, 52, 0),
    (0x2379, 46, 53, 0), (0x1EDF, 47, 54, 0), (0x1AA9, 48, 56, 0),
    (0x174E, 49, 57, 0), (0x1424, 50, 59, 0), (0x119C, 51, 60, 0),
    (0x0F6B, 52, 62, 0), (0x0D51, 53, 63, 0), (0x0BB6, 54, 32, 0),
    (0x0A40, 55, 33, 0), (0x0901, 56, 37, 0), (0x07E9, 57, 64, 0),
    (0x06E7, 58, 65, 0), (0x059B, 59, 67, 0), (0x04D8, 60, 68, 0),
    (0x0412, 61, 69, 0), (0x0395, 62, 70, 0), (0x02FF, 63, 72, 0),
    (0x02A1, 32, 73, 0), (0x0243, 33, 74, 0),
]

# Clamp next-state references that point past the carried prefix of
# the table (see scope note above), then append the FIXED bin used
# for the AC sign decision: Qe = 0x5A1D, self-looping, never
# switching — a permanent 50/50 context (T.81 uses state 113 the
# same way).
_QM_TABLE = [
    (qe, min(nmps, len(_QM_TABLE) - 1), min(nlps, len(_QM_TABLE) - 1), sw)
    for qe, nmps, nlps, sw in _QM_TABLE
]
_QM_FIXED = len(_QM_TABLE)
_QM_TABLE.append((0x5A1D, _QM_FIXED, _QM_FIXED, 0))


class _QMContext:
    """One adaptive probability context: estimation-table index +
    current MPS sense."""

    __slots__ = ("index", "mps")

    def __init__(self) -> None:
        self.index = 0
        self.mps = 0


class _QMEncoder:
    """T.81 Annex D encoder: interval register A, code register C,
    carry/stuffing byte output via the pending-byte + stacked-0xFF
    scheme (a carry increments the pending byte and turns stacked
    0xFFs into 0x00s; a flushed data 0xFF gets a 0x00 stuff byte)."""

    def __init__(self) -> None:
        self.a = 0x10000
        self.c = 0
        self.ct = 11
        self.buffer = -1  # pending byte (-1 = none yet)
        self.sc = 0  # count of stacked 0xFF bytes
        self.out = bytearray()

    def _emit(self, b: int) -> None:
        # every emitted DATA byte goes through here: a 0xFF is always
        # followed by a 0x00 stuff byte, so the stream stays
        # marker-free and the decoder's "skip 0x00 after 0xFF" rule
        # is unambiguous (a carried byte can land on 0xFF too — the
        # stuffing must not depend on which path produced the byte)
        b &= 0xFF
        self.out.append(b)
        if b == 0xFF:
            self.out.append(0x00)

    def _byteout(self) -> None:
        t = self.c >> 19
        if t > 0xFF:
            # carry ripples into the pending byte and the FF stack
            if self.buffer >= 0:
                self._emit(self.buffer + 1)
            for _ in range(self.sc):
                self._emit(0x00)  # carried-through stacked FFs → 0x00
            self.sc = 0
            self.buffer = t & 0xFF
        elif t == 0xFF:
            self.sc += 1  # may still receive a carry — hold it
        else:
            if self.buffer >= 0:
                self._emit(self.buffer)
            for _ in range(self.sc):
                self._emit(0xFF)  # _emit appends the stuff byte itself
            self.sc = 0
            self.buffer = t
        self.c &= 0x7FFFF

    def _renorm(self) -> None:
        while True:
            self.a = (self.a << 1) & 0xFFFF_FFFF
            self.c = (self.c << 1) & 0xFFFF_FFFF
            self.ct -= 1
            if self.ct == 0:
                self._byteout()
                self.ct = 8
            if self.a & 0x8000:
                break

    def encode(self, ctx: _QMContext, bit: int) -> None:
        qe, nmps, nlps, switch = _QM_TABLE[ctx.index]
        if bit == ctx.mps:
            self.a -= qe
            if self.a & 0x8000:
                return  # short MPS path, no renorm
            if self.a < qe:  # conditional exchange
                self.c += self.a
                self.a = qe
            ctx.index = nmps
            self._renorm()
        else:
            self.a -= qe
            if self.a < qe:  # conditional exchange: LPS takes the
                pass  # lower subinterval — C unchanged, A already small
            else:
                self.c += self.a
                self.a = qe
            if switch:
                ctx.mps ^= 1
            ctx.index = nlps
            self._renorm()

    def flush(self) -> bytes:
        # CLEARBITS + FINALWRITES (T.81 D.1.8.2): set C to the
        # largest value in the final interval with trailing zeros,
        # then push out the remaining bytes.
        t = (self.c + self.a - 1) & 0xFFFF_0000
        if t < self.c:
            t += 0x8000
        self.c = t
        self.c = (self.c << self.ct) & 0xFFFF_FFFF
        self._byteout()
        self.c = (self.c << 8) & 0xFFFF_FFFF  # shift out remaining
        self._byteout()
        if self.buffer >= 0:
            self._emit(self.buffer)
        for _ in range(self.sc):
            self._emit(0xFF)  # _emit appends the stuff byte itself
        return bytes(self.out)


class _QMDecoder:
    """Mirror of :class:`_QMEncoder` over the code-value BIT stream:
    the encoder's byte machinery just packages the binary expansion
    of the final interval base (carry-resolved, FF-stuffed), so the
    decoder keeps a 16-bit code window ``cw`` ∈ [0, A) and shifts in
    one stream bit per renormalization step — the textbook QM decode
    geometry. Reads the FF-stuffed stream (skipping the 0x00 stuff
    after a data 0xFF) and feeds 0-bits past the end (the encoder's
    CLEARBITS chose the largest in-interval value with trailing
    ZEROS, so zero-feed is the faithful continuation)."""

    def __init__(self, data: bytes) -> None:
        self.data = bytes(data)
        self.pos = 0
        self.nbits = 0
        self.cur = 0
        self.a = 0x10000
        self.cw = 0
        for _ in range(16):
            self.cw = (self.cw << 1) | self._bit()

    def _bit(self) -> int:
        if self.nbits == 0:
            if self.pos >= len(self.data):
                self.cur = 0x00  # past end: trailing zeros
            else:
                b = self.data[self.pos]
                self.pos += 1
                if b == 0xFF and self.pos < len(self.data) and \
                        self.data[self.pos] == 0x00:
                    self.pos += 1  # drop the stuff byte
                self.cur = b
            self.nbits = 8
        self.nbits -= 1
        return (self.cur >> self.nbits) & 1

    def decode(self, ctx: _QMContext) -> int:
        qe, nmps, nlps, switch = _QM_TABLE[ctx.index]
        self.a -= qe
        if self.cw < self.a:
            if self.a & 0x8000:
                return ctx.mps  # short MPS path, no renorm
            if self.a < qe:  # conditional exchange
                bit = ctx.mps ^ 1
                if switch:
                    ctx.mps ^= 1
                ctx.index = nlps
            else:
                bit = ctx.mps
                ctx.index = nmps
        else:
            # upper subinterval (width Qe)
            self.cw -= self.a
            if self.a < qe:  # conditional exchange: this is the MPS
                bit = ctx.mps
                ctx.index = nmps
            else:
                bit = ctx.mps ^ 1
                if switch:
                    ctx.mps ^= 1
                ctx.index = nlps
            self.a = qe
        while not (self.a & 0x8000):
            self.a <<= 1
            self.cw = (self.cw << 1) | self._bit()
        return bit


# ---------------------------------------------------------------------------
# Arithmetic-coded JPEG (SOF9): sequential DCT frame whose entropy
# coding is the QM coder above with the T.81 Annex F statistical
# models — DC difference classification (sign + magnitude category +
# shared mantissa bins, conditioning on the previous diff's category
# via the L/U bounds) and per-index AC contexts (EOB/zero/nonzero
# triplets per k, two magnitude chains split at Kx, fixed-probability
# sign). Grayscale, one scan, default conditioning (L=0, U=1, Kx=5).
# Same honest scope as the QM core: exact against ITSELF (pytest
# roundtrip vs the baseline Huffman decode of the same coefficients);
# external interop needs the full 113-state table.
# ---------------------------------------------------------------------------

_ARITH_DC_L, _ARITH_DC_U, _ARITH_AC_KX = 0, 1, 5


class _ArithStats:
    """Per-component context banks: 64 DC bins, 256 AC bins, plus the
    shared fixed sign bin."""

    def __init__(self) -> None:
        self.dc = [_QMContext() for _ in range(64)]
        self.ac = [_QMContext() for _ in range(256)]
        self.fixed = _QMContext()
        self.fixed.index = _QM_FIXED


def _arith_encode_block(
    enc: _QMEncoder, stats: _ArithStats, zz: list[int], state: dict
) -> None:
    """Encode one quantized-zigzag block per T.81 F.1.4 (sequential
    DC then AC), updating the DC conditioning context in *state*."""
    v = zz[0] - state["last_dc"]
    state["last_dc"] = zz[0]
    st = state["dc_context"]
    if v == 0:
        enc.encode(stats.dc[st], 0)
        state["dc_context"] = 0
    else:
        enc.encode(stats.dc[st], 1)
        if v > 0:
            enc.encode(stats.dc[st + 1], 0)
            st += 2
            ctx = 4
        else:
            v = -v
            enc.encode(stats.dc[st + 1], 1)
            st += 3
            ctx = 8
        m = 0
        v -= 1
        if v:
            enc.encode(stats.dc[st], 1)
            m = 1
            v2 = v
            st = 20  # X1
            while v2 := v2 >> 1:
                enc.encode(stats.dc[st], 1)
                m <<= 1
                st += 1
        enc.encode(stats.dc[st], 0)
        if m < (1 << _ARITH_DC_L) >> 1:
            ctx = 0
        elif m > (1 << _ARITH_DC_U) >> 1:
            ctx += 8
        state["dc_context"] = ctx
        st += 14  # shared mantissa bin for this category
        while m := m >> 1:
            enc.encode(stats.dc[st], 1 if (m & v) else 0)

    ke = max((i for i in range(1, 64) if zz[i]), default=0)
    k = 1
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(stats.ac[st], 0)  # not EOB yet
        while zz[k] == 0:
            enc.encode(stats.ac[st + 1], 0)
            st += 3
            k += 1
        enc.encode(stats.ac[st + 1], 1)
        v = zz[k]
        if v > 0:
            enc.encode(stats.fixed, 0)
        else:
            v = -v
            enc.encode(stats.fixed, 1)
        st += 2
        m = 0
        v -= 1
        if v:
            enc.encode(stats.ac[st], 1)
            m = 1
            v2 = v
            if v2 := v2 >> 1:
                enc.encode(stats.ac[st], 1)  # v > 2, same context
                m <<= 1
                st = 189 if k <= _ARITH_AC_KX else 217
                while v2 := v2 >> 1:
                    enc.encode(stats.ac[st], 1)
                    m <<= 1
                    st += 1
        enc.encode(stats.ac[st], 0)
        st += 14
        while m := m >> 1:
            enc.encode(stats.ac[st], 1 if (m & v) else 0)
        k += 1
    if ke < 63:
        enc.encode(stats.ac[3 * ke], 1)  # EOB


def _arith_decode_block(
    dec: _QMDecoder, stats: _ArithStats, state: dict
) -> list[int]:
    """Mirror of :func:`_arith_encode_block`: one quantized-zigzag
    block back out of the QM stream."""
    zz = [0] * 64
    st = state["dc_context"]
    if dec.decode(stats.dc[st]) == 0:
        state["dc_context"] = 0
        diff = 0
    else:
        sign = dec.decode(stats.dc[st + 1])
        st += 2 + sign
        m = dec.decode(stats.dc[st])
        if m:
            st = 20
            while dec.decode(stats.dc[st]):
                m <<= 1
                if m >= 0x8000:
                    raise ValueError("arith DC magnitude overflow")
                st += 1
        ctx = 4 + 4 * sign
        if m < (1 << _ARITH_DC_L) >> 1:
            ctx = 0
        elif m > (1 << _ARITH_DC_U) >> 1:
            ctx = 12 + 4 * sign
        state["dc_context"] = ctx
        v = m
        st += 14
        while m := m >> 1:
            if dec.decode(stats.dc[st]):
                v |= m
        v += 1
        diff = -v if sign else v
    state["last_dc"] += diff
    zz[0] = state["last_dc"]

    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(stats.ac[st]):
            break  # EOB
        while dec.decode(stats.ac[st + 1]) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("arith AC run overflow")
        sign = dec.decode(stats.fixed)
        st += 2
        m = dec.decode(stats.ac[st])
        if m:
            if dec.decode(stats.ac[st]):
                m = 2
                st = 189 if k <= _ARITH_AC_KX else 217
                while dec.decode(stats.ac[st]):
                    m <<= 1
                    if m >= 0x8000:
                        raise ValueError("arith AC magnitude overflow")
                    st += 1
        v = m
        st += 14
        while m := m >> 1:
            if dec.decode(stats.ac[st]):
                v |= m
        v += 1
        zz[k] = -v if sign else v
        k += 1
    return zz


def encode_jpeg_arith_gray(width: int, height: int, gray: bytes) -> bytes:
    """Arithmetic-coded sequential JPEG (SOF9) encoder for one 8-bit
    grayscale component: the identical FDCT + quantization front end
    as :func:`encode_jpeg_gray`, entropy-coded by the QM coder with
    Annex F context models instead of Huffman tables (so the payload
    carries a DQT but no DHT)."""
    _check_fixture(width, height, gray, 1)
    enc = _QMEncoder()
    stats = _ArithStats()
    state = {"last_dc": 0, "dc_context": 0}
    for by in range(height // 8):
        for bx in range(width // 8):
            zz = _quant_zigzag_block(gray, width, bx * 8, by * 8)
            _arith_encode_block(enc, stats, zz, state)
    return (
        _JPEG_MAGIC
        + _frame_header(0xFFC9, width, height, [0x11], [])
        + _sos([0], 0, 63, 0)
        + enc.flush()
        + b"\xff\xd9"
    )


def _decode_jpeg_arith(payload: bytes) -> bytes:
    """Arithmetic-coded JPEG (SOF9, grayscale) decode to raw 8-bit
    bytes: QM-decode each block's quantized coefficients through the
    Annex F models, then the same dequant + IDCT + level-shift as the
    Huffman path."""
    for f, _sos_body, scan in _jpeg_scans(bytes(payload)):
        if f.sof != 0xFFC9 or f.comps[0][3] not in f.q:
            break
        if len(f.comps) != 1:
            raise NotImplementedError(
                "stdlib arithmetic JPEG covers one 8-bit component"
            )
        qtable = f.q[f.comps[0][3]]
        w, h = f.w, f.h
        dec = _QMDecoder(scan)
        stats = _ArithStats()
        state = {"last_dc": 0, "dc_context": 0}
        out = bytearray(w * h)
        for by in range(h // 8):
            for bx in range(w // 8):
                zz = _arith_decode_block(dec, stats, state)
                q = [0] * 64
                for i in range(64):
                    q[_ZIGZAG[i]] = zz[i]
                coef = [q[i] * qtable[i] for i in range(64)]
                pix = _idct8x8(coef)
                for y in range(8):
                    for x in range(8):
                        v = int(round(pix[y * 8 + x] + 128.0))
                        out[(by * 8 + y) * w + bx * 8 + x] = (
                            0 if v < 0 else (255 if v > 255 else v)
                        )
        return bytes(out)
    raise ValueError("arithmetic JPEG missing DQT/SOF9/SOS")
