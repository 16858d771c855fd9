"""Multimodal tests: schemas, mapInPandas batch shapes, the
deterministic fake featurizer, and the built-in stdlib image codecs
(PNG + the full baseline/progressive JPEG matrix); audio/video decode
stays injected — no codec libraries in this environment."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from heapdumpstardiver_spark import multimodal as M


@pytest.fixture(scope="module")
def media(spark):
    rows = [
        (1, "image", b"\x89PNG-fake-1", ("png", 640, 480, None, None)),
        (2, "image", b"\x89PNG-fake-2", ("png", 1024, 768, None, None)),
        (3, "audio", b"RIFF-fake", ("wav", None, None, 16000, 2_000)),
        (4, "video", b"mp4-fake", ("mp4", 1920, 1080, None, 5_500)),
    ]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_decode_non_png_without_codec_raises(media):
    # No injected codec and no PNG magic → the builtin dispatch raises
    # executor-side (surfaced by Spark as a PythonException on action).
    # Under host contention the action can instead surface a Py4J
    # worker-crash error whose TOP-LEVEL message lacks "codec", so
    # match against the full exception chain (str + causes + java
    # stack text), not just str(exc).
    def chain_text(exc) -> str:
        parts, seen = [], set()
        while exc is not None and id(exc) not in seen:
            seen.add(id(exc))
            parts.append(str(exc))
            parts.append(str(getattr(exc, "java_exception", "")))
            exc = exc.__cause__ or exc.__context__
        return "\n".join(parts)

    last = ""
    for _ in range(3):
        with pytest.raises(Exception) as excinfo:
            M.decode(media).collect()
        last = chain_text(excinfo.value)
        if "codec" in last:
            return
    pytest.fail(f"guard never surfaced 'codec' in 3 attempts; last: {last[:500]}")


def _pattern_rgb(width, height, salt):
    return bytes(
        (x * 7 + y * 13 + c * 31 + salt * 3) % 256
        for y in range(height)
        for x in range(width)
        for c in range(3)
    )


def test_png_roundtrip_all_filters():
    """encode→decode must reproduce pixels exactly under every PNG
    filter type (0-4) and under the per-row cycling default."""
    rgb = _pattern_rgb(9, 7, 1)
    for ft in (0, 1, 2, 3, 4, None):
        png = M.encode_png(9, 7, rgb, filter_type=ft)
        assert M.decode_png(png) == rgb, f"filter {ft}"


def test_decode_builtin_png_through_spark(spark):
    """Real PNG bytes through decode()'s mapInPandas with the builtin
    stdlib codec — decoded pixels verified value-for-value."""
    rows = [
        (k, "image", M.encode_png(8 + k, 5 + k, _pattern_rgb(8 + k, 5 + k, k)),
         ("png", 8 + k, 5 + k, None, None))
        for k in range(4)
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: bytes(r["decoded"]) for r in M.decode(df).collect()}
    for k in range(4):
        assert out[k] == _pattern_rgb(8 + k, 5 + k, k)


def test_decode_with_injected_decoder(media):
    out = M.decode(media, decoder=lambda payload: bytes(payload)[:4]).collect()
    assert {bytes(r["decoded"]) for r in out} == {b"\x89PNG", b"RIFF", b"mp4-"}


def test_extract_features_deterministic_unit_vectors(media):
    out = M.extract_features(media).collect()
    assert len(out) == 4
    for r in out:
        assert len(r["features"]) == M.FEATURE_DIM
        norm = sum(x * x for x in r["features"]) ** 0.5
        assert abs(norm - 1.0) < 1e-5
    # deterministic: same payload → same vector
    again = M.extract_features(media).collect()
    assert {r["media_id"]: r["features"] for r in out} == {
        r["media_id"]: r["features"] for r in again
    }


def test_resize_plan_metadata_only(media):
    out = {r["media_id"]: r for r in M.resize_plan(media, 320, 240).collect()}
    assert out[1]["meta"]["width"] == 320 and out[1]["scale_x"] == 2.0
    assert bytes(out[1]["payload"]) == b"\x89PNG-fake-1"  # payload untouched


def test_sample_frames_plan(media):
    frames = M.sample_frames(media, every_ms=1000).collect()
    # only the video row fans out: duration 5500ms → ts 0,1000,...,5000
    assert [r["frame_ts_ms"] for r in frames] == [0, 1000, 2000, 3000, 4000, 5000]
    assert all(r["media_id"] == 4 for r in frames)


def test_features_feed_ann(spark, media):
    """Features flow into the same cosine machinery as embeddings."""
    from heapdumpstardiver_spark.exprs import cosine

    feats = M.extract_features(media).select(
        "media_id", F.col("features").cast("array<double>").alias("v")
    )
    q = feats.filter(F.col("media_id") == 1).select(F.col("v").alias("qv"))
    sims = (
        feats.crossJoin(F.broadcast(q))
        .select("media_id", cosine(F.col("v"), F.col("qv")).alias("sim"))
        .collect()
    )
    by_id = {r["media_id"]: r["sim"] for r in sims}
    assert abs(by_id[1] - 1.0) < 1e-9
    assert all(abs(v) < 1.0 for k, v in by_id.items() if k != 1)


def test_decode_with_real_format_codec(spark):
    """Contract test for the injected-codec path: real BMP payloads,
    real pure-python parser, decoded pixels verified pixel-for-pixel."""

    # Helpers live inside the test so cloudpickle ships them by value
    # (executors do not import the tests package).
    def _bmp(width: int, height: int, pixels: list[tuple[int, int, int]]) -> bytes:
        """Build a genuine uncompressed 24-bit BMP (BITMAPINFOHEADER)."""
        import struct

        row_bytes = width * 3
        pad = (4 - row_bytes % 4) % 4
        body = b""
        # BMP rows are stored bottom-up
        for y in reversed(range(height)):
            row = b"".join(
                struct.pack("<BBB", *reversed(pixels[y * width + x]))  # stored BGR
                for x in range(width)
            )
            body += row + b"\x00" * pad
        dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(body), 2835, 2835, 0, 0)
        off = 14 + 40
        header = struct.pack("<2sIHHI", b"BM", off + len(body), 0, 0, off)
        return header + dib + body


    def _bmp_decode(payload: bytes) -> bytes:
        """Pure-python BMP codec: parse header, return top-down raw RGB.

        Stands in for PIL/libav to prove the decode() injection contract
        end-to-end with a REAL format parse, not a byte slice."""
        import struct

        b = bytes(payload)
        magic, _size, _r1, _r2, off = struct.unpack_from("<2sIHHI", b, 0)
        assert magic == b"BM"
        hdr_sz, width, height, _planes, bpp = struct.unpack_from("<IiiHH", b, 14)
        assert hdr_sz == 40 and bpp == 24
        row_bytes = width * 3
        pad = (4 - row_bytes % 4) % 4
        out = bytearray()
        for y in reversed(range(height)):  # back to top-down
            base = off + y * (row_bytes + pad)
            for x in range(width):
                bgr = b[base + 3 * x : base + 3 * x + 3]
                out += bytes(reversed(bgr))  # BGR -> RGB
        return bytes([width, height]) + bytes(out)

    px_a = [(255, 0, 0), (0, 255, 0), (0, 0, 255), (10, 20, 30)]  # 2x2
    px_b = [(1, 2, 3), (4, 5, 6), (7, 8, 9)]  # 3x1
    rows = [
        (1, "image", _bmp(2, 2, px_a), ("bmp", 2, 2, None, None)),
        (2, "image", _bmp(3, 1, px_b), ("bmp", 3, 1, None, None)),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r["media_id"]: r for r in M.decode(df, decoder=_bmp_decode).collect()}

    for mid, px in ((1, px_a), (2, px_b)):
        d = bytes(out[mid]["decoded"])
        w, h = d[0], d[1]
        assert (w, h) == (out[mid]["meta"]["width"], out[mid]["meta"]["height"])
        got = [tuple(d[2 + 3 * i : 5 + 3 * i]) for i in range(w * h)]
        assert got == px


def test_jpeg_flat_blocks_roundtrip_exact():
    """Block-constant images with EVEN gray levels survive the
    quant-step-16 baseline JPEG roundtrip EXACTLY (DC-only MCUs,
    v' = 2*round((v-128)/2)+128 = v) — the invariant the oracle-paired
    multimodal_jpeg_decode query leans on."""
    w, h = 24, 16
    gray = bytes(
        ((x // 8 * 14 + y // 8 * 26 + 12) % 128) * 2
        for y in range(h)
        for x in range(w)
    )
    assert M.decode_jpeg_gray(M.encode_jpeg_gray(w, h, gray)) == gray


def test_jpeg_lossy_roundtrip_within_quantization_error():
    """Non-flat blocks exercise the AC Huffman path (ZRL, EOB,
    categories) and the full IDCT; reconstruction error is bounded by
    the quantization step."""
    import random

    rnd = random.Random(7)
    w, h = 16, 16
    noisy = bytes(rnd.randrange(256) for _ in range(w * h))
    dec = M.decode_jpeg_gray(M.encode_jpeg_gray(w, h, noisy))
    assert max(abs(a - b) for a, b in zip(noisy, dec)) <= 40  # step-16 DCT bound
    grad = bytes(min(255, x * 3 + y * 5) for y in range(h) for x in range(w))
    dec2 = M.decode_jpeg_gray(M.encode_jpeg_gray(w, h, grad))
    assert max(abs(a - b) for a, b in zip(grad, dec2)) <= 16


def test_jpeg_decoder_rejects_unsupported_variants():
    """Unsupported/corrupt payloads stay loud: a BASELINE stream
    whose SOF marker is flipped to SOF2 routes to the progressive
    decoder and fails its scan-header validation (a baseline
    Ss=0/Se=63 scan is illegal in a progressive stream — ValueError,
    never silent garbage); flipped to SOF3 it routes to the lossless
    decoder, whose scan runs out of bytes on Huffman-coded DCT data
    (ValueError: a corrupt stream, not an unsupported format);
    garbage raises ValueError, a format outside the built-in surface
    raises NotImplementedError, and the builtin dispatcher routes JPEG
    magic to the JPEG path."""
    import struct

    gray = bytes(64 for _ in range(64))
    good = M.encode_jpeg_gray(8, 8, gray)
    # flip SOF0 -> SOF2: progressive container around baseline data
    progressive = good.replace(struct.pack(">H", 0xFFC0), struct.pack(">H", 0xFFC2), 1)
    with pytest.raises(ValueError):
        M.decode_jpeg_gray(progressive)
    # flip SOF0 -> SOF3: a lossless container around baseline data
    lossless = good.replace(struct.pack(">H", 0xFFC0), struct.pack(">H", 0xFFC3), 1)
    with pytest.raises(ValueError):
        M.decode_jpeg_gray(lossless)
    with pytest.raises(ValueError):
        M.decode_jpeg_gray(b"\xff\xd8garbage-not-a-jpeg")
    assert M._builtin_decoder(good) == gray
    with pytest.raises(NotImplementedError):
        M._builtin_decoder(b"GIF89a not a supported payload")


def test_jpeg_color_palette_blocks_roundtrip_exact():
    """Block-constant colors whose JFIF forward transform lands on
    all-even (Y, Cb, Cr) survive the 4:4:4 color roundtrip exactly as
    inv(fwd(color)) — the closed-form invariant the oracle-paired
    multimodal_jpeg_color_decode query leans on. Also pins the
    evenness property of the palette itself."""
    from heapdumpstardiver_spark.queries.media import _JPEG_PALETTE

    for c in _JPEG_PALETTE:
        y, cb, cr = M.rgb_to_ycbcr(*c)
        assert y % 2 == 0 and cb % 2 == 0 and cr % 2 == 0, c
    w, h = 24, 16
    rgb = bytearray()
    exp = bytearray()
    for yy in range(h):
        for xx in range(w):
            c = _JPEG_PALETTE[(xx // 8 + (yy // 8) * 3) % 12]
            rgb += bytes(c)
            exp += bytes(M.ycbcr_to_rgb(*M.rgb_to_ycbcr(*c)))
    dec = M.decode_jpeg_color(M.encode_jpeg_color(w, h, bytes(rgb)))
    assert dec == bytes(exp)


def test_jpeg_color_lossy_roundtrip_within_quantization_error():
    """Non-flat color blocks exercise the interleaved AC paths of all
    three components plus both color transforms; error stays within
    the quant-step + transform-rounding budget."""
    w, h = 16, 16
    grad = bytes(
        min(255, (x * 3 + y * 5 + ch * 17) % 256)
        for y in range(h)
        for x in range(w)
        for ch in range(3)
    )
    dec = M.decode_jpeg_color(M.encode_jpeg_color(w, h, grad))
    assert max(abs(a - b) for a, b in zip(grad, dec)) <= 40


def test_jpeg_color_component_routing():
    """decode_jpeg_gray refuses color payloads (and vice versa) with a
    clear error; the builtin dispatcher routes by component count."""
    gray = bytes(64 for _ in range(64))
    color = bytes(120 for _ in range(64 * 3))
    jg = M.encode_jpeg_gray(8, 8, gray)
    jc = M.encode_jpeg_color(8, 8, color)
    with pytest.raises(ValueError):
        M.decode_jpeg_gray(jc)
    with pytest.raises(ValueError):
        M.decode_jpeg_color(jg)
    # lossless and arithmetic frames are grayscale-only: same routing error
    for gray_only in (M.encode_jpeg_lossless(8, 8, gray), M.encode_jpeg_arith_gray(8, 8, gray)):
        with pytest.raises(ValueError, match="decode_jpeg_gray"):
            M.decode_jpeg_color(gray_only)
    assert M._builtin_decoder(jg) == gray
    assert M._builtin_decoder(jc) == color  # (120,120,120) is even-YCbCr flat


def test_jpeg_color_rejects_extreme_sampling():
    """Sampling factors beyond 2 (e.g. 0x33) stay env-blocked: the
    builtin decoder raises NotImplementedError (inject a codec).
    Factors up to 2 — 4:4:4 and 4:2:0/4:2:2 — decode stdlib-side."""
    jc = bytearray(M.encode_jpeg_color(8, 8, bytes(120 for _ in range(192))))
    i = jc.find(bytes([1, 0x11, 0, 2, 0x11, 1]))
    assert i > 0
    jc[i + 1] = 0x33  # 3x3 sampling: beyond the builtin surface
    with pytest.raises(NotImplementedError):
        M.decode_jpeg_color(bytes(jc))


def test_jpeg_420_flat_mcus_roundtrip_exact():
    """16x16-flat MCUs from the even-YCbCr palette survive the 4:2:0
    roundtrip exactly: flat chroma box-averages to itself, the even
    values pass the step-16 quantizer untouched, and replication
    upsampling reproduces the flat field — the invariant the
    oracle-paired multimodal_jpeg_420_decode query leans on."""
    from heapdumpstardiver_spark.queries.media import _JPEG_PALETTE

    w, h = 32, 48
    rgb = bytearray()
    exp = bytearray()
    for yy in range(h):
        for xx in range(w):
            c = _JPEG_PALETTE[(xx // 16 + (yy // 16) * 2) % 12]
            rgb += bytes(c)
            exp += bytes(M.ycbcr_to_rgb(*M.rgb_to_ycbcr(*c)))
    dec = M.decode_jpeg_color(M.encode_jpeg_420(w, h, bytes(rgb)))
    assert dec == bytes(exp)


def test_jpeg_420_lossy_roundtrip_on_smooth_gradient():
    """A smooth (non-wrapping) gradient through 4:2:0 stays within
    the quantizer + chroma-subsampling budget; hard edges smear by
    design (chroma replication), so the bound is only asserted on
    smooth content."""
    w, h = 32, 32
    grad = bytes(
        min(255, x * 3 + y * 2 + ch * 9)
        for y in range(h)
        for x in range(w)
        for ch in range(3)
    )
    dec = M.decode_jpeg_color(M.encode_jpeg_420(w, h, grad))
    assert max(abs(a - b) for a, b in zip(grad, dec)) <= 24


def test_jpeg_restart_intervals_roundtrip():
    """DRI/RSTn support: restart chunking must not change a single
    decoded pixel (flat-even payloads stay exact, noisy payloads
    decode identically with and without restarts — predictor resets
    and byte re-sync are transparent), and a desynced marker still
    fails loudly."""
    import random

    w, h = 32, 16
    flat = bytes(
        ((x // 8 * 14 + y // 8 * 26 + 12) % 128) * 2
        for y in range(h)
        for x in range(w)
    )
    for ri in (1, 2, 3, 5):
        assert (
            M.decode_jpeg_gray(M.encode_jpeg_gray(w, h, flat, restart_interval=ri))
            == flat
        )
    rnd = random.Random(3)
    noisy = bytes(rnd.randrange(256) for _ in range(w * h))
    base = M.decode_jpeg_gray(M.encode_jpeg_gray(w, h, noisy))
    for ri in (1, 2):
        assert (
            M.decode_jpeg_gray(M.encode_jpeg_gray(w, h, noisy, restart_interval=ri))
            == base
        )
    # corrupt one RST marker id -> ValueError, not silent garbage
    enc = bytearray(M.encode_jpeg_gray(w, h, noisy, restart_interval=1))
    i = enc.find(b"\xff\xd0")
    assert i > 0
    enc[i + 1] = 0xD5
    with pytest.raises(ValueError):
        M.decode_jpeg_gray(bytes(enc))


def test_jpeg_progressive_decode_identical_to_baseline():
    """The progressive pipeline (DC first/refine interleaved, AC
    first/refine per spectral band with EOBRUN, ZRL, buffered
    correction bits) must reconstruct EXACTLY the pixels the baseline
    path produces for the same image — both decode the same quantized
    coefficients, so any drift is a codec bug. Covers gray + 4:4:4
    color, flat/noisy/gradient content."""
    import random

    rnd = random.Random(11)
    for w, h in ((8, 8), (24, 16), (32, 32)):
        for g in (
            bytes(((x // 8 * 14 + y // 8 * 26 + 12) % 128) * 2
                  for y in range(h) for x in range(w)),
            bytes(rnd.randrange(256) for _ in range(w * h)),
            bytes(min(255, x * 3 + y * 5) for y in range(h) for x in range(w)),
        ):
            base = M.decode_jpeg_gray(M.encode_jpeg_gray(w, h, g))
            prog = M.decode_jpeg_gray(M.encode_jpeg_progressive_gray(w, h, g))
            assert prog == base
    w, h = 24, 16
    rgb = bytes(rnd.randrange(256) for _ in range(w * h * 3))
    assert M.decode_jpeg_color(
        M.encode_jpeg_progressive_color(w, h, rgb)
    ) == M.decode_jpeg_color(M.encode_jpeg_color(w, h, rgb))
    assert M._jpeg_is_progressive(M.encode_jpeg_progressive_gray(8, 8, bytes(64)))
    assert not M._jpeg_is_progressive(M.encode_jpeg_gray(8, 8, bytes(64)))


def test_jpeg_422_flat_mcus_roundtrip_exact_and_lossy_bound():
    """4:2:2 (horizontal-only chroma halving) completes the
    sampling-factor matrix the decoder accepts: flat even-YCbCr MCUs
    round-trip exactly (horizontal box average of a flat field +
    replication upsample are identities), smooth gradients stay in
    the quantizer budget — this is the only layout exercising the
    (2,1) factor geometry."""
    from heapdumpstardiver_spark.queries.media import _JPEG_PALETTE

    w, h = 32, 16
    rgb = bytearray()
    exp = bytearray()
    for yy in range(h):
        for xx in range(w):
            c = _JPEG_PALETTE[(xx // 16 + (yy // 16) * 2) % 12]
            rgb += bytes(c)
            exp += bytes(M.ycbcr_to_rgb(*M.rgb_to_ycbcr(*c)))
    assert M.decode_jpeg_color(M.encode_jpeg_422(w, h, bytes(rgb))) == bytes(exp)
    grad = bytes(
        min(255, x * 3 + y * 2 + ch * 9)
        for y in range(h)
        for x in range(w)
        for ch in range(3)
    )
    dec = M.decode_jpeg_color(M.encode_jpeg_422(w, h, grad))
    assert max(abs(a - b) for a, b in zip(grad, dec)) <= 24


def test_jpeg_progressive_restart_intervals_identical():
    """Restart boundaries inside PROGRESSIVE scans (EOB runs flushed
    before each RSTn, per-scan numbering, predictor resets) must not
    change a pixel: progressive+DRI decodes identical to baseline for
    the same image."""
    import random

    rnd = random.Random(5)
    w, h = 32, 16
    for g in (
        bytes(((x // 8 * 14 + y // 8 * 26 + 12) % 128) * 2
              for y in range(h) for x in range(w)),
        bytes(rnd.randrange(256) for _ in range(w * h)),
    ):
        base = M.decode_jpeg_gray(M.encode_jpeg_gray(w, h, g))
        for ri in (1, 2, 3):
            assert (
                M.decode_jpeg_gray(
                    M.encode_jpeg_progressive_gray(w, h, g, restart_interval=ri)
                )
                == base
            )


def test_mjpeg_container_roundtrip_exact():
    """encode_mjpeg → split_mjpeg recovers every frame byte-exactly,
    in order, regardless of 0xFF bytes inside entropy-coded data."""
    from heapdumpstardiver_spark import multimodal as M

    frames = [
        M.encode_jpeg_color(8, 8, bytes([(i * 7 + j) % 256 for j in range(8 * 8 * 3)]))
        for i in range(4)
    ]
    stream = M.encode_mjpeg(frames)
    assert M.split_mjpeg(stream) == frames


def test_mjpeg_split_rejects_malformed_streams():
    from heapdumpstardiver_spark import multimodal as M
    import pytest as _pytest

    f = M.encode_jpeg_gray(8, 8, bytes(64))
    good = M.encode_mjpeg([f])
    with _pytest.raises(ValueError):
        M.split_mjpeg(good[: len(good) // 2])  # truncated
    with _pytest.raises(ValueError):
        M.split_mjpeg(b"not a multipart stream at all")
    # corrupt the declared frame into non-JPEG bytes
    bad = good.replace(f, b"\x00" * len(f))
    with _pytest.raises(ValueError):
        M.split_mjpeg(bad)


def test_mjpeg_split_frames_stage(spark):
    """The one-pass split+decode mapInPandas stage emits one decoded
    row per frame with the container's frame order preserved."""
    from heapdumpstardiver_spark import multimodal as M

    flat = bytes([120, 120, 120]) * 64  # even-YCbCr gray → exact roundtrip
    frames = [M.encode_jpeg_color(8, 8, flat) for _ in range(3)]
    df = spark.createDataFrame(
        [(7, "video", M.encode_mjpeg(frames), ("mjpeg", 8, 8, None, 3))],
        M.MEDIA_SCHEMA,
    )
    rows = M.split_mjpeg_frames(df).orderBy("frame_idx").collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert all(bytes(r["decoded"]) == flat for r in rows)


def test_jpeg_lossless_roundtrip_exact_all_predictors():
    """SOF3 lossless: byte-exact roundtrip on dense noise for every
    spec predictor 1-7, including non-multiple-of-8 dims."""
    import random

    from heapdumpstardiver_spark import multimodal as M

    rng = random.Random(42)
    img = bytes(rng.randrange(256) for _ in range(24 * 16))
    for p in range(1, 8):
        enc = M.encode_jpeg_lossless(24, 16, img, predictor=p)
        assert M._decode_jpeg_lossless(enc) == img, f"predictor {p}"
    # dispatcher routes SOF3 automatically
    assert M.decode_jpeg_gray(M.encode_jpeg_lossless(23, 9, img[: 23 * 9])) == img[: 23 * 9]
    assert M._builtin_decoder(M.encode_jpeg_lossless(24, 16, img)) == img


def test_jpeg_lossless_rejects_bad_predictor():
    import pytest as _pytest

    from heapdumpstardiver_spark import multimodal as M

    with _pytest.raises(ValueError):
        M.encode_jpeg_lossless(8, 8, bytes(64), predictor=0)
    with _pytest.raises(ValueError):
        M.encode_jpeg_lossless(8, 8, bytes(64), predictor=8)


def test_jpeg_quant16_extended_sequential_decodes():
    """SOF1 + Pq=1 (16-bit quant tables): flat even blocks decode
    exactly; a smooth gradient stays within quantization tolerance —
    same bounds the 8-bit table path is pinned to."""
    from heapdumpstardiver_spark import multimodal as M

    flat = bytes([120]) * (16 * 8)
    enc = M.encode_jpeg_gray(16, 8, flat, quant16=True)
    assert b"\xff\xc1" in enc  # SOF1 frame
    assert M.decode_jpeg_gray(enc) == flat
    grad = bytes((x * 3 + y * 5) % 200 for y in range(8) for x in range(16))
    dec = M.decode_jpeg_gray(M.encode_jpeg_gray(16, 8, grad, quant16=True))
    assert max(abs(a - b) for a, b in zip(grad, dec)) <= 16


def test_qm_coder_roundtrip_and_compression():
    """The QM arithmetic coder: exact self-roundtrip across context
    assignments and skew levels, and real compression on skewed
    streams (5000 all-MPS decisions land in a few bytes)."""
    import random

    from heapdumpstardiver_spark.multimodal import (
        _QMContext,
        _QMDecoder,
        _QMEncoder,
    )

    rng = random.Random(5)
    for _ in range(50):
        n = rng.randrange(1, 300)
        p = rng.choice([0.5, 0.95, 0.999, 0.05])
        bits = [1 if rng.random() < p else 0 for _ in range(n)]
        nctx = rng.randrange(1, 5)
        asn = [rng.randrange(nctx) for _ in range(n)]
        enc = _QMEncoder()
        ectx = [_QMContext() for _ in range(nctx)]
        for b, a in zip(bits, asn):
            enc.encode(ectx[a], b)
        dec = _QMDecoder(enc.flush())
        dctx = [_QMContext() for _ in range(nctx)]
        assert [dec.decode(dctx[a]) for a in asn] == bits
    enc = _QMEncoder()
    ctx = _QMContext()
    for _ in range(5000):
        enc.encode(ctx, 0)
    assert len(enc.flush()) <= 8


def test_jpeg_arith_decodes_identical_to_huffman():
    """SOF9 arithmetic JPEG: decoding the QM-coded stream must yield
    EXACTLY the pixels the Huffman path produces for the same image —
    both share the DCT/quant front end, so any divergence is an
    entropy-layer bug. Arithmetic coding must also beat Huffman on
    size (that's its entire reason to exist)."""
    import random

    from heapdumpstardiver_spark import multimodal as M

    rng = random.Random(9)
    for _ in range(3):
        w, h = 8 * rng.randrange(1, 4), 8 * rng.randrange(1, 4)
        img = bytes(rng.randrange(256) for _ in range(w * h))
        arith = M.encode_jpeg_arith_gray(w, h, img)
        huff = M.encode_jpeg_gray(w, h, img)
        assert M._decode_jpeg_arith(arith) == M.decode_jpeg_gray(huff)
        assert len(arith) < len(huff)
    flat = bytes([120]) * (16 * 8)
    assert M.decode_jpeg_gray(M.encode_jpeg_arith_gray(16, 8, flat)) == flat
    assert M._builtin_decoder(M.encode_jpeg_arith_gray(16, 8, flat)) == flat


def test_wav_roundtrip_exact():
    """PCM16 WAV: encode→decode must reproduce the exact sample bytes
    (PCM is lossless), including negative samples, the full int16
    range, and an odd-length ancillary chunk before data (RIFF chunks
    are word-aligned — a parser that forgets the pad byte desyncs)."""
    import struct

    from heapdumpstardiver_spark import multimodal as M

    samples = [0, 1, -1, 32767, -32768, 12345, -12345] * 10
    wav = M.encode_wav_pcm16(samples, sample_rate=44100)
    pcm = M.decode_wav(wav)
    assert struct.unpack(f"<{len(samples)}h", pcm) == tuple(samples)
    assert M._builtin_decoder(wav) == pcm

    # splice an odd-length LIST chunk between fmt and data
    fmt_end = wav.index(b"data")
    spliced = wav[:fmt_end] + b"LIST" + struct.pack("<I", 3) + b"abc\x00" + wav[fmt_end:]
    assert M.decode_wav(spliced) == pcm


def test_wav_rejects_unsupported():
    """Stereo/8-bit/float WAV must raise NotImplementedError (inject a
    real codec for those), not silently mis-decode; truncated or
    non-RIFF payloads raise ValueError."""
    import struct

    import pytest

    from heapdumpstardiver_spark import multimodal as M

    wav = bytearray(M.encode_wav_pcm16([1, 2, 3]))
    fmt_off = wav.index(b"fmt ") + 8
    stereo = bytearray(wav)
    stereo[fmt_off + 2:fmt_off + 4] = struct.pack("<H", 2)  # channels=2
    with pytest.raises(NotImplementedError):
        M.decode_wav(bytes(stereo))
    fl = bytearray(wav)
    fl[fmt_off:fmt_off + 2] = struct.pack("<H", 3)  # IEEE float
    with pytest.raises(NotImplementedError):
        M.decode_wav(bytes(fl))
    with pytest.raises(ValueError):
        M.decode_wav(b"RIFFxxxxWAVE")  # no chunks
    with pytest.raises(ValueError):
        M.decode_wav(b"not a wav")


def test_truncated_payloads_raise_value_error():
    """Every proper prefix of a payload in each built-in format —
    PNG, WAV, and every JPEG variant — either decodes to the full
    payload's bytes or raises ValueError: a cut payload never decodes
    to wrong bytes and never surfaces as IndexError/struct.error/
    zlib.error/NotImplementedError. So does a PNG whose IHDR declares
    12 bytes, a WAV with a 14-byte ``fmt `` chunk and a JPEG whose DHT
    length is 10 bytes short."""
    gray = bytes((x * 37 + y * 11) % 256 for y in range(8) for x in range(8))
    rgb16 = _pattern_rgb(16, 16, 2)
    payloads = {
        "png": M.encode_png(3, 2, _pattern_rgb(3, 2, 1)),
        "wav": M.encode_wav_pcm16([0, 1, -1, 32767, -32768, 7]),
        "gray": M.encode_jpeg_gray(8, 8, gray),
        "444": M.encode_jpeg_color(8, 8, _pattern_rgb(8, 8, 3)),
        "422": M.encode_jpeg_422(16, 16, rgb16),
        "420": M.encode_jpeg_420(16, 16, rgb16),
        "restart": M.encode_jpeg_gray(16, 8, gray + gray[::-1], restart_interval=1),
        "progressive": M.encode_jpeg_progressive_gray(8, 8, gray),
        "progressive_color": M.encode_jpeg_progressive_color(8, 8, _pattern_rgb(8, 8, 5)),
        "lossless": M.encode_jpeg_lossless(5, 3, gray[:15]),
        "arith": M.encode_jpeg_arith_gray(8, 8, gray),
    }
    for name, payload in payloads.items():
        full = M._builtin_decoder(payload)
        for cut in range(len(payload)):
            try:
                got = M._builtin_decoder(payload[:cut])
            except ValueError:
                continue
            assert got == full, f"{name}: prefix of {cut}/{len(payload)} bytes decoded to wrong bytes"
    # Corrupt, not cut: a declared length that does not match what the
    # segment holds raises ValueError too.
    import struct

    png = payloads["png"]
    ihdr = png.index(b"IHDR") - 4
    bad_ihdr = png[:ihdr] + struct.pack(">I", 12) + png[ihdr + 4:]
    fmt = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)[:14]
    pcm = b"\x00\x01\x02\x03"
    body = b"WAVE" + b"fmt " + struct.pack("<I", 14) + fmt
    body += b"data" + struct.pack("<I", len(pcm)) + pcm
    short_fmt = b"RIFF" + struct.pack("<I", len(body)) + body
    jpg = payloads["gray"]
    dht = jpg.index(b"\xff\xc4")
    (ln,) = struct.unpack(">H", jpg[dht + 2:dht + 4])
    short_dht = jpg[:dht + 2] + struct.pack(">H", ln - 10) + jpg[dht + 4:]
    for name, payload in (("ihdr", bad_ihdr), ("fmt", short_fmt), ("dht", short_dht)):
        with pytest.raises(ValueError):
            M._builtin_decoder(payload)
