"""Multimodal binary-column queries over a synthesized media table.

The fixture warehouse has no binary columns, so these queries
synthesize one deterministically from ``documents``: the UTF-8
encoding of each text is the opaque payload (standing in for
image/audio/video bytes), the kind is derived from the id, and
metadata mirrors :data:`heapdumpstardiver_spark.multimodal.MEDIA_SCHEMA`.
What matters is that every downstream op treats payload as opaque
``binary`` exactly as a real media pipeline would — byte lengths,
fingerprints, Arrow-batched feature extraction, frame-sample fan-out —
so the whole plumbing is oracle-checked end to end. The codec layer
is real for all three modalities (stdlib PNG + the full baseline/
progressive JPEG matrix + MJPEG video split + PCM16 WAV audio — see
``multimodal.py``), with closed-form oracles over deterministic
fixtures; compressed audio and inter-coded video stay injected.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import multimodal as M
from ..catalog import load_table
from ..exprs import dot, round_col, round_sql
from ..registry import query


def _kind():
    m = F.col("doc_id") % 3
    return (
        F.when(m == 0, F.lit("image")).when(m == 1, F.lit("audio")).otherwise(F.lit("video"))
    )


def media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic media table conforming to MEDIA_SCHEMA: payload =
    UTF-8 bytes of the document text, duration = 10 ms per char."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        F.col("doc_id").alias("media_id"),
        _kind().alias("kind"),
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.lit("synthetic").alias("format"),
            F.lit(64).cast("int").alias("width"),
            F.lit(64).cast("int").alias("height"),
            F.lit(16000).cast("int").alias("sample_rate"),
            (F.col("n_chars") * 10).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


@query(
    "multimodal_payload_stats",
    oracle="""
    SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           count(*) AS n_items,
           CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           CAST(max(octet_length(encode(text))) AS BIGINT) AS max_bytes,
           count(DISTINCT source) AS n_sources
    FROM documents GROUP BY 1
    """,
)
def multimodal_payload_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary-payload census per media kind — byte sizing on the opaque
    payload column (octet_length over binary, JVM-side)."""
    d = load_table(spark, sf_dir, "documents")
    nb = F.octet_length(F.encode("text", "UTF-8"))
    return (
        d.select(_kind().alias("kind"), nb.alias("nb"), "source")
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("nb").cast("long").alias("total_bytes"),
            F.max("nb").cast("long").alias("max_bytes"),
            F.countDistinct("source").alias("n_sources"),
        )
    )


@query(
    "multimodal_fingerprint_topk",
    oracle="""
    SELECT doc_id AS media_id, md5(text) AS payload_md5,
           CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes
    FROM documents
    ORDER BY payload_bytes DESC, media_id
    LIMIT 20
    """,
)
def multimodal_fingerprint_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content fingerprints of the largest payloads: md5 over the raw
    payload bytes (the exact-dedup key for binary media), global
    top-k by size — TakeOrderedAndProject, no full sort."""
    m = media_table(spark, sf_dir)
    return (
        m.select(
            "media_id",
            F.md5("payload").alias("payload_md5"),
            F.octet_length("payload").cast("long").alias("payload_bytes"),
        )
        .orderBy(F.desc("payload_bytes"), "media_id")
        .limit(20)
    )


@query(
    "multimodal_frame_sample",
    oracle="""
    SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_ts_ms
    FROM (SELECT doc_id, CAST(n_chars * 10 AS BIGINT) AS dur
          FROM documents WHERE CAST(doc_id % 3 AS INT) = 2),
         UNNEST(generate_series(0, dur - 1, 1000)) AS t(f)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling fan-out (one row per sampled timestamp),
    derived purely from duration metadata — the payload column is
    dropped before the explode so media bytes are never duplicated."""
    return M.sample_frames(media_table(spark, sf_dir), every_ms=1000).select(
        "media_id", F.col("frame_ts_ms").cast("long").alias("frame_ts_ms")
    )


@query(
    "multimodal_feature_extract",
    oracle=f"""
    WITH h AS (
        SELECT doc_id AS media_id,
               CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
                    WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
               sha256(text) AS hx
        FROM documents
    ),
    r AS (
        -- the fake encoder, re-derived: 8 big-endian signed 32-bit ints
        -- from the sha256 digest (hex-sliced; sha256 of a non-empty
        -- payload is never all-zero, so no zero-norm guard needed)
        SELECT media_id, kind,
               list_transform(
                   list_transform(range(0, 8),
                       i -> CAST('0x' || substr(hx, i*8 + 1, 8) AS BIGINT)),
                   x -> CASE WHEN x >= 2147483648 THEN x - 4294967296 ELSE x END
               ) AS s
        FROM h
    ),
    n AS (
        -- exact int sum (no i64 overflow: list_sum widens to HUGEINT),
        -- then one double rounding — same as Python's float(int)**0.5
        SELECT media_id, kind, s,
               sqrt(CAST(list_sum(list_transform(s, x -> x * x)) AS DOUBLE)) AS nrm
        FROM r
    ),
    f AS (
        -- float32 quantization replicated with CAST(.. AS FLOAT)
        SELECT media_id, kind,
               list_transform(s, x -> CAST(x / nrm AS FLOAT)) AS feats
        FROM n
    )
    SELECT media_id, kind, CAST(8 AS INT) AS dim,
           {round_sql("sqrt(list_sum(list_transform(feats, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE))))", 6)} AS norm
    FROM f
    """,
)
def multimodal_feature_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched feature extraction over binary payloads
    (mapInPandas; deterministic sha256-based fake encoder — see
    multimodal.extract_features) followed by a JVM-side norm check.
    The oracle re-derives the encoder in SQL: DuckDB sha256 + hex
    slicing reproduces the digest ints, CAST(.. AS FLOAT) reproduces
    the float32 feature quantization, so even this Python-UDF stage is
    value-checked, not just row-counted."""
    feats = M.extract_features(media_table(spark, sf_dir))
    return feats.select(
        "media_id",
        "kind",
        F.size("features").alias("dim"),
        round_col(F.sqrt(dot(F.col("features"), F.col("features"))), 6).alias("norm"),
    )


def _fixture_frame(spark: SparkSession, rows: list, slices: int = 4) -> DataFrame:
    """MEDIA_SCHEMA frame over in-memory fixture rows. Parallelism is
    set at the source (numSlices), NOT via .repartition: a
    repartition would put the payload bytes through a round-robin
    exchange, breaking the payloads-never-shuffle contract the plan
    tests pin."""
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices), M.MEDIA_SCHEMA
    )


def _image_rows(n: int, dims, pixels, encode, fmt: str = "jpeg") -> list:
    """Fixture rows for images k = 0..n-1: image k is ``dims(k)`` =
    (w, h) with raw pixels ``pixels(w, h, k)`` and payload
    ``encode(w, h, raw)``."""
    rows = []
    for k in range(n):
        w, h = dims(k)
        rows.append((k, "image", encode(w, h, pixels(w, h, k)), (fmt, w, h, None, None)))
    return rows


def _byte_sums(channels: int) -> list:
    """``(name, pandas_udf)`` pairs summing decoded bytes: ``pixel_sum``
    over all bytes for one channel, ``r_sum``/``g_sum``/``b_sum`` over
    interleaved RGB. Lambdas, not defs: the module's postponed
    annotations break pandas_udf's type-hint introspection."""
    if channels == 1:
        return [
            ("pixel_sum", F.pandas_udf(lambda s: s.map(lambda b: int(sum(bytes(b)))), "long"))
        ]
    return [
        (
            f"{c}_sum",
            F.pandas_udf(
                lambda s, _o=off: s.map(lambda b: int(sum(bytes(b)[_o::3]))), "long"
            ),
        )
        for off, c in enumerate("rgb")
    ]


def _decoded_stats(
    spark: SparkSession,
    rows: list,
    channels: int = 1,
    slices: int = 4,
    lead: tuple = (),
    extra: tuple = (),
) -> DataFrame:
    """Decode fixture *rows* through ``multimodal.decode``'s
    Arrow-batched ``mapInPandas`` and reduce each image to media_id,
    the *lead* columns, width, height, n_bytes, its
    :func:`_byte_sums` and the *extra* ``(name, udf)`` stats, ordered
    by media_id. Payloads stay inside the one narrow decode stage;
    only fixed-width stats flow downstream."""
    stats = _byte_sums(channels) + list(extra)
    return (
        M.decode(_fixture_frame(spark, rows, slices))
        .select(
            F.col("media_id").cast("int").alias("media_id"),
            *lead,
            F.col("meta.width").alias("width"),
            F.col("meta.height").alias("height"),
            F.length("decoded").cast("long").alias("n_bytes"),
            *[udf("decoded").alias(name) for name, udf in stats],
        )
        .orderBy("media_id")
    )


def _png_pattern(width: int, height: int, salt: int) -> bytes:
    """Deterministic RGB test pattern: pixel (x, y, channel c) =
    (7x + 13y + 31c + 3*salt) mod 256 — closed-form, so an oracle can
    recompute every pixel without touching PNG bytes."""
    return bytes(
        (x * 7 + y * 13 + c * 31 + salt * 3) % 256
        for y in range(height)
        for x in range(width)
        for c in range(3)
    )


_N_PNG = 10  # images k=0..9, k-th is (8+k) x (5+k)


@query(
    "multimodal_png_decode",
    oracle=f"""
    WITH imgs(media_id, w, h) AS (
        SELECT i, 8 + i, 5 + i FROM (SELECT unnest(range({_N_PNG})) AS i)
    ),
    xs(x) AS (SELECT unnest(range(18))),
    ys(y) AS (SELECT unnest(range(15))),
    cs(c) AS (SELECT unnest(range(3))),
    px AS (
        SELECT media_id, w, h, (x * 7 + y * 13 + c * 31 + media_id * 3) % 256 AS v
        FROM imgs, xs, ys, cs WHERE x < w AND y < h
    )
    SELECT CAST(media_id AS INT) AS media_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(count(*) AS BIGINT) AS n_bytes,
           CAST(sum(v) AS BIGINT) AS pixel_sum
    FROM px GROUP BY media_id, w, h
    ORDER BY media_id
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real image decode through the production plumbing: deterministic
    PNG payloads (stdlib encoder, per-row filter cycling over all five
    PNG filter types) flow through ``multimodal.decode``'s Arrow-batched
    ``mapInPandas`` with the built-in zlib+unfilter codec, then a
    pandas_udf reduces decoded pixels to per-image statistics. The
    oracle never sees PNG bytes: DuckDB recomputes every pixel from the
    generative pattern formula, so any codec defect (wrong unfilter,
    wrong stride, dropped scanline) breaks the value hash.

    Scale shape: payloads stay inside one narrow mapInPandas stage
    (never shuffled); only fixed-width stats flow downstream — the
    contract a 100-TB image pipeline needs. Production swaps the codec
    for PIL/libav via decode(decoder=...); schema and plan unchanged."""
    rows = _image_rows(
        _N_PNG, lambda k: (8 + k, 5 + k), _png_pattern, M.encode_png, "png"
    )
    return _decoded_stats(spark, rows)


_N_JPEG = 10  # images k=0..9: w = 8*(1 + k%3), h = 8*(1 + k%2)


def _block_dims(k: int) -> tuple[int, int]:
    """Dims of block-fixture image k: w = 8*(1 + k%3), h = 8*(1 + k%2)."""
    return 8 * (1 + k % 3), 8 * (1 + k % 2)


def _jpeg_block_value(bx: int, by: int, salt: int) -> int:
    """Even gray level per 8x8 block — even so the quant-step-16
    DC-only reconstruction (v' = 2*round((v-128)/2)+128) is the
    identity and the oracle can demand EXACT pixel sums."""
    return ((bx * 14 + by * 26 + salt * 6) % 128) * 2


def _jpeg_pattern(width: int, height: int, salt: int) -> bytes:
    return bytes(
        _jpeg_block_value(x // 8, y // 8, salt)
        for y in range(height)
        for x in range(width)
    )


def _even_gray_oracle(n: int) -> str:
    """Oracle of the even-gray block fixtures (images k = 0..n-1 of
    :func:`_block_dims`, pixels :func:`_jpeg_pattern`): every decoded
    pixel recomputed from the generative formula."""
    return f"""
    WITH imgs(media_id, w, h) AS (
        SELECT i, 8 * (1 + i % 3), 8 * (1 + i % 2)
        FROM (SELECT unnest(range({n})) AS i)
    ),
    bxs(bx) AS (SELECT unnest(range(3))),
    bys(by) AS (SELECT unnest(range(2))),
    blocks AS (
        SELECT media_id, w, h,
               ((bx * 14 + by * 26 + media_id * 6) % 128) * 2 AS v
        FROM imgs, bxs, bys WHERE bx * 8 < w AND by * 8 < h
    )
    SELECT CAST(media_id AS INT) AS media_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_bytes,
           CAST(sum(v) * 64 AS BIGINT) AS pixel_sum
    FROM blocks GROUP BY media_id, w, h
    ORDER BY media_id
    """


@query("multimodal_jpeg_decode", oracle=_even_gray_oracle(_N_JPEG))
def multimodal_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG decode through the production plumbing — the
    lossy-codec twin of `multimodal_png_decode`: deterministic
    grayscale JPEGs (stdlib encoder: real FDCT, quantization, Annex-K
    Huffman) flow through ``multimodal.decode``'s Arrow-batched
    ``mapInPandas`` with the built-in Huffman+IDCT codec, then a
    pandas_udf reduces decoded pixels to per-image statistics. The
    fixtures are block-constant with EVEN gray levels, where
    quant-step-16 reconstruction is exactly lossless, so the DuckDB
    oracle recomputes every pixel from the generative formula and any
    codec defect (Huffman mis-decode, wrong dequant, IDCT/zigzag
    mix-up, dropped MCU) breaks the value hash; the LOSSY paths (AC
    coefficients, non-flat blocks) are covered by pytest roundtrip
    tolerance tests, which a value-hash oracle cannot express.

    Scale shape: identical to the PNG query — payloads never shuffle,
    one narrow mapInPandas stage, fixed-width stats downstream."""
    rows = _image_rows(_N_JPEG, _block_dims, _jpeg_pattern, M.encode_jpeg_gray)
    return _decoded_stats(spark, rows)


# ---------------------------------------------------------------------------
# Color (4:4:4) baseline JPEG decode
# ---------------------------------------------------------------------------

#: Flat fixture colors whose JFIF forward transform (floor(x+0.5))
#: lands on all-EVEN (Y, Cb, Cr) — the step-16 quantizer is exactly
#: the identity on even values, so the full encode→decode chain is
#: predictable in closed form from these RGB triples alone
#: (tests/test_multimodal.py pins the evenness invariant).
_JPEG_PALETTE = [
    (200, 40, 41), (40, 180, 60), (49, 79, 220), (221, 200, 40),
    (179, 60, 200), (40, 200, 199), (239, 139, 40), (120, 120, 120),
    (60, 30, 89), (230, 230, 230), (20, 20, 20), (149, 220, 180),
]

_N_JPEG_COLOR = 10  # images k=0..9: w = 8*(1 + k%3), h = 8*(1 + k%2)


def _jpeg_color_pattern(width: int, height: int, salt: int) -> bytes:
    out = bytearray()
    for y in range(height):
        for x in range(width):
            out += bytes(
                _JPEG_PALETTE[(x // 8 + (y // 8) * 3 + salt * 5) % 12]
            )
    return bytes(out)


def _pal_values_sql() -> str:
    return ", ".join(
        f"({i}, {r}, {g}, {b})" for i, (r, g, b) in enumerate(_JPEG_PALETTE)
    )


def _jfif_roundtrip_sql(keys: str, src: str) -> str:
    """The ``yc`` and ``rgb2`` CTEs: each (r, g, b) row of *src*
    through the JFIF forward transform and back, floor(x + 0.5) on
    DOUBLEs (e-notation literals) exactly as ``rgb_to_ycbcr`` /
    ``ycbcr_to_rgb`` round; *keys* are the columns carried along."""
    return f"""yc AS (
        SELECT {keys},
               CAST(floor(0.299e0 * r + 0.587e0 * g + 0.114e0 * b + 0.5e0) AS BIGINT) AS y,
               CAST(floor(128.0e0 - 0.168736e0 * r - 0.331264e0 * g + 0.5e0 * b + 0.5e0) AS BIGINT) AS cb,
               CAST(floor(128.0e0 + 0.5e0 * r - 0.418688e0 * g - 0.081312e0 * b + 0.5e0) AS BIGINT) AS cr
        FROM {src}
    ),
    rgb2 AS (
        SELECT {keys},
               CAST(floor(y + 1.402e0 * (cr - 128) + 0.5e0) AS BIGINT) AS r2,
               CAST(floor(y - 0.344136e0 * (cb - 128) - 0.714136e0 * (cr - 128) + 0.5e0) AS BIGINT) AS g2,
               CAST(floor(y + 1.772e0 * (cb - 128) + 0.5e0) AS BIGINT) AS b2
        FROM yc
    )"""


def _rgb_image_sums_sql(src: str, px: int) -> str:
    """:func:`_jfif_roundtrip_sql` over *src* rows (media_id, w, h,
    r, g, b — each standing for *px* identical pixels), then the
    per-image n_bytes and channel sums the color queries return."""
    return _jfif_roundtrip_sql("media_id, w, h", src) + f"""
    SELECT CAST(media_id AS INT) AS media_id,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(w * h * 3 AS BIGINT) AS n_bytes,
           CAST(sum(r2) * {px} AS BIGINT) AS r_sum,
           CAST(sum(g2) * {px} AS BIGINT) AS g_sum,
           CAST(sum(b2) * {px} AS BIGINT) AS b_sum
    FROM rgb2 GROUP BY media_id, w, h
    ORDER BY media_id
    """


@query(
    "multimodal_jpeg_color_decode",
    oracle=f"""
    WITH imgs(media_id, w, h) AS (
        SELECT i, 8 * (1 + i % 3), 8 * (1 + i % 2)
        FROM (SELECT unnest(range({_N_JPEG_COLOR})) AS i)
    ),
    bxs(bx) AS (SELECT unnest(range(3))),
    bys(by) AS (SELECT unnest(range(2))),
    pal(pi, r, g, b) AS (VALUES {_pal_values_sql()}),
    blocks AS (
        SELECT media_id, w, h, r, g, b
        FROM imgs, bxs, bys
        JOIN pal ON pi = (bx + by * 3 + media_id * 5) % 12
        WHERE bx * 8 < w AND by * 8 < h
    ),
    {_rgb_image_sums_sql("blocks", 64)}""",
)
def multimodal_jpeg_color_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:4:4 color baseline-JPEG decode through the production
    plumbing — extends `multimodal_jpeg_decode` to three
    Huffman-interleaved components (luma + Annex-K chroma tables,
    separate DC predictors, two DQTs) and the JFIF color transforms.
    Fixtures are block-constant colors from a palette chosen so the
    forward transform lands on all-even (Y, Cb, Cr): the step-16
    quantizer reconstructs those exactly, so the DuckDB oracle
    recomputes every decoded pixel in closed form by mirroring the
    floor(x+0.5) transform arithmetic in SQL (e-notation literals
    keep it DOUBLE, bit-identical to the Python codec). Any defect in
    the MCU interleave, chroma table decode, per-component DC chains,
    or either color transform breaks a channel sum.

    Scale shape: payloads never shuffle — one narrow Arrow-batched
    mapInPandas decode stage, fixed-width per-channel sums
    downstream."""
    rows = _image_rows(
        _N_JPEG_COLOR, _block_dims, _jpeg_color_pattern, M.encode_jpeg_color
    )
    return _decoded_stats(spark, rows, channels=3)


_N_JPEG_420 = 8  # images k=0..7: w = 16*(1 + k%2), h = 16*(1 + k%3)


def _jpeg_420_pattern(width: int, height: int, salt: int) -> bytes:
    out = bytearray()
    for y in range(height):
        for x in range(width):
            out += bytes(
                _JPEG_PALETTE[(x // 16 + (y // 16) * 2 + salt * 7) % 12]
            )
    return bytes(out)


@query(
    "multimodal_jpeg_420_decode",
    oracle=f"""
    WITH imgs(media_id, w, h) AS (
        SELECT i, 16 * (1 + i % 2), 16 * (1 + i % 3)
        FROM (SELECT unnest(range({_N_JPEG_420})) AS i)
    ),
    mxs(mx) AS (SELECT unnest(range(2))),
    mys(my) AS (SELECT unnest(range(3))),
    pal(pi, r, g, b) AS (VALUES {_pal_values_sql()}),
    mcus AS (
        SELECT media_id, w, h, r, g, b
        FROM imgs, mxs, mys
        JOIN pal ON pi = (mx + my * 2 + media_id * 7) % 12
        WHERE mx * 16 < w AND my * 16 < h
    ),
    {_rgb_image_sums_sql("mcus", 256)}""",
)
def multimodal_jpeg_420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:0 SUBSAMPLED baseline-JPEG decode through the production
    plumbing — the last stdlib-reachable JPEG layout after
    `multimodal_jpeg_decode` (grayscale) and
    `multimodal_jpeg_color_decode` (4:4:4): each MCU Huffman-
    interleaves four Y blocks with one box-downsampled Cb and Cr,
    and the decoder upsamples chroma by replication. Fixtures are
    16x16-flat MCUs from the all-even-YCbCr palette, where the
    downsample (box average of a flat field), the step-16 quantizer
    (identity on even values), and the replication upsample are all
    exact — so the DuckDB oracle again recomputes every decoded pixel
    in closed form from the palette and the mirrored JFIF transform
    arithmetic. Any defect in the 4:2:0 MCU geometry (block order,
    per-plane strides, factor-ratio sampling) shifts a channel sum.

    Scale shape: identical to the other media queries — payloads
    never shuffle, one narrow Arrow-batched mapInPandas stage."""
    rows = _image_rows(
        _N_JPEG_420,
        lambda k: (16 * (1 + k % 2), 16 * (1 + k % 3)),
        _jpeg_420_pattern,
        # restart_interval=2: every other MCU boundary carries a real
        # RSTn marker, so the driver gate also exercises the DRI
        # re-sync path (predictor reset + byte alignment) — restart
        # chunking never changes a decoded pixel, so the closed-form
        # oracle is unaffected
        lambda w, h, rgb: M.encode_jpeg_420(w, h, rgb, restart_interval=2),
    )
    return _decoded_stats(spark, rows, channels=3)


_N_JPEG_PROG = 8  # images k=0..7: w = 8*(1 + k%3), h = 8*(1 + k%2)


@query("multimodal_jpeg_progressive_decode", oracle=_even_gray_oracle(_N_JPEG_PROG))
def multimodal_jpeg_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode through the production plumbing
    — completes the JPEG matrix after baseline grayscale, 4:4:4, and
    4:2:0: the fixtures are multi-scan successive-approximation
    streams (interleaved DC first at Al=1, per-band AC first scans,
    a raw-bit DC refinement, per-band AC refinements with EOBRUN/ZRL
    and buffered correction bits). Progressive scans deposit
    approximation bits into per-block coefficient arrays and
    reconstruct to EXACTLY the pixels the baseline path yields for
    the same image (pinned by pytest), so the same even-valued
    block-constant fixtures stay closed-form and the DuckDB oracle
    recomputes every pixel from the generative formula. A decoder
    that mis-handles any scan type, the EOB run, or a correction bit
    shifts pixel_sum.

    Scale shape: payloads never shuffle — one narrow Arrow-batched
    mapInPandas stage, fixed-width stats downstream."""
    rows = _image_rows(
        _N_JPEG_PROG, _block_dims, _jpeg_pattern, M.encode_jpeg_progressive_gray
    )
    return _decoded_stats(spark, rows)


_N_JPEG_422 = 6  # images k=0..5: w = 16*(1 + k%2), h = 16


@query(
    "multimodal_jpeg_422_decode",
    oracle=f"""
    WITH imgs(media_id, w, h) AS (
        SELECT i, 16 * (1 + i % 2), 16
        FROM (SELECT unnest(range({_N_JPEG_422})) AS i)
    ),
    mxs(mx) AS (SELECT unnest(range(2))),
    pal(pi, r, g, b) AS (VALUES {_pal_values_sql()}),
    mcus AS (
        SELECT media_id, w, h, r, g, b
        FROM imgs, mxs
        JOIN pal ON pi = (mx + media_id * 5) % 12
        WHERE mx * 16 < w
    ),
    {_rgb_image_sums_sql("mcus", 256)}""",
)
def multimodal_jpeg_422_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """4:2:2 baseline-JPEG decode under the oracle gate — the (2,1)
    sampling-factor geometry (two Y blocks per MCU beside one Cb/Cr,
    horizontal-only chroma box average) that completes the decoder's
    {1,2}x{1,2} factor matrix. Fixtures are 16x16-flat MCUs (each
    spanning a 1x2 block column pair) from the all-even-YCbCr
    palette, so downsample, quantizer, and replication upsample are
    all exact and the DuckDB oracle stays closed-form — any defect
    in the horizontal MCU geometry or per-plane strides shifts a
    channel sum.

    Scale shape: identical to the other media queries — payloads
    never shuffle, one narrow Arrow-batched mapInPandas stage."""
    rows = _image_rows(
        _N_JPEG_422,
        lambda k: (16 * (1 + k % 2), 16),
        lambda w, h, k: bytes(
            b
            for y in range(h)
            for x in range(w)
            for b in _JPEG_PALETTE[(x // 16 + k * 5) % 12]
        ),
        M.encode_jpeg_422,
    )
    return _decoded_stats(spark, rows, channels=3, slices=3)


_N_MJPEG = 5  # videos k=0..4: w = 8*(1 + k%2), h = 8, frames = 2 + k%3


@query(
    "multimodal_mjpeg_frame_decode",
    oracle=f"""
    WITH vids(video_id, w, nf) AS (
        SELECT i, 8 * (1 + i % 2), 2 + i % 3
        FROM (SELECT unnest(range({_N_MJPEG})) AS i)
    ),
    frames AS (
        SELECT video_id, w, nf, CAST(f AS INT) AS frame_idx
        FROM vids, unnest(range(nf)) AS t(f)
    ),
    bxs(bx) AS (SELECT unnest(range(2))),
    pal(pi, r, g, b) AS (VALUES {_pal_values_sql()}),
    blocks AS (
        SELECT video_id, frame_idx, w, r, g, b
        FROM frames, bxs
        JOIN pal ON pi = (bx + (video_id * 3 + frame_idx) * 5) % 12
        WHERE bx * 8 < w
    ),
    {_jfif_roundtrip_sql("video_id, frame_idx, w", "blocks")}
    SELECT CAST(video_id AS INT) AS video_id, frame_idx,
           CAST(w AS INT) AS width, CAST(8 AS INT) AS height,
           CAST(w * 8 * 3 AS BIGINT) AS n_bytes,
           CAST(sum(r2) * 64 AS BIGINT) AS r_sum,
           CAST(sum(g2) * 64 AS BIGINT) AS g_sum,
           CAST(sum(b2) * 64 AS BIGINT) AS b_sum
    FROM rgb2 GROUP BY video_id, frame_idx, w
    ORDER BY video_id, frame_idx
    """,
)
def multimodal_mjpeg_frame_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MJPEG video → per-frame pixel statistics through the production
    plumbing: deterministic multipart MJPEG streams (the
    Content-Length-framed multipart/x-mixed-replace container IP
    cameras emit, written by ``multimodal.encode_mjpeg``) are split
    AND decoded in one Arrow-batched ``mapInPandas`` stage
    (``multimodal.split_mjpeg_frames``) — container split by declared
    part length (marker scanning would trip on 0xFF bytes in entropy
    data), each part a standalone 4:4:4 color baseline JPEG decoded
    by the built-in stdlib codec. This closes the "video" line of the
    codec-injection surface; inter-frame codecs (H.264) stay
    injected.

    Fixtures reuse the even-(Y,Cb,Cr) palette from
    `multimodal_jpeg_color_decode`, so the DuckDB oracle recomputes
    every frame's channel sums in closed form from the generative
    formula — a wrong frame boundary, dropped frame, frame-order
    swap, or any decoder defect breaks the (video_id, frame_idx)
    rows.

    Scale shape: payloads never shuffle — the one mapInPandas stage
    reads each video payload once and emits fixed-width frame rows;
    everything downstream is per-frame arithmetic on those rows."""
    rows = []
    for k in range(_N_MJPEG):
        w, nf = 8 * (1 + k % 2), 2 + k % 3
        frames = [
            M.encode_jpeg_color(w, 8, _jpeg_color_pattern(w, 8, k * 3 + f))
            for f in range(nf)
        ]
        rows.append(
            (k, "video", M.encode_mjpeg(frames), ("mjpeg", w, 8, None, nf))
        )
    return (
        M.split_mjpeg_frames(_fixture_frame(spark, rows, 2))
        .select(
            F.col("media_id").cast("int").alias("video_id"),
            "frame_idx",
            (F.length("decoded") / 24).cast("int").alias("width"),
            F.lit(8).cast("int").alias("height"),
            F.length("decoded").cast("long").alias("n_bytes"),
            *[udf("decoded").alias(name) for name, udf in _byte_sums(3)],
        )
        .orderBy("video_id", "frame_idx")
    )


_N_JPEG_LOSSLESS = 8  # k=0..7: w = 8 + 4*(k%3), h = 8 + 4*(k%2), pred = 1+k%7


def _jpeg_lossless_pattern(width: int, height: int, salt: int) -> bytes:
    """Arbitrary deterministic pattern — lossless JPEG reconstructs
    EVERY input exactly, so the fixture needs no evenness/flatness
    property (unlike the DCT queries) and uses odd dims freely."""
    return bytes(
        (x * 7 + y * 13 + salt * 29) % 256
        for y in range(height)
        for x in range(width)
    )


@query(
    "multimodal_jpeg_lossless_decode",
    oracle=f"""
    WITH imgs(media_id, w, h, pred) AS (
        SELECT i, 8 + 4 * (i % 3), 8 + 4 * (i % 2), 1 + i % 7
        FROM (SELECT unnest(range({_N_JPEG_LOSSLESS})) AS i)
    ),
    px AS (
        SELECT media_id, w, h, pred,
               (x * 7 + y * 13 + media_id * 29) % 256 AS v
        FROM imgs,
             unnest(range(24)) AS tx(x),
             unnest(range(12)) AS ty(y)
        WHERE x < w AND y < h
    )
    SELECT CAST(media_id AS INT) AS media_id,
           CAST(pred AS INT) AS predictor,
           CAST(w AS INT) AS width, CAST(h AS INT) AS height,
           CAST(w * h AS BIGINT) AS n_bytes,
           CAST(sum(v) AS BIGINT) AS pixel_sum,
           CAST(sum(CASE WHEN v % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS odd_pixels
    FROM px GROUP BY media_id, w, h, pred
    ORDER BY media_id
    """,
)
def multimodal_jpeg_lossless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless JPEG (SOF3, T.81 Annex H) decode through the
    production plumbing: Huffman-coded prediction residuals, no DCT,
    no quantization — each of the seven spec predictors is exercised
    by one fixture (predictor = 1 + k%7 via the SOS Ss field). The
    codec is EXACT on arbitrary input, so the fixtures are dense
    byte-noise patterns (no evenness constraint, non-multiple-of-8
    dims) and the DuckDB oracle recomputes every pixel from the
    generative formula — any residual mis-decode, predictor mix-up,
    or first-row/first-column boundary bug breaks pixel_sum or the
    odd_pixels parity count (which a DCT-rounding bug could never
    leave intact by accident).

    Scale shape: same as every codec query — payloads never shuffle,
    one Arrow-batched mapInPandas decode stage, fixed-width stats
    downstream."""
    rows = []
    for k in range(_N_JPEG_LOSSLESS):
        w, h, pred = 8 + 4 * (k % 3), 8 + 4 * (k % 2), 1 + k % 7
        rows.append(
            (
                k,
                "image",
                M.encode_jpeg_lossless(
                    w, h, _jpeg_lossless_pattern(w, h, k), predictor=pred
                ),
                ("jpeg-lossless", w, h, None, None),
            )
        )
    odd_count = F.pandas_udf(
        lambda s: s.map(lambda b: int(sum(1 for v in bytes(b) if v % 2))), "long"
    )
    preds = F.lit(1) + (F.col("media_id") % 7).cast("int")
    return _decoded_stats(
        spark,
        rows,
        lead=(preds.alias("predictor"),),
        extra=(("odd_pixels", odd_count),),
    )


_N_JPEG_ARITH = 8  # k=0..7: w = 8*(1 + k%3), h = 8*(1 + k%2)


@query("multimodal_jpeg_arith_decode", oracle=_even_gray_oracle(_N_JPEG_ARITH))
def multimodal_jpeg_arith_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arithmetic-coded JPEG (SOF9) decode through the production
    plumbing: the same even-gray block-constant fixtures as
    `multimodal_jpeg_decode` (step-16 quantization is the identity on
    them, so the decode is exactly predictable), but entropy-coded by
    the QM arithmetic coder with the T.81 Annex F DC/AC statistical
    models instead of Huffman tables — DC difference classification
    with L/U conditioning, per-index AC EOB/zero contexts, magnitude
    chains split at Kx, fixed-probability sign. The DuckDB oracle
    recomputes every pixel from the generative formula, so any defect
    in the QM interval arithmetic, carry/stuffing byte machinery, or
    either statistical model breaks the value hash. (pytest
    additionally pins arithmetic decode pixel-identical to the
    Huffman path on dense-noise images, where every context gets
    exercised.)

    Scale shape: payloads never shuffle — one Arrow-batched
    mapInPandas decode stage, fixed-width stats downstream."""
    rows = _image_rows(
        _N_JPEG_ARITH, _block_dims, _jpeg_pattern, M.encode_jpeg_arith_gray,
        "jpeg-arith",
    )
    return _decoded_stats(spark, rows)


# ---------------------------------------------------------------------------
# WAV audio decode — the audio member of the built-in codec family
# ---------------------------------------------------------------------------

_N_WAV = 10  # clips k=0..9


def _wav_samples(k: int) -> list[int]:
    """Deterministic integer sawtooth for clip k — pure integer
    arithmetic (no libm), so the DuckDB oracle recomputes every
    sample exactly: s_i = ((i·step) mod 2·amp) − amp."""
    n = 400 + 100 * (k % 3)
    step = 2 * k + 3
    amp = 1000 * (1 + k % 4)
    return [((i * step) % (2 * amp)) - amp for i in range(n)]


def _wav_frame(spark: SparkSession) -> DataFrame:
    """Clips k = 0..9 of :func:`_wav_samples` as PCM16 WAV media rows."""
    rows = [
        (
            k,
            "audio",
            M.encode_wav_pcm16(_wav_samples(k)),
            ("wav", None, None, 8000, (400 + 100 * (k % 3)) * 1000 // 8000),
        )
        for k in range(_N_WAV)
    ]
    return _fixture_frame(spark, rows)


@query(
    "multimodal_wav_audio_decode",
    oracle="""
    WITH clips(media_id, n, step, amp) AS (
        SELECT i, 400 + 100 * (i % 3), 2 * i + 3, 1000 * (1 + i % 4)
        FROM (SELECT unnest(range(10)) AS i)
    ),
    samples AS (
        SELECT media_id, u.i AS i,
               ((u.i * step) % (2 * amp)) - amp AS s
        FROM clips, unnest(range(n)) AS u(i)
    ),
    lagged AS (
        SELECT media_id, s,
               lag(s) OVER (PARTITION BY media_id ORDER BY i) AS prev
        FROM samples
    ),
    feats AS (
        SELECT media_id,
               CAST(count(*) AS BIGINT) AS n_samples,
               CAST(max(s) AS BIGINT) AS peak,
               CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
               CAST(sum(CASE WHEN prev IS NOT NULL AND s * prev < 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross,
               CAST(sum(s * s) AS BIGINT) AS sum_sq
        FROM lagged GROUP BY media_id
    )
    SELECT media_id, n_samples, peak, sum_abs, zero_cross,
           CAST(floor(sqrt(CAST(sum_sq AS DOUBLE) / n_samples) * 1000 + 0.5)
                AS BIGINT) AS rms_milli
    FROM feats ORDER BY media_id
    """,
)
def multimodal_wav_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIFF/WAVE decode through the production plumbing — the AUDIO
    twin of `multimodal_png_decode`/`multimodal_jpeg_decode`, closing
    the audio line of the modality matrix with a real stdlib codec:
    deterministic integer-sawtooth clips (`encode_wav_pcm16`) flow
    through ``multimodal.decode``'s Arrow-batched ``mapInPandas``
    (chunk-walking RIFF parser, `decode_wav`), then ONE
    struct-returning pandas_udf reduces the PCM to per-clip audio
    features (peak, |x| sum, zero crossings, RMS). PCM16 is lossless,
    so the DuckDB oracle recomputes every sample from the generative
    formula — any header mis-parse, byte-order flip, or dropped/
    misaligned chunk breaks the value hash. RMS is the one double:
    √(Σs²/n) from exact integers is bit-identical across engines
    (IEEE sqrt/divide are correctly rounded), then floored to
    integer milli-units.

    Scale shape: payloads never shuffle — decode and feature
    extraction are narrow Arrow stages over the storage partitioning;
    only fixed-width BIGINT features flow downstream."""
    import pandas as pd

    df = _wav_frame(spark)

    feat_schema = (
        "n_samples bigint, peak bigint, sum_abs bigint, "
        "zero_cross bigint, rms_milli bigint"
    )

    # lambda-style registration (module uses `from __future__ import
    # annotations`, which stringifies type hints and breaks
    # pandas_udf's hint introspection — same reason as _byte_sums)
    def _wav_feature_frame(payloads):
        import numpy as np

        out = []
        for b in payloads:
            x = np.frombuffer(bytes(b), dtype="<i2").astype(np.int64)
            n = int(len(x))
            sum_sq = int((x * x).sum())
            out.append(
                {
                    "n_samples": n,
                    "peak": int(x.max()),
                    "sum_abs": int(np.abs(x).sum()),
                    "zero_cross": int(((x[1:] * x[:-1]) < 0).sum()),
                    "rms_milli": int(
                        np.floor(np.sqrt(sum_sq / n) * 1000.0 + 0.5)
                    ),
                }
            )
        return pd.DataFrame(out)

    wav_feats = F.pandas_udf(_wav_feature_frame, feat_schema)

    return (
        M.decode(df)
        .select("media_id", wav_feats("decoded").alias("f"))
        .select(
            "media_id",
            "f.n_samples",
            "f.peak",
            "f.sum_abs",
            "f.zero_cross",
            "f.rms_milli",
        )
        .orderBy("media_id")
    )


@query(
    "multimodal_audio_frame_energy",
    oracle="""
    WITH clips(media_id, n, step, amp) AS (
        SELECT i, 400 + 100 * (i % 3), 2 * i + 3, 1000 * (1 + i % 4)
        FROM (SELECT unnest(range(10)) AS i)
    ),
    samples AS (
        SELECT media_id, u.i AS i, u.i // 100 AS frame_idx,
               ((u.i * step) % (2 * amp)) - amp AS s
        FROM clips, unnest(range(n)) AS u(i)
    ),
    lagged AS (
        SELECT media_id, frame_idx, s,
               lag(s) OVER (PARTITION BY media_id, frame_idx ORDER BY i)
                   AS prev
        FROM samples
    ),
    frames AS (
        SELECT media_id, frame_idx,
               CAST(sum(s * s) AS BIGINT) AS energy,
               CAST(sum(CASE WHEN prev IS NOT NULL AND s * prev < 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
        FROM lagged GROUP BY media_id, frame_idx
    ),
    ranked AS (
        SELECT media_id, frame_idx, energy, zero_cross,
               row_number() OVER (
                   PARTITION BY media_id
                   ORDER BY energy DESC, frame_idx) AS rk
        FROM frames
    )
    SELECT media_id, CAST(frame_idx AS BIGINT) AS frame_idx,
           energy, zero_cross, CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY media_id, rk
    """,
)
def multimodal_audio_frame_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level audio analysis: the 3 highest-energy 100-sample
    frames per clip with per-frame zero-crossing counts — the
    voice-activity/onset-detection primitive (frame → energy rank →
    segment selection), demonstrating FRAME-wise featurization where
    `multimodal_wav_audio_decode` is clip-wise. One pandas_udf emits
    each clip's frame table as an array<struct> that EXPLODES
    JVM-side, so the top-k ranking, tie-breaks, and ordering all run
    in Spark proper on exact BIGINTs (frame energies from int16 PCM
    can't overflow: 100·32768² ≪ 2⁶³); the DuckDB oracle recomputes
    every frame from the generative sawtooth formula.

    Scale shape: payloads stay in one narrow Arrow chain
    (decode → frame features); only the fixed-width frame table
    crosses into the engine, and the per-clip top-3 window partitions
    by media_id."""
    import pandas as pd

    df = _wav_frame(spark)

    frame_schema = (
        "array<struct<frame_idx: bigint, energy: bigint, zero_cross: bigint>>"
    )

    def _frame_table(payloads):
        import numpy as np

        out = []
        for b in payloads:
            x = np.frombuffer(bytes(b), dtype="<i2").astype(np.int64)
            frames = x.reshape(-1, 100)
            energy = (frames * frames).sum(axis=1)
            zc = ((frames[:, 1:] * frames[:, :-1]) < 0).sum(axis=1)
            out.append(
                [
                    {
                        "frame_idx": int(i),
                        "energy": int(energy[i]),
                        "zero_cross": int(zc[i]),
                    }
                    for i in range(len(frames))
                ]
            )
        return pd.Series(out)

    frame_udf = F.pandas_udf(_frame_table, frame_schema)
    from pyspark.sql import Window

    w = Window.partitionBy("media_id").orderBy(
        F.desc("energy"), "frame_idx"
    )
    return (
        M.decode(df)
        .select("media_id", F.explode(frame_udf("decoded")).alias("f"))
        .select("media_id", "f.frame_idx", "f.energy", "f.zero_cross")
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "media_id",
            "frame_idx",
            "energy",
            "zero_cross",
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("media_id", "rk")
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (pHash) image near-duplicate detection
# ---------------------------------------------------------------------------
#
# DCT-based pHash (the classic perceptual hash: 32x32 luma -> 2D DCT
# -> 8x8 low-frequency block -> median-threshold bits) with the
# banded-Hamming LSH candidate pattern from the text dedup family —
# the IMAGE twin of `incremental_dedup_lsh_batch`'s document pipeline.
# Everything is integer-exact: the DCT uses a scaled integer cosine
# table (round(cos(pi*(2n+1)k/64) * 1024)) computed ONCE here and
# embedded as the same literal in BOTH engines, so the oracle can
# unroll the full transform in SQL.

import math as _math

_PHASH_SCALE = 1024
_PHASH_COS = [
    [
        int(_math.floor(_math.cos(_math.pi * (2 * n + 1) * k / 64) * _PHASH_SCALE + 0.5))
        for n in range(32)
    ]
    for k in range(8)
]
_PHASH_N_BASE = 8      # distinct source images
_PHASH_N_VARIANT = 3   # j=0 original, j=1/2 lightly perturbed re-encodes
_PHASH_HAM_T = 7       # <= 7 bit flips over 63 bits = near-duplicate
_PHASH_BANDS = 8       # 8 bands x 8 bits: pigeonhole-exact for d <= 7


def _phash_pixel(b: int, j: int, x: int, y: int) -> int:
    """Deterministic 32x32 luma fixture: 4x4-pixel blocks whose
    intensity is a per-base hash (rich LOW-frequency content, so
    bases are far apart in pHash space — measured cross-base Hamming
    >= 22), plus variant noise j*25 on ~1/4 of pixels (measured
    same-base Hamming 0-3, comfortably under the <= 7 threshold)."""
    p = ((b * 37 + (x // 4) * 53 + (y // 4) * 71) % 17) * 15
    n = j * 25 if (x * 31 + y * 17 + b) % 4 == 0 else 0
    return min(p + n, 255)


def _cos_values_sql(table: list[list[int]]) -> str:
    """(k, n, c) VALUES rows of an integer cosine table."""
    return ", ".join(
        f"({k}, {n}, {c})" for k, row in enumerate(table) for n, c in enumerate(row)
    )


def _phash_bits(p) -> int:
    """63-bit pHash of a 32x32 int64 luma array p[y, x]: integer DCT
    (fm[u, w] = sum p[y,x] C[u,x] C[w,y]) over the shared cosine
    table, top-left 8x8 block without DC, bit set where a coefficient
    exceeds the rank-32 threshold."""
    import numpy as np

    cosm = np.array(_PHASH_COS, dtype=np.int64)
    fm = cosm @ p.T @ cosm.T
    flat = [
        (int(fm[u, w]), u * 8 + w)
        for u in range(8)
        for w in range(8)
        if (u, w) != (0, 0)
    ]
    thr = sorted(flat)[31][0]
    h = 0
    for f, idx in flat:
        if f > thr:
            h |= 1 << (idx - 1)
    return h


def _hash_bands() -> Column:
    """Explode of a 63-bit hash column ``h`` into its 8x8-bit
    Hamming-LSH bands, struct ``bd`` = (k, bv)."""
    return F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(k).alias("k"),
                    F.shiftright("h", k * 8).bitwiseAND(F.lit(255)).alias("bv"),
                )
                for k in range(_PHASH_BANDS)
            ]
        )
    ).alias("bd")


def _phash_oracle() -> str:
    return f"""
    WITH ct(k, n, c) AS (SELECT * FROM (VALUES {_cos_values_sql(_PHASH_COS)}) t(k, n, c)),
    imgs AS (
        SELECT b, j, b * {_PHASH_N_VARIANT} + j AS media_id
        FROM range({_PHASH_N_BASE}) rb(b), range({_PHASH_N_VARIANT}) rj(j)
    ),
    px AS (
        SELECT media_id, x, y,
               least(((b*37 + (x//4)*53 + (y//4)*71) % 17) * 15
                     + CASE WHEN (x*31 + y*17 + b) % 4 = 0
                            THEN j * 25 ELSE 0 END, 255) AS v
        FROM imgs, range(32) rx(x), range(32) ry(y)
    ),
    coef AS (
        SELECT media_id, cu.k AS u, cv.k AS w,
               CAST(sum(CAST(px.v AS BIGINT) * cu.c * cv.c) AS BIGINT) AS f
        FROM px JOIN ct cu ON cu.n = px.x JOIN ct cv ON cv.n = px.y
        GROUP BY 1, 2, 3
    ),
    ac AS (SELECT media_id, u, w, f FROM coef WHERE NOT (u = 0 AND w = 0)),
    thr AS (
        SELECT media_id, f AS thr FROM (
            SELECT media_id, f, row_number() OVER (
                PARTITION BY media_id ORDER BY f, u*8 + w) AS rn
            FROM ac) WHERE rn = 32
    ),
    hashes AS (
        SELECT a.media_id,
               CAST(sum(CASE WHEN a.f > t.thr
                        THEN (CAST(1 AS BIGINT) << (a.u*8 + a.w - 1))
                        ELSE 0 END) AS BIGINT) AS h
        FROM ac a JOIN thr t USING (media_id) GROUP BY 1
    ),
    bands AS (
        SELECT media_id, h, k, (h >> (k * 8)) & 255 AS bv
        FROM hashes, range({_PHASH_BANDS}) rk(k)
    ),
    cand AS (
        SELECT DISTINCT a.media_id AS ma, b.media_id AS mb
        FROM bands a JOIN bands b
          ON a.k = b.k AND a.bv = b.bv AND a.media_id < b.media_id
    )
    SELECT CAST(ma AS INT) AS media_id_a, CAST(mb AS INT) AS media_id_b,
           CAST(bit_count(xor(ha.h, hb.h)) AS INT) AS hamming,
           CAST(CASE WHEN ma // {_PHASH_N_VARIANT} = mb // {_PHASH_N_VARIANT}
                THEN 1 ELSE 0 END AS INT) AS same_source_image
    FROM cand
    JOIN hashes ha ON ha.media_id = ma
    JOIN hashes hb ON hb.media_id = mb
    WHERE bit_count(xor(ha.h, hb.h)) <= {_PHASH_HAM_T}
    ORDER BY media_id_a, media_id_b
    """


@query("image_phash_near_dup", oracle=_phash_oracle())
def image_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-duplicate IMAGE detection — the image twin
    of the text near-dup pipeline (`incremental_dedup_lsh_batch`):
    real 32x32 grayscale PNGs (8 source images x 3 re-encode variants
    with pixel-level perturbations) are decoded through the production
    `multimodal.decode` mapInPandas path, pHashed (integer 8x32 DCT,
    top-left 8x8 low-frequency block, DC dropped, exact rank-32 median
    threshold over the 63 AC coefficients -> 63-bit hash), bucketed by
    8 Hamming-LSH bands of 8 bits, and candidate pairs are verified by
    full 63-bit Hamming distance <= 7. Banding is pigeonhole-EXACT at
    this threshold: any pair within Hamming 7 of 8 bands must agree on
    at least one whole band, so candidate generation has zero false
    negatives (false positives are killed by the verify stage).

    Scale shape: payload bytes never shuffle (decode + hash inside one
    narrow Arrow-batched stage); only the 8-byte hash flows into the
    band explode (8 rows/image) and the band-bucket equi-join — the
    same join geometry as the MinHash banding family, so the
    BAND_BUCKET_CAP hot-bucket treatment applies verbatim when a crawl
    has millions of identical thumbnails. Parity: the DCT is integer
    arithmetic on a shared literal cosine table, the threshold is an
    exact rank selection, and the oracle unrolls the whole transform
    (pixels -> DCT -> bits -> bands -> verify) in SQL."""
    rows = []
    for b in range(_PHASH_N_BASE):
        for j in range(_PHASH_N_VARIANT):
            luma = [
                _phash_pixel(b, j, x, y) for y in range(32) for x in range(32)
            ]
            rgb = bytes(v for v in luma for _ in range(3))
            rows.append(
                (
                    b * _PHASH_N_VARIANT + j,
                    "image",
                    M.encode_png(32, 32, rgb),
                    ("png", 32, 32, None, None),
                )
            )
    df = _fixture_frame(spark, rows)

    # r14: the plan consumes the hash
    # relation four times (two band-join sides + two verify sides),
    # and each consumer re-ran the PNG decode + DCT mapInPandas stage.
    # One localCheckpoint shares a single decode pass — the shape the
    # streaming twin (streaming/phash_dedup.py) already uses; decode
    # is the dominant at-scale term even though the fixture hides it.
    hashes = phash_hashes(df).localCheckpoint()
    bands = phash_bands(hashes).select("media_id", "h", "k", "bv")
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.media_id") < F.col("b.media_id")),
        )
        .select(
            F.col("a.media_id").alias("media_id_a"),
            F.col("b.media_id").alias("media_id_b"),
        )
        .distinct()
    )
    ha = hashes.select(F.col("media_id").alias("media_id_a"), F.col("h").alias("ha"))
    hb = hashes.select(F.col("media_id").alias("media_id_b"), F.col("h").alias("hb"))
    return (
        cand.join(ha, "media_id_a")
        .join(hb, "media_id_b")
        .select(
            "media_id_a",
            "media_id_b",
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            .cast("int")
            .alias("hamming"),
            F.expr(
                f"CAST(CASE WHEN media_id_a div {_PHASH_N_VARIANT}"
                f" = media_id_b div {_PHASH_N_VARIANT}"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("same_source_image"),
        )
        .filter(F.col("hamming") <= _PHASH_HAM_T)
        .orderBy("media_id_a", "media_id_b")
    )


# ---------------------------------------------------------------------------
# Video near-duplicate detection (per-frame pHash + aligned-frame vote)
# ---------------------------------------------------------------------------

_VPH_BASE = 6    # distinct source videos
_VPH_VAR = 2     # j=0 original, j=1 perturbed re-encode
_VPH_FRAMES = 4  # frames per video
_VPH_MIN_MATCH = 3  # aligned frames within HAM_T needed to call near-dup


def _vph_pixel(b: int, j: int, f: int, x: int, y: int) -> int:
    """Deterministic 32x32 luma per (video b, variant j, frame f):
    the proven 4x4-block-hash pattern (rich low-frequency content,
    cross-video aligned Hamming >= 26 measured) with per-frame drift
    (f enters the block hash) and variant noise that leaves most
    frames within Hamming <= 7 but pushes SOME past it (measured:
    every variant pair keeps >= 3 of 4 aligned frames matched) — the
    multi-frame vote is exactly what makes video near-dup robust
    where a single-frame hash is not."""
    v = ((b * 37 + f * 61 + (x // 4) * 53 + (y // 4) * 71) % 17) * 15
    if (x * 31 + y * 17 + b + f) % 4 == 0:
        v += 25 * j
    return min(v, 255)


def _vph_oracle() -> str:
    return f"""
    WITH ct(k, n, c) AS (SELECT * FROM (VALUES {_cos_values_sql(_PHASH_COS)}) t(k, n, c)),
    vids AS (
        SELECT b, j, b * {_VPH_VAR} + j AS video_id
        FROM range({_VPH_BASE}) rb(b), range({_VPH_VAR}) rj(j)
    ),
    px AS (
        SELECT video_id, f, x, y,
               least(((b*37 + f*61 + (x//4)*53 + (y//4)*71) % 17) * 15
                     + CASE WHEN (x*31 + y*17 + b + f) % 4 = 0
                            THEN j * 25 ELSE 0 END, 255) AS v
        FROM vids, range({_VPH_FRAMES}) rf(f),
             range(32) rx(x), range(32) ry(y)
    ),
    coef AS (
        SELECT video_id, f, cu.k AS u, cv.k AS w,
               CAST(sum(CAST(px.v AS BIGINT) * cu.c * cv.c) AS BIGINT) AS fc
        FROM px JOIN ct cu ON cu.n = px.x JOIN ct cv ON cv.n = px.y
        GROUP BY 1, 2, 3, 4
    ),
    ac AS (SELECT * FROM coef WHERE NOT (u = 0 AND w = 0)),
    thr AS (
        SELECT video_id, f, fc AS thr FROM (
            SELECT video_id, f, fc, row_number() OVER (
                PARTITION BY video_id, f ORDER BY fc, u*8 + w) AS rn
            FROM ac) x WHERE rn = 32
    ),
    hashes AS (
        SELECT a.video_id, a.f,
               CAST(sum(CASE WHEN a.fc > t.thr
                        THEN (CAST(1 AS BIGINT) << (a.u*8 + a.w - 1))
                        ELSE 0 END) AS BIGINT) AS h
        FROM ac a JOIN thr t ON t.video_id = a.video_id AND t.f = a.f
        GROUP BY 1, 2
    ),
    bands AS (
        SELECT video_id, f, h, k, (h >> (k * 8)) & 255 AS bv
        FROM hashes, range({_PHASH_BANDS}) rk(k)
    ),
    candv AS (
        SELECT DISTINCT a.video_id AS va, b.video_id AS vb
        FROM bands a JOIN bands b
          ON a.k = b.k AND a.bv = b.bv AND a.video_id < b.video_id
    ),
    ver AS (
        SELECT c.va, c.vb, bit_count(xor(ha.h, hb.h)) AS hm
        FROM candv c
        JOIN hashes ha ON ha.video_id = c.va
        JOIN hashes hb ON hb.video_id = c.vb AND hb.f = ha.f
    )
    SELECT CAST(va AS INT) AS video_id_a, CAST(vb AS INT) AS video_id_b,
           CAST(sum(CASE WHEN hm <= {_PHASH_HAM_T} THEN 1 ELSE 0 END) AS INT)
               AS n_frames_matched,
           CAST(max(hm) AS INT) AS max_frame_hamming,
           CAST(CASE WHEN va // {_VPH_VAR} = vb // {_VPH_VAR}
                THEN 1 ELSE 0 END AS INT) AS same_source_video
    FROM ver GROUP BY va, vb
    HAVING sum(CASE WHEN hm <= {_PHASH_HAM_T} THEN 1 ELSE 0 END)
           >= {_VPH_MIN_MATCH}
    ORDER BY video_id_a, video_id_b
    """


@query("video_phash_near_dup", oracle=_vph_oracle())
def video_phash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate VIDEO detection — per-frame pHash plus an
    aligned-frame vote, completing the dedup mandate across the third
    modality (text: `incremental_dedup_lsh_batch`; image:
    `image_phash_near_dup`): real MJPEG containers of lossless-JPEG
    (SOF3) frames are split AND decoded in the production
    one-mapInPandas stage (`multimodal.split_mjpeg_frames`), each
    frame pHashed (the shared integer-DCT pipeline), frame hashes
    banded into the 8x8-bit Hamming LSH, and candidate VIDEO pairs
    verified by counting temporally ALIGNED frames within Hamming <=
    7 — >= 3 of 4 calls the pair near-duplicate. The multi-frame vote
    is the point: the fixture deliberately perturbs some frames past
    the single-frame threshold, and the vote still catches every
    variant pair (while cross-video pairs match zero frames).

    Scale shape: payloads decode+hash in one narrow Arrow stage; only
    (video_id, frame_idx, 8-byte hash) rows flow into the band
    explode and bucket equi-join (the text-LSH geometry, cap applies
    verbatim); verify joins hashes by (video, frame) — never pixels.
    Parity: same literal cosine table, rank-32 threshold, and banding
    as the image operator; the oracle unrolls all {_VPH_FRAMES} frames
    of all {_VPH_BASE * _VPH_VAR} videos through the same SQL DCT."""
    rows = []
    for b in range(_VPH_BASE):
        for j in range(_VPH_VAR):
            frames = [
                M.encode_jpeg_lossless(
                    32,
                    32,
                    bytes(
                        _vph_pixel(b, j, f, x, y)
                        for y in range(32)
                        for x in range(32)
                    ),
                    predictor=1,
                )
                for f in range(_VPH_FRAMES)
            ]
            rows.append(
                (
                    b * _VPH_VAR + j,
                    "video",
                    M.encode_mjpeg(frames),
                    ("mjpeg", 32, 32, None, _VPH_FRAMES),
                )
            )
    df = _fixture_frame(spark, rows)

    def _phash_gray(col):
        import numpy as np
        import pandas as pd

        return pd.Series(
            [
                _phash_bits(
                    np.frombuffer(bytes(buf), dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(32, 32)
                )
                for buf in col
            ]
        )

    udf = F.pandas_udf(_phash_gray, "long")
    hashes = M.split_mjpeg_frames(df).select(
        F.col("media_id").cast("int").alias("video_id"),
        F.col("frame_idx").alias("f"),
        udf("decoded").alias("h"),
    )
    bands = hashes.select("video_id", _hash_bands()).select(
        "video_id", "bd.k", "bd.bv"
    )
    a, b = bands.alias("a"), bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.video_id") < F.col("b.video_id")),
        )
        .select(
            F.col("a.video_id").alias("va"), F.col("b.video_id").alias("vb")
        )
        .distinct()
    )
    ha = hashes.select(
        F.col("video_id").alias("va"), "f", F.col("h").alias("h_a")
    )
    hb = hashes.select(
        F.col("video_id").alias("vb"), "f", F.col("h").alias("h_b")
    )
    hm = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.join(ha, "va")
        .join(hb, ["vb", "f"])
        .select("va", "vb", hm.alias("hm"))
        .groupBy("va", "vb")
        .agg(
            F.sum(F.when(F.col("hm") <= _PHASH_HAM_T, 1).otherwise(0))
            .cast("int")
            .alias("n_frames_matched"),
            F.max("hm").cast("int").alias("max_frame_hamming"),
        )
        .filter(F.col("n_frames_matched") >= _VPH_MIN_MATCH)
        .select(
            F.col("va").cast("int").alias("video_id_a"),
            F.col("vb").cast("int").alias("video_id_b"),
            "n_frames_matched",
            "max_frame_hamming",
            F.expr(
                f"CAST(CASE WHEN va div {_VPH_VAR} = vb div {_VPH_VAR}"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("same_source_video"),
        )
        .orderBy("video_id_a", "video_id_b")
    )


# ---------------------------------------------------------------------------
# Audio near-duplicate detection (Haitsma-Kalker binary fingerprints)
# ---------------------------------------------------------------------------

_AFP_COS8 = [
    [
        int(_math.floor(_math.cos(_math.pi * (2 * n + 1) * k / 16) * 1024 + 0.5))
        for n in range(8)
    ]
    for k in range(8)
]
_AFP_BASE = 6   # distinct source clips
_AFP_VAR = 2    # j=0 original, j=1 lightly perturbed re-encode
_AFP_FRAMES = 16   # frames per clip (32 samples each -> 512 samples)
_AFP_DIFF_T = 12   # <= 12 differing bits of 105 = near-duplicate


def _afp_mean(b: int, j: int, f: int, g: int) -> int:
    """Deterministic per-(frame f, 4-sample group g) level: the
    proven block-hash pattern in 1D x time (distinct spectral
    envelope per base clip; measured cross-clip fingerprint distance
    >= 37 bits) plus variant noise 600 (~2% of range; measured
    same-clip distance <= 5 bits, >= 12 of 15 frame codes exact)."""
    v = ((b * 37 + f * 61 + g * 53) % 17) * 1800
    if (g * 31 + f * 17 + b) % 4 == 0:
        v += 600 * j
    return v


def _afp_sample(b: int, j: int, t: int) -> int:
    return _afp_mean(b, j, t // 32, (t % 32) // 4)


def _afp_oracle() -> str:
    return f"""
    WITH c8(k, n, c) AS (SELECT * FROM (VALUES {_cos_values_sql(_AFP_COS8)}) t(k, n, c)),
    clips AS (
        SELECT b, j, b * {_AFP_VAR} + j AS clip_id
        FROM range({_AFP_BASE}) rb(b), range({_AFP_VAR}) rj(j)
    ),
    means AS (
        SELECT clip_id, f, g,
               CAST(((b*37 + f*61 + g*53) % 17) * 1800
                    + CASE WHEN (g*31 + f*17 + b) % 4 = 0
                           THEN 600 * j ELSE 0 END AS BIGINT) AS v
        FROM clips, range({_AFP_FRAMES}) rf(f), range(8) rg(g)
    ),
    en AS (
        SELECT clip_id, f, c8.k AS m,
               CAST(sum(v * c8.c) AS BIGINT)
               * CAST(sum(v * c8.c) AS BIGINT) AS e
        FROM means JOIN c8 ON c8.n = means.g
        GROUP BY 1, 2, 3
    ),
    bits AS (
        SELECT a.clip_id, a.f, a.m,
               CASE WHEN (a.e - r.e) - (p.e - q.e) > 0
                    THEN (CAST(1 AS BIGINT) << a.m) ELSE 0 END AS bit
        FROM en a
        JOIN en r ON r.clip_id = a.clip_id AND r.f = a.f AND r.m = a.m + 1
        JOIN en p ON p.clip_id = a.clip_id AND p.f = a.f - 1 AND p.m = a.m
        JOIN en q ON q.clip_id = a.clip_id AND q.f = a.f - 1
                  AND q.m = a.m + 1
        WHERE a.m < 7 AND a.f >= 1
    ),
    codes AS (
        SELECT clip_id, f, CAST(sum(bit) AS BIGINT) AS code
        FROM bits GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT a.clip_id AS ca, b.clip_id AS cb
        FROM codes a JOIN codes b
          ON a.f = b.f AND a.code = b.code AND a.clip_id < b.clip_id
    ),
    ver AS (
        SELECT c.ca, c.cb,
               bit_count(xor(x.code, y.code)) AS db,
               CASE WHEN x.code = y.code THEN 1 ELSE 0 END AS ex
        FROM cand c
        JOIN codes x ON x.clip_id = c.ca
        JOIN codes y ON y.clip_id = c.cb AND y.f = x.f
    )
    SELECT CAST(ca AS INT) AS clip_id_a, CAST(cb AS INT) AS clip_id_b,
           CAST(sum(db) AS INT) AS diff_bits,
           CAST(sum(ex) AS INT) AS n_frames_exact,
           CAST(CASE WHEN ca // {_AFP_VAR} = cb // {_AFP_VAR}
                THEN 1 ELSE 0 END AS INT) AS same_source_clip
    FROM ver GROUP BY ca, cb
    HAVING sum(db) <= {_AFP_DIFF_T}
    ORDER BY clip_id_a, clip_id_b
    """


@query("audio_fingerprint_near_dup", oracle=_afp_oracle())
def audio_fingerprint_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate AUDIO detection via Haitsma-Kalker binary
    spectral fingerprints (ISMIR 2002 — the classic robust audio
    hash), closing the dedup mandate across all three binary
    modalities (text LSH / image pHash / video frame-vote / audio):
    real RIFF/WAVE PCM16 clips decode through the production
    `multimodal.decode` stage, each 32-sample frame reduces to 8
    band-energy values (integer DCT-8 over 4-sample group means,
    shared literal cosine table), and the HK bit derivation — sign of
    the band-delta's FRAME delta — yields a 7-bit code per frame, 105
    fingerprint bits per clip. Clips sharing any exact (frame, code)
    sub-fingerprint become candidates (the paper's lookup-table
    strategy as an equi-join); verification sums XOR popcounts over
    aligned frames, <= {_AFP_DIFF_T} of 105 differing bits calls the
    pair near-duplicate.

    Scale shape: payload bytes never shuffle (decode + frame
    reduction + code derivation inside one Arrow-batched UDF); 15
    two-byte codes per clip flow into the (frame, code) equi-join —
    sub-fingerprint buckets are the audio analogue of LSH band
    buckets, hot-bucket caps apply verbatim. Parity: all-integer
    arithmetic end to end (group means are exact: piecewise-constant
    fixture, energies are BIGINT squares), oracle unrolls frames ->
    DCT-8 -> HK bits -> candidate join -> verify in SQL."""
    rows = [
        (
            b * _AFP_VAR + j,
            "audio",
            M.encode_wav_pcm16(
                [_afp_sample(b, j, t) for t in range(_AFP_FRAMES * 32)]
            ),
            ("wav", None, None, 8000, None),
        )
        for b in range(_AFP_BASE)
        for j in range(_AFP_VAR)
    ]
    df = _fixture_frame(spark, rows)

    def _codes(col):
        import numpy as np
        import pandas as pd

        cos8 = np.array(_AFP_COS8, dtype=np.int64)
        out = []
        for buf in col:
            s = (
                np.frombuffer(bytes(buf), dtype="<i2")
                .astype(np.int64)
                .reshape(_AFP_FRAMES, 8, 4)
            )
            means = s.sum(axis=2) // 4  # non-negative: // == trunc
            coef = means @ cos8.T  # [f, k]
            e = coef * coef
            d = e[:, :7] - e[:, 1:]  # band deltas per frame
            hk = (d[1:] - d[:-1]) > 0  # frame deltas, frames 1..15
            codes = (hk.astype(np.int64) << np.arange(7, dtype=np.int64)).sum(
                axis=1
            )
            out.append([int(c) for c in codes])
        return pd.Series(out)

    codes_udf = F.pandas_udf(_codes, "array<long>")
    codes = (
        M.decode(df)
        .select(
            F.col("media_id").cast("int").alias("clip_id"),
            F.posexplode(codes_udf("decoded")).alias("i", "code"),
        )
        .select("clip_id", (F.col("i") + 1).alias("f"), "code")
    )
    a, b = codes.alias("a"), codes.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.f") == F.col("b.f"))
            & (F.col("a.code") == F.col("b.code"))
            & (F.col("a.clip_id") < F.col("b.clip_id")),
        )
        .select(
            F.col("a.clip_id").alias("ca"), F.col("b.clip_id").alias("cb")
        )
        .distinct()
    )
    cx = codes.select(
        F.col("clip_id").alias("ca"), "f", F.col("code").alias("code_a")
    )
    cy = codes.select(
        F.col("clip_id").alias("cb"), "f", F.col("code").alias("code_b")
    )
    return (
        cand.join(cx, "ca")
        .join(cy, ["cb", "f"])
        .groupBy("ca", "cb")
        .agg(
            F.sum(F.bit_count(F.col("code_a").bitwiseXOR(F.col("code_b"))))
            .cast("int")
            .alias("diff_bits"),
            F.sum(F.when(F.col("code_a") == F.col("code_b"), 1).otherwise(0))
            .cast("int")
            .alias("n_frames_exact"),
        )
        .filter(F.col("diff_bits") <= _AFP_DIFF_T)
        .select(
            F.col("ca").cast("int").alias("clip_id_a"),
            F.col("cb").cast("int").alias("clip_id_b"),
            "diff_bits",
            "n_frames_exact",
            F.expr(
                f"CAST(CASE WHEN ca div {_AFP_VAR} = cb div {_AFP_VAR}"
                " THEN 1 ELSE 0 END AS INT)"
            ).alias("same_source_clip"),
        )
        .orderBy("clip_id_a", "clip_id_b")
    )


def phash_hashes(media_df: DataFrame) -> DataFrame:
    """(media_id INT, h LONG) pHashes for an RGB-PNG media relation:
    decode + integer-DCT hash inside one Arrow-batched pass (payloads
    never shuffle). Shared by `image_phash_near_dup` and the
    streaming pHash dedup (`streaming.phash_dedup`)."""

    def _phash(col):
        import numpy as np
        import pandas as pd

        return pd.Series(
            [
                # [y, x] luma plane: the R channel of the gray RGB PNG
                _phash_bits(
                    np.frombuffer(bytes(buf), dtype=np.uint8)
                    .astype(np.int64)
                    .reshape(32, 32, 3)[:, :, 0]
                )
                for buf in col
            ]
        )

    phash_udf = F.pandas_udf(_phash, "long")
    return M.decode(media_df).select(
        F.col("media_id").cast("int").alias("media_id"),
        phash_udf("decoded").alias("h"),
    )


def phash_bands(hashes: DataFrame) -> DataFrame:
    """Explode 63-bit pHashes into the 8x8-bit Hamming-LSH band rows
    (media_id, h, k, bv) — pigeonhole-exact at Hamming <= 7."""
    return hashes.select("media_id", "h", _hash_bands()).select(
        "media_id", "h", "bd.k", "bd.bv"
    )
