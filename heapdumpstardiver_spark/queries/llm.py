"""LLM-training-data-pipeline operators (SURVEY.md §7 Phase 6).

Extensions beyond the reference surface, seeded by its
duplicate-content checks (analyze_heap_parquet.py:255-342,715-761,
891-934): deduplication, embedding similarity search, and text
analysis over the `documents` / `embeddings` fixture tables.

Scale posture: everything here is a shuffle-on-key or broadcast plan —
no driver-side state. Exact dedup = hash-groupBy; near-dup pieces
(shingles, band buckets) are explode → groupBy pipelines whose
fan-out is bounded per document; the brute-force ANN baseline
broadcasts only the (tiny) query vector set.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..exprs import (
    centroid_argmax,
    cosine,
    cosine_bn,
    dot,
    fold_dot,
    lit_vec,
    minhash_bands,
    nearest_centroid,
    round_col,
    round_sql,
    self_dot,
    shingle_hashes,
    stable_render,
    stable_render_sql,
)
from ..registry import query



def _spread(df: DataFrame, spark: SparkSession, *keys: str) -> DataFrame:
    """Scale-adaptive parallelism floor for map-heavy stages (r13):
    the shingle/fingerprint pipelines front-load their
    cost into per-row md5 + higher-order array transforms, so their
    wall tracks the SCAN's task count. Locally a small table is one
    parquet file = one split, serializing the whole hash stage on one
    core; at warehouse scale the scan has >= default-parallelism
    splits and this helper is a no-op. When (and only when) the scan
    yields fewer partitions than the session's parallelism, the
    NARROW pre-explode projection is hash-repartitioned (deterministic
    keys — not round-robin, which pays a local sort and re-rolls
    row placement on task retry, SPARK-38388) so the expensive
    per-row work uses every core. The added exchange moves only
    (doc_id, tokens) rows — bytes that were about to be exploded
    ~tokens-fold anyway."""
    par = spark.sparkContext.defaultParallelism
    if _scan_split_estimate(spark, df) >= par:
        return df
    return df.repartition(par, *keys) if keys else df.repartition(par)


_SIZE_SUFFIX = {"b": 1, "k": 1024, "m": 1024**2, "g": 1024**3}


def _conf_bytes(spark: SparkSession, key: str, default: int) -> int:
    raw = spark.conf.get(key, None)
    if not raw:
        return default
    s = str(raw).strip().lower()
    # Spark accepts two-letter forms ('64mb', '128kb'); strip the
    # trailing 'b' unless it IS the suffix ('128b' = bytes).
    if len(s) > 1 and s.endswith("b") and not s[-2].isdigit():
        s = s[:-1]
    try:
        if s[-1].isdigit():
            return int(s)
        return int(float(s[:-1]) * _SIZE_SUFFIX[s[-1]])
    except (KeyError, ValueError):
        return default


def _scan_split_estimate(spark: SparkSession, df: DataFrame) -> int:
    """Driver-side estimate of how many scan splits a file-backed
    DataFrame yields, from file sizes + the session's split config
    (the same packing arithmetic FilePartition uses). Exists because
    `df.rdd.getNumPartitions()` — the exact probe — pays a full
    plan-to-RDD conversion (~0.25 s per fresh DataFrame, r13
    measured), which lands inside the timed region for every
    construct+execute query. The estimate is only ever compared
    against defaultParallelism, far from the boundary at both ends
    (one small local file → 1 split; a warehouse scan → thousands)."""
    import os as _os

    files = df.inputFiles()
    if not files:
        return df.rdd.getNumPartitions()
    sizes = []
    for f in files:
        path = f[7:] if f.startswith("file:") else f
        try:
            sizes.append(_os.path.getsize(path))
        except OSError:
            return df.rdd.getNumPartitions()
    total = sum(sizes)
    max_split = _conf_bytes(spark, "spark.sql.files.maxPartitionBytes", 128 * 1024**2)
    open_cost = _conf_bytes(spark, "spark.sql.files.openCostInBytes", 4 * 1024**2)
    par = spark.sparkContext.defaultParallelism
    padded = total + len(files) * open_cost
    bytes_per_core = max(padded // max(par, 1), 1)
    split = max(min(max_split, max(open_cost, bytes_per_core)), 1)
    est = max(1, (padded + split - 1) // split)
    # When no file exceeds the split size, Spark's packing never
    # creates more partitions than files — the open-cost padding alone
    # can ceil-divide into phantom splits (measured: estimate 2 vs
    # actual 1 for a single small file), which would make _spread skip
    # a repartition the exact probe performed. Clamp, biasing ties
    # toward repartitioning.
    if sizes and max(sizes) <= split:
        est = min(est, len(files))
    return est


def _fp_materialize(df: DataFrame, sf_dir: str) -> DataFrame:
    """Materialize a fingerprint relation once so every consumer reads
    the flat rows: localCheckpoint is a cheaper way to cut lineage
    than recomputing it, and every pass but the last then operates on
    a lightweight proxy. The LSH queries fan ONE expensive per-doc md5
    derivation (distinct trigram hashes, salted min-hashes) into 2–4
    consumers (candidate self-join sides, verify probes); Spark
    recomputes the derivation per consumer because broadcast builds
    share no exchange (measured: runtime exchange reuse only dedups
    below the pre-hash _spread exchange). Recomputation costs one
    corpus hash pass per consumer — the dominant term at scale
    (interleaved sf1 A/B: prefilter −33%, incremental batch −31%,
    connected components −30%) — while the checkpoint costs a fixed
    job barrier + a block-manager round trip of fixed-width rows,
    which honest construct+execute A/Bs showed is already a wash or a
    win at sf0.1. Results are unaffected — only how many times the
    same derivation executes. The checkpoint job runs while the query
    is built, so a benchmark must time construction too
    (perfbench/workloads.py::ITERATIVE lists the callers it runs)."""
    del sf_dir  # kept for call-site symmetry with _spread
    return df.localCheckpoint()


def _minhash_sig_sql(k: int) -> str:
    """`sig` CTE body: k salted min-hashes h0..h{k-1} per doc over `sh`
    (lexicographic min over md5 hex, the order Spark's array_min sees)."""
    hs = ", ".join(f"min(md5(shingle || ':{j}')) AS h{j}" for j in range(k))
    return f"\n        SELECT doc_id, {hs} FROM sh GROUP BY doc_id\n    "


# Document-frequency cap for exact shingle-bucket pipelines
# (ngram_shingle_overlap, jaccard_pairs): a shingle shared by more
# documents than this is a stop phrase — pairing inside such a bucket is
# quadratic and carries no dedup signal. Mirrored verbatim in the oracle
# SQL of both queries; change BOTH together.
SHINGLE_DF_CAP = 64

# Per-(band, bucket) membership cap for LSH candidate generation
# (minhash_prefilter_jaccard): m near-identical documents land in the
# SAME bucket in EVERY band, so an uncapped band self-join is Θ(m²)
# from one bucket — the dominant failure mode of a dup-heavy crawl
# (the "curse of the last reducer"). Keeping the
# deterministic first K members (row_number by doc_id) bounds any
# bucket's pair fan-out at K²/2 while a K-sized sample of an
# m-identical cluster still wires the cluster together for the
# connected-components pass downstream. Mirrored verbatim in the
# oracle SQL; change BOTH together.
BAND_BUCKET_CAP = 64


# DuckDB twins of the shingle and MinHash cores, one CTE body each
# (padded like a hand-written `name AS (\n    body\n)` CTE):
# `toks` (whitespace tokens per doc), the distinct 3-token shingles
# (`_SHINGLES_SQL` as text, `_MD5_SHINGLES_SQL` as md5 hex), the `sig`
# min-hashes over `sh`, the band unions over `sig`, and the band
# self-join pairs over `bands`.
_TOKS_SQL = """
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
    """
_SHINGLE_RANGE_SQL = "FROM toks, unnest(range(1, len(tokens) - 3 + 2)) AS t(i)"
_SHINGLES_SQL = f"""
        SELECT DISTINCT doc_id, array_to_string(tokens[i:i+2], ' ') AS shingle
        {_SHINGLE_RANGE_SQL}
    """
_MD5_SHINGLES_SQL = f"""
        SELECT DISTINCT doc_id,
               md5(array_to_string(tokens[i:i+2], ' ')) AS shingle
        {_SHINGLE_RANGE_SQL}
    """
# 4 min-hashes in 2 bands (the candidate-pair form) ...
_SIG4_BANDS2_SQL = f"""sig AS ({_minhash_sig_sql(4)}),
    bands AS (
        SELECT doc_id, 0 AS band, md5(h0 || h1) AS bucket FROM sig
        UNION ALL
        SELECT doc_id, 1 AS band, md5(h2 || h3) AS bucket FROM sig
    )"""
# ... and 8 min-hashes in 4 bands (the capped-index form).
_BANDS4_SQL = """
        SELECT doc_id, 0 AS band, md5(h0 || h1) AS bucket FROM sig
        UNION ALL SELECT doc_id, 1, md5(h2 || h3) FROM sig
        UNION ALL SELECT doc_id, 2, md5(h4 || h5) FROM sig
        UNION ALL SELECT doc_id, 3, md5(h6 || h7) FROM sig
    """
# Exact shared-shingle counts of `jaccard_pairs`/`containment_pairs`.
_SHARED_SHINGLES_SQL = """
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM shingles a JOIN shingles b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        JOIN bounded c ON c.shingle = a.shingle
        GROUP BY 1, 2 HAVING count(*) >= 3
    """
_BAND_PAIRS_SQL = """
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """


def _doc_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, tokens) of every document with at least 3 whitespace
    tokens (one trigram shingle), spread over the session's cores
    (`_spread`)."""
    d = load_table(spark, sf_dir, "documents")
    return _spread(
        d.select("doc_id", F.split("text", " ").alias("tokens")).filter(
            F.size("tokens") >= 3
        ),
        spark,
        "doc_id",
    )


def shingle_set(tokens: str) -> Column:
    """The distinct 3-token shingles (space-joined text) of the token
    array column *tokens* — the `_SHINGLES_SQL` set, row-local."""
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size(tokens) - 2),
            lambda i: F.concat_ws(" ", F.slice(tokens, i, 3)),
        )
    )


def minhash_band_rows(sets: DataFrame, arr: str, k: int, n_bands: int) -> DataFrame:
    """(doc_id, band, bucket) rows from per-doc shingle arrays in
    column *arr*: k salted min-hashes (`exprs.minhash_bands`) cut into
    *n_bands* bands, exploded in one pass over the signature."""
    sig, bb = minhash_bands(lambda h: F.array_min(F.transform(arr, h)), k, n_bands)
    return (
        sets.select("doc_id", *sig)
        .select("doc_id", bb)
        .select("doc_id", "bb.band", "bb.bucket")
    )


def cap_bands(bands: DataFrame) -> DataFrame:
    """Keep the BAND_BUCKET_CAP smallest doc_ids per (band, bucket).
    row_number (a sort-based pass-through) rather than collect_list,
    so no aggregate state holds a hot bucket."""
    wcap = Window.partitionBy("band", "bucket").orderBy("doc_id")
    return (
        bands.withColumn("rnb", F.row_number().over(wcap))
        .filter(F.col("rnb") <= BAND_BUCKET_CAP)
        .drop("rnb")
    )


def band_pairs(bands: DataFrame) -> DataFrame:
    """Distinct candidate pairs (doc_a < doc_b) sharing a bucket in some
    band: the LSH band self-join."""
    a, b = bands.alias("a"), bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )


def band_probe(batch_bands: DataFrame, index: DataFrame) -> DataFrame:
    """Distinct (b_doc, c_doc) candidates: batch band rows probing a
    corpus band index by (band, bucket)."""
    b, c = batch_bands.alias("b"), index.alias("c")
    return (
        b.join(
            c,
            (F.col("b.band") == F.col("c.band"))
            & (F.col("b.bucket") == F.col("c.bucket")),
        )
        .select(F.col("b.doc_id").alias("b_doc"), F.col("c.doc_id").alias("c_doc"))
        .distinct()
    )


def _sorted_pairs(docs: str) -> Column:
    """Every ordered pair (doc_a < doc_b) of the sorted id array *docs*:
    the i-th id pairs with every later one."""
    return F.flatten(
        F.transform(
            docs,
            lambda x, i: F.transform(
                F.slice(docs, i + 2, F.size(docs)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        )
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
           CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
           count(DISTINCT h) AS distinct_texts
    FROM (
        SELECT doc_id, md5(text) AS h,
               row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
        FROM documents
    )
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash, keep-first policy — the Duplicate
    Strings check generalized (analyze_heap_parquet.py:255-342). The
    md5 group key makes the shuffle key fixed-width regardless of
    document size; at 100 TB use xxhash64 and keep the text out of the
    shuffle entirely. (r13: keep-first needs no per-hash
    ranking when only the census is emitted — kept == number of hash
    groups, dropped == multiplicity minus one per group — so the
    row_number window's sort and the separate countDistinct branch
    collapse into one partial-aggregating groupBy.)"""
    d = load_table(spark, sf_dir, "documents")
    g = d.groupBy(F.md5("text").alias("h")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return g.agg(
        F.count(F.lit(1)).alias("kept"),
        (F.sum("n") - F.count(F.lit(1))).cast("long").alias("dropped"),
        F.count(F.lit(1)).alias("distinct_texts"),
    )


@query(
    "saturation_dedup_curve",
    oracle=f"""
    WITH hashed AS (
        SELECT doc_id, md5(text) AS h,
               max(doc_id) OVER () AS mx
        FROM documents
    ),
    flags AS (
        SELECT doc_id, mx,
               CASE WHEN doc_id > min(doc_id) OVER (PARTITION BY h)
                    THEN 1 ELSE 0 END AS is_dup
        FROM hashed
    ),
    bucketed AS (
        SELECT CAST(1
             + (CASE WHEN doc_id > (mx * 1 + 7) // 8 THEN 1 ELSE 0 END)
             + (CASE WHEN doc_id > (mx * 2 + 7) // 8 THEN 1 ELSE 0 END)
             + (CASE WHEN doc_id > (mx * 3 + 7) // 8 THEN 1 ELSE 0 END)
             + (CASE WHEN doc_id > (mx * 4 + 7) // 8 THEN 1 ELSE 0 END)
             + (CASE WHEN doc_id > (mx * 5 + 7) // 8 THEN 1 ELSE 0 END)
             + (CASE WHEN doc_id > (mx * 6 + 7) // 8 THEN 1 ELSE 0 END)
             + (CASE WHEN doc_id > (mx * 7 + 7) // 8 THEN 1 ELSE 0 END)
             AS INT) AS curve_point,
               is_dup
        FROM flags
    ),
    per AS (
        SELECT curve_point, count(*) AS step_docs,
               sum(is_dup) AS step_dup
        FROM bucketed GROUP BY curve_point
    ),
    cum AS (
        SELECT curve_point,
               CAST(sum(step_docs) OVER w AS BIGINT) AS n_docs,
               CAST(sum(step_dup) OVER w AS BIGINT) AS n_dup,
               CAST(step_docs AS BIGINT) AS step_docs,
               CAST(step_dup AS BIGINT) AS step_dup
        FROM per
        WINDOW w AS (ORDER BY curve_point
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT curve_point, n_docs, n_dup,
           {round_sql("CAST(n_dup AS DOUBLE) / n_docs", 6)} AS dup_rate,
           {round_sql("CAST(step_dup AS DOUBLE) / step_docs", 6)}
               AS marginal_dup_rate
    FROM cum ORDER BY curve_point
    """,
)
def saturation_dedup_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup saturation curve — the crawl-planning diagnostic behind
    "is more crawling still buying new data?": treating doc_id as
    crawl order, the corpus is cut at 8 id-range checkpoints and each
    reports its cumulative duplicate fraction plus the MARGINAL dup
    rate of the newest slice (a rising marginal rate = the crawl is
    saturating; scaling-law data-curation work tracks exactly this
    curve before paying for more tokens).

    One pass, no prefix re-scans and no global ordering: a doc is a
    duplicate iff an earlier doc_id carries the same content hash
    (min-over-hash window — the one real shuffle); its checkpoint
    bucket is a closed-form sum of 7 integer threshold comparisons
    against ⌈max_id·i/8⌉ (max_id is a broadcast one-row aggregate —
    deliberately NOT a rank: a global row_number would single-
    partition the corpus), and the cumulative curve is a window over
    the 8-row bucket aggregate."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    hashed = d.select("doc_id", F.md5("text").alias("h"))
    mx = d.agg(F.max("doc_id").alias("mx"))
    is_dup = F.when(
        F.col("doc_id") > F.min("doc_id").over(Window.partitionBy("h")), 1
    ).otherwise(0)
    # integer-exact thresholds: (mx*i + 7) // 8 — Spark's / on longs
    # is double division, so floor() the exact-integer-valued double
    # (exact below 2^53)
    bucket = sum(
        (
            F.when(
                F.col("doc_id") > F.floor((F.col("mx") * i + 7) / 8), 1
            ).otherwise(0)
            for i in range(1, 8)
        ),
        start=F.lit(1),
    )
    per = (
        hashed.withColumn("is_dup", is_dup)
        .crossJoin(F.broadcast(mx))
        .select(bucket.cast("int").alias("curve_point"), "is_dup")
        .groupBy("curve_point")
        .agg(
            F.count(F.lit(1)).alias("step_docs"),
            F.sum("is_dup").alias("step_dup"),
        )
    )
    wc = Window.orderBy("curve_point").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = per.select(
        "curve_point",
        F.sum("step_docs").over(wc).cast("long").alias("n_docs"),
        F.sum("step_dup").over(wc).cast("long").alias("n_dup"),
        F.col("step_docs").cast("long").alias("step_docs"),
        F.col("step_dup").cast("long").alias("step_dup"),
    )
    return cum.select(
        "curve_point",
        "n_docs",
        "n_dup",
        round_col(F.col("n_dup").cast("double") / F.col("n_docs"), 6).alias(
            "dup_rate"
        ),
        round_col(
            F.col("step_dup").cast("double") / F.col("step_docs"), 6
        ).alias("marginal_dup_rate"),
    ).orderBy("curve_point")


_CDC_W = 8  # rolling-hash window (chars)
_CDC_MOD = 1048576  # 2^20 hash modulus
_CDC_DIV = 64  # boundary divisor → ~64-char expected chunks
_CDC_WEIGHTS = [pow(31, j, _CDC_MOD) for j in range(_CDC_W)]


def _cdc_oracle() -> str:
    terms = " + ".join(
        f"cps[i - {j}] * {w}" for j, w in enumerate(_CDC_WEIGHTS)
    )
    return f"""
    WITH c AS (
        SELECT doc_id, text,
               list_transform(range(1, length(text) + 1),
                              i -> ascii(substr(text, i, 1))) AS cps
        FROM documents WHERE length(text) >= 1
    ),
    b AS (
        SELECT doc_id, text,
               CASE WHEN length(text) >= {_CDC_W}
                    THEN list_filter(range({_CDC_W}, length(text) + 1),
                         i -> (({terms}) % {_CDC_MOD}) % {_CDC_DIV} = 0)
                    ELSE [] END AS bpos
        FROM c
    ),
    bounds AS (
        SELECT doc_id, text,
               list_concat(list_concat([0], bpos), [length(text)]) AS bs
        FROM b
    ),
    chunks AS (
        SELECT doc_id, unnest(
            list_transform(range(1, len(bs)),
                k -> substr(text, bs[k] + 1, bs[k + 1] - bs[k]))) AS chunk
        FROM bounds
    ),
    hashed AS (
        SELECT doc_id, md5(chunk) AS chunk_hash, length(chunk) AS chunk_len
        FROM chunks WHERE chunk <> ''
    )
    SELECT chunk_hash, CAST(max(chunk_len) AS INT) AS chunk_len,
           count(DISTINCT doc_id) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_occ
    FROM hashed GROUP BY chunk_hash
    ORDER BY n_occ DESC, chunk_hash LIMIT 20
    """


@query("cdc_chunk_dedup", oracle=_cdc_oracle())
def cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (gear/Rabin-style, the backup-
    dedup technique applied to training text): chunk boundaries are
    placed where a fixed-8-char rolling hash ≡ 0 (mod 64), so an
    INSERTION only moves boundaries locally — the chunks away from
    the edit keep their content hashes, catching shifted duplication
    that fixed-stride `chunk_documents_overlap` and whole-doc hashing
    both miss. Top-20 most-repeated chunks with doc- and
    occurrence-counts (boilerplate passages, quoted blocks).

    Shape: the hash is a per-position sum over a CONSTANT window —
    one JVM-side transform/filter chain per document (codepoints,
    boundary positions, substrings), zero Python; the only shuffle
    keys are fixed-width chunk hashes. Hash arithmetic is exact
    integer (weights 31^j mod 2^20 precomputed as shared literals, Σ
    < 2^27), identical in both engines; Spark's descending-sequence
    trap is guarded (docs shorter than the window produce one
    chunk)."""
    terms = " + ".join(
        f"element_at(cps, i - {j}) * {w}" for j, w in enumerate(_CDC_WEIGHTS)
    )
    d = load_table(spark, sf_dir, "documents")
    c = d.filter(F.length("text") >= 1).select(
        "doc_id",
        "text",
        F.expr(
            "transform(sequence(1, length(text)), i -> ascii(substring(text, i, 1)))"
        ).alias("cps"),
    )
    b = c.select(
        "doc_id",
        "text",
        F.expr(
            f"CASE WHEN length(text) >= {_CDC_W} THEN "
            f"filter(sequence({_CDC_W}, length(text)),"
            f" i -> (({terms}) % {_CDC_MOD}) % {_CDC_DIV} = 0) "
            "ELSE array() END"
        ).alias("bpos"),
    )
    bounds = b.select(
        "doc_id",
        "text",
        F.expr(
            "concat(array(0L), transform(bpos, x -> cast(x AS LONG)),"
            " array(cast(length(text) AS LONG)))"
        ).alias("bs"),
    )
    chunks = bounds.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(bs) - 1),"
                " k -> substring(text, cast(element_at(bs, k) AS INT) + 1,"
                " cast(element_at(bs, k + 1) - element_at(bs, k) AS INT)))"
            )
        ).alias("chunk"),
    ).filter(F.col("chunk") != "")
    hashed = chunks.select(
        "doc_id",
        F.md5("chunk").alias("chunk_hash"),
        F.length("chunk").alias("chunk_len"),
    )
    return (
        hashed.groupBy("chunk_hash")
        .agg(
            F.max("chunk_len").cast("int").alias("chunk_len"),
            F.count_distinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_occ"),
        )
        .orderBy(F.desc("n_occ"), "chunk_hash")
        .limit(20)
    )


@query(
    "fragment_reassembly_candidates",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    edges AS (
        SELECT doc_id,
               md5(array_to_string(t[1:4], ' ')) AS first4,
               md5(array_to_string(t[len(t) - 3 : len(t)], ' ')) AS last4
        FROM toks WHERE len(t) >= 8
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.last4 AS frag_hash
    FROM edges a JOIN edges b
      ON a.last4 = b.first4 AND a.doc_id <> b.doc_id
    ORDER BY doc_a, doc_b LIMIT 50
    """,
)
def fragment_reassembly_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-document detection: doc A's last-4-token window hashed
    equal to doc B's first-4-token window means B plausibly CONTINUES
    A — the crawl-shard-boundary reassembly signal (truncated pages
    re-fetched, multi-part articles) that none of the whole-doc or
    chunk dedup family can see, because the overlap is at the EDGES.
    Docs need ≥8 tokens so the two windows can't overlap each other
    inside one doc (window 4 balances selectivity against the
    fixture's short docs — production would use 8-16 tokens).

    Shape: the corpus reduces to two fixed-width edge hashes per doc
    (one scan, JVM slicing); the candidate join keys on those hashes
    only — text never enters the shuffle; output id-ordered top-50."""
    d = load_table(spark, sf_dir, "documents")
    t = F.filter(F.split("text", " "), lambda x: x != "")
    edges = d.select(
        "doc_id",
        t.alias("t"),
    ).filter(F.size("t") >= 8).select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice("t", 1, 4))).alias("first4"),
        F.md5(
            F.concat_ws(" ", F.expr("slice(t, size(t) - 3, 4)"))
        ).alias("last4"),
    )
    a, b = edges.alias("a"), edges.alias("b")
    return (
        a.join(
            b,
            (F.col("a.last4") == F.col("b.first4"))
            & (F.col("a.doc_id") != F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.last4").alias("frag_hash"),
        )
        .orderBy("doc_a", "doc_b")
        .limit(50)
    )


@query(
    "cross_source_ngram_matrix",
    oracle=f"""
    WITH toks AS (
        SELECT source,
               list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    grams AS (
        SELECT DISTINCT source,
               md5(array_to_string(t[i : i + 7], ' ')) AS g
        FROM toks, unnest(range(1, len(t) - 8 + 2)) AS r(i)
        WHERE len(t) >= 8
    ),
    df AS (
        SELECT g FROM grams GROUP BY g
        HAVING count(*) <= {SHINGLE_DF_CAP}
    ),
    kept AS (SELECT grams.source, grams.g FROM grams JOIN df USING (g)),
    per AS (SELECT source, count(*) AS n_grams FROM kept GROUP BY source),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               count(*) AS shared_grams
        FROM kept a JOIN kept b
          ON a.g = b.g AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, CAST(shared_grams AS BIGINT) AS shared_grams,
           {round_sql(
               "CAST(shared_grams AS DOUBLE)"
               " / least(pa.n_grams, pb.n_grams)", 6
           )} AS overlap_coef
    FROM shared
    JOIN per pa ON pa.source = source_a
    JOIN per pb ON pb.source = source_b
    ORDER BY shared_grams DESC, source_a, source_b
    LIMIT 20
    """,
)
def cross_source_ngram_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: which SOURCE PAIRS share
    verbatim 8-gram content, with the overlap coefficient
    shared/min(|A|,|B|) — the between-corpus generalization of
    `decontaminate_ngram_overlap` (doc vs eval set) and
    `cross_source_duplication` (doc level): a high-coefficient pair
    means one source republishes the other, so mixing weights
    (`temperature_sampling_weights`) double-count it. Top-20 pairs.

    Shape: corpus → ONE groupBy on the gram hash (per-doc
    array_distinct pre-reduces the explode; collect_set finishes the
    global distinct); grams shared by more than SHINGLE_DF_CAP
    sources are stop-phrases and are dropped (mirrored in the oracle
    — a boilerplate gram in every source would otherwise make the
    pair fan-out quadratic in |sources| for zero signal); source
    pairs and per-source totals both come from one in-row generator
    over the gram's sorted source set, so one |sources|²-bounded
    count aggregate replaces the old distinct + df-join + self-join +
    rollup chain; per-source totals broadcast back."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.expr("filter(split(text, ' '), t -> t != '')").alias("t")
    ).filter(F.size("t") >= 8)
    hashes = shingle_hashes("t", 8)
    # r13 second pass: the old shape ran a global
    # DISTINCT exchange, a df groupBy, a join back, a kept×kept
    # self-join and a per-source rollup — five shuffles, with the
    # md5 gram pipeline re-derived per consumer. ONE groupBy(g) now
    # does all of it: per-doc array_distinct pre-reduces the explode
    # (same distinct (source, g) pairs after collect_set), the
    # sorted source set per gram gives the df cap as a size() filter,
    # and an in-row generator emits BOTH the ordered source pairs and
    # one (source, NULL) unit per member — so a single (sa, sb)
    # count aggregate yields the shared-gram matrix (sb IS NOT NULL)
    # and the per-source kept totals (sb IS NULL) in one pass. The
    # tiny |sources|²-bounded count table is localCheckpointed once
    # for its two readers.
    grams = toks.select(
        "source", F.explode(F.array_distinct(hashes)).alias("g")
    )
    buckets = (
        grams.groupBy("g")
        .agg(F.array_sort(F.collect_set("source")).alias("srcs"))
        .filter(F.size("srcs") <= SHINGLE_DF_CAP)
    )
    pair_entries = F.flatten(
        F.transform(
            "srcs",
            lambda x, i: F.transform(
                F.slice("srcs", i + 2, F.size("srcs")),
                lambda y: F.struct(x.alias("sa"), y.alias("sb")),
            ),
        )
    )
    unit_entries = F.transform(
        "srcs",
        lambda x: F.struct(
            x.alias("sa"), F.lit(None).cast("string").alias("sb")
        ),
    )
    counts = (
        buckets.select(
            F.explode(F.concat(unit_entries, pair_entries)).alias("e")
        )
        .groupBy(F.col("e.sa").alias("sa"), F.col("e.sb").alias("sb"))
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    shared = counts.filter(F.col("sb").isNotNull()).select(
        F.col("sa").alias("source_a"),
        F.col("sb").alias("source_b"),
        F.col("c").alias("shared_grams"),
    )
    per = counts.filter(F.col("sb").isNull()).select(
        F.col("sa").alias("source"), F.col("c").alias("n_grams")
    )
    pa = per.select(F.col("source").alias("source_a"), F.col("n_grams").alias("na"))
    pb = per.select(F.col("source").alias("source_b"), F.col("n_grams").alias("nb"))
    return (
        shared.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared_grams",
            round_col(
                F.col("shared_grams").cast("double")
                / F.least(F.col("na"), F.col("nb")),
                6,
            ).alias("overlap_coef"),
        )
        .orderBy(F.desc("shared_grams"), "source_a", "source_b")
        .limit(20)
    )


def _ngram_rep_arm_sql(n: int) -> str:
    return f"""
        SELECT CAST({n} AS INT) AS ngram_order,
               CAST(count(*) AS BIGINT) AS total_occ,
               count(DISTINCT g) AS distinct_grams
        FROM (
            SELECT md5(array_to_string(t[i : i + {n - 1}], ' ')) AS g
            FROM toks, unnest(range(1, len(t) - {n} + 2)) AS r(i)
            WHERE len(t) >= {n}
        )"""


@query(
    "ngram_repetition_curve",
    oracle=f"""
    WITH toks AS (
        SELECT list_filter(string_split(text, ' '), t -> t <> '') AS t
        FROM documents
    ),
    arms AS (
        {" UNION ALL ".join(_ngram_rep_arm_sql(n) for n in (1, 2, 4, 8))}
    )
    SELECT ngram_order, total_occ, distinct_grams,
           {round_sql(
               "1.0 - CAST(distinct_grams AS DOUBLE) / total_occ", 6
           )} AS repeat_rate
    FROM arms ORDER BY ngram_order
    """,
)
def ngram_repetition_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus repetition curve across n-gram orders {1, 2, 4, 8}: the
    fraction of n-gram OCCURRENCES that are repeats of an
    already-seen gram. Unigram repetition is just Zipf; repetition
    that stays high at order 8 is verbatim duplication — the
    memorization-risk curve (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better" tracks exactly this
    before/after dedup), and the before/after delta of this query is
    the dedup pipeline's effectiveness number.

    Shape: one explode + one (count, count-distinct) aggregate per
    order over fixed-width gram hashes — four independent reduced
    aggregations unioned into the 4-point curve; nothing but hashes
    shuffles. Exact integer counts; one rounded division."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        F.expr("filter(split(text, ' '), t -> t != '')").alias("t")
    )
    arms = []
    for n in (1, 2, 4, 8):
        grams = toks.filter(F.size("t") >= n).select(
            F.explode(shingle_hashes("t", n)).alias("g")
        )
        arms.append(
            grams.agg(
                F.lit(n).cast("int").alias("ngram_order"),
                F.count(F.lit(1)).cast("long").alias("total_occ"),
                F.count_distinct("g").alias("distinct_grams"),
            )
        )
    curve = arms[0]
    for a in arms[1:]:
        curve = curve.unionByName(a)
    return curve.select(
        "ngram_order",
        "total_occ",
        "distinct_grams",
        round_col(
            1.0 - F.col("distinct_grams").cast("double") / F.col("total_occ"), 6
        ).alias("repeat_rate"),
    ).orderBy("ngram_order")


@query(
    "dedup_prefix_groups",
    oracle="""
    WITH groups AS (
        SELECT md5(array_to_string(string_split(text, ' ')[1:2], ' ')) AS h,
               count(*) AS dup_count,
               CAST(min(n_chars) AS BIGINT) AS min_chars,
               CAST(min(doc_id) AS BIGINT) AS keeper
        FROM documents
        GROUP BY 1 HAVING count(*) > 1
    )
    SELECT count(*) AS dup_groups,
           CAST(sum(dup_count) AS BIGINT) AS total_members,
           CAST(sum((dup_count - 1) * min_chars) AS BIGINT) AS est_wasted_chars
    FROM groups
    """,
)
def dedup_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate grouping by 2-token prefix fingerprint, with the
    reference's two-level waste rollup (`SUM((dup_count-1)*str_len)`,
    analyze_heap_parquet.py:276-294,721-737)."""
    d = load_table(spark, sf_dir, "documents")
    h = F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 2)))
    groups = (
        d.groupBy(h.alias("h"))
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("n_chars").cast("long").alias("min_chars"),
            F.min("doc_id").cast("long").alias("keeper"),
        )
        .filter(F.col("dup_count") > 1)
    )
    return groups.agg(
        F.count(F.lit(1)).alias("dup_groups"),
        F.sum("dup_count").cast("long").alias("total_members"),
        F.sum((F.col("dup_count") - 1) * F.col("min_chars")).cast("long").alias(
            "est_wasted_chars"
        ),
    )


@query(
    "ngram_shingle_overlap",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    shingles AS (
        -- DuckDB list slicing is end-inclusive: [i : i+3] = 4 tokens,
        -- matching Spark's slice(tokens, i, 4).
        SELECT DISTINCT doc_id,
               md5(array_to_string(tokens[i:i+3], ' ')) AS shingle
        FROM toks, unnest(range(1, len(tokens) - 4 + 2)) AS t(i)
    ),
    bounded AS (
        -- document-frequency cap: mirror of the Spark-side hot-bucket
        -- guard (size(docs) <= 64) so both engines define the operator
        -- identically at every scale
        SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 64
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_shingles
    FROM shingles a JOIN shingles b
      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
    JOIN bounded c ON c.shingle = a.shingle
    GROUP BY a.doc_id, b.doc_id
    HAVING count(*) >= 5
    ORDER BY shared_shingles DESC, doc_a, doc_b LIMIT 20
    """,
)
def ngram_shingle_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pair detection by shared 4-token shingles — the
    shingle → bucket core of MinHash/LSH dedup, run exact.

    Shape: one explode to (doc_id, hash) rows, ONE shuffle keyed on the
    shingle hash (collect_set both dedups and buckets), in-bucket
    ordered-pair generation JVM-side, then the pair aggregation. A
    self-join formulation costs three shuffles (distinct + both join
    sides) and evaluates the shingle pipeline twice. The hash array is
    built with transform() before the explode so exploded rows carry a
    32-byte hex, never the token array. Hot buckets (a stop-phrase
    shingle shared by 10^6 docs) would otherwise build a 10^6-element
    array on one task and quadratic pairs, so buckets are capped at
    SHINGLE_DF_CAP documents — a standard document-frequency cut
    (reference precedent: the LIMIT caps in its dedup checks,
    analyze_heap_parquet.py:724,901), mirrored in the oracle SQL so the
    operator is defined identically in both engines. A shingle shared
    by >cap documents is a stop phrase, not a dedup signal."""
    d = load_table(spark, sf_dir, "documents")
    toks = _spread(
        d.select("doc_id", F.split("text", " ").alias("tokens")), spark, "doc_id"
    )
    n = 4
    # positions 1 .. len-n+1 (1-based), matching DuckDB's range unnest
    hashes = shingle_hashes("tokens", n)
    # r13 optimization (shuffle fewer bytes): a doc's
    # repeated shingles are deduplicated row-locally (array_distinct)
    # BEFORE the explode, so duplicate (doc, shingle) rows never reach
    # the bucket Exchange; collect_set previously absorbed them after
    # the shuffle, so results are unchanged by construction.
    buckets = (
        toks.filter(F.size("tokens") >= n)
        .select("doc_id", F.explode(F.array_distinct(hashes)).alias("shingle"))
        .groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter(
            (F.size("docs") > 1) & (F.size("docs") <= SHINGLE_DF_CAP)
        )
    )
    pairs = _sorted_pairs("docs")
    return (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= 5)
        .orderBy(F.desc("shared_shingles"), "doc_a", "doc_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------


# Retrieval legs shared by the similarity and hybrid-search operators:
# the BM25 lexical ranking and the dense cosine ranking against the
# query vector (vec_id 0), each in Spark and as oracle CTEs.

_BM25_TERMS = ["join", "scan", "merge"]

# One query term's BM25 contribution: the Lucene idf
# ln(1 + (N - df + 0.5) / (df + 0.5)), k1 = 1.2, b = 0.75.
_BM25_TERM_SQL = (
    "ln(1 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))"
    " * (t.tf * 2.2)"
    " / (t.tf + 1.2 * (0.25 + 0.75 * l.dlen / s.avgdl))"
)

_QUERY_VEC_SQL = """q AS (
        SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
    )"""

_QUERY_COS_SQL = round_sql(
    "list_dot_product(CAST(embedding AS DOUBLE[]), qv)"
    " / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),"
    " CAST(embedding AS DOUBLE[])))"
    " * sqrt(list_dot_product(qv, qv)))",
    4,
)


def _bm25_term(tf: Column, df: Column) -> Column:
    """`_BM25_TERM_SQL` in Spark, over the ``n_docs``, ``avgdl`` and
    ``dlen`` columns."""
    idf = F.log(F.lit(1.0) + (F.col("n_docs") - df + F.lit(0.5)) / (df + F.lit(0.5)))
    denom = tf + F.lit(1.2) * (
        F.lit(0.25) + F.lit(0.75) * F.col("dlen") / F.col("avgdl")
    )
    return idf * (tf * F.lit(2.2)) / denom


def _ranked(scored: DataFrame, score: str, depth: int, rk: str) -> DataFrame:
    """(doc_id, rk): the top ``depth`` rows by ``score`` desc, doc_id.
    TakeOrdered(depth) runs FIRST, so the global row_number window only
    ever sees ``depth`` rows and nothing corpus-sized funnels through
    one partition."""
    w = Window.orderBy(F.desc(score), "doc_id")
    return (
        scored.orderBy(F.desc(score), "doc_id")
        .limit(depth)
        .withColumn(rk, F.row_number().over(w))
        .select("doc_id", rk)
    )


def _lex_leg(d: DataFrame, depth: int, rk: str) -> DataFrame:
    """BM25 ranking of the documents for `_BM25_TERMS`. Only query-term
    tokens are exploded; df and the corpus stats (N, avgdl) are
    broadcast-sized."""
    base = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    )
    dl = base.select("doc_id", F.size("toks").alias("dlen"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.avg("dlen").alias("avgdl")
    )
    tf = (
        base.select("doc_id", F.explode("toks").alias("token"))
        .filter(F.col("token").isin(_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    lex_scored = (
        tf.join(F.broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", _bm25_term(F.col("tf"), F.col("df")).alias("part"))
        .groupBy("doc_id")
        .agg(round_col(F.sum("part"), 4).alias("score"))
    )
    return _ranked(lex_scored, "score", depth, rk)


def _lex_leg_sql(depth: int, rk: str) -> str:
    """`_lex_leg` as oracle CTEs ``base`` .. ``lex(doc_id, <rk>)``."""
    terms = ", ".join(f"'{t}'" for t in _BM25_TERMS)
    return f"""base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dlen FROM base),
    stats AS (SELECT count(*) AS n_docs, avg(dlen) AS avgdl FROM dl),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM (
            SELECT doc_id, unnest(toks) AS token FROM base
        )
        WHERE token IN ({terms})
        GROUP BY doc_id, token
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    lex_scored AS (
        SELECT t.doc_id,
               {round_sql(f"sum({_BM25_TERM_SQL})", 4)} AS score
        FROM tf t
        JOIN df d ON t.token = d.token
        JOIN dl l ON t.doc_id = l.doc_id, stats s
        GROUP BY t.doc_id
    ),
    lex AS (
        SELECT doc_id, row_number() OVER (ORDER BY score DESC, doc_id) AS {rk}
        FROM lex_scored QUALIFY {rk} <= {depth}
    )"""


def _query_scan(e: DataFrame) -> tuple[DataFrame, Column]:
    """Every embedding but the query (vec_id 0), next to the broadcast
    query vector ``qv``, plus the 4-dp cosine to it. The query norm
    ``qn`` is hoisted onto the 1-row broadcast side, so each row pays
    one fold (dot) + one sqrt instead of two folds."""
    qv = (
        e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("qv"))
        .select("qv", F.sqrt(dot(F.col("qv"), F.col("qv"))).alias("qn"))
    )
    ev = F.col("embedding").cast("array<double>")
    cos = round_col(cosine_bn(ev, F.col("qv"), F.col("qn")), 4)
    return e.filter(F.col("vec_id") != 0).crossJoin(F.broadcast(qv)), cos


def _dense_leg(e: DataFrame, depth: int, rk: str) -> DataFrame:
    """Cosine ranking of the embeddings against the query vector."""
    rows, cos = _query_scan(e)
    return _ranked(
        rows.select(F.col("vec_id").alias("doc_id"), cos.alias("cos")), "cos", depth, rk
    )


def _dense_leg_sql(depth: int, rk: str) -> str:
    """`_dense_leg` as oracle CTEs ``q`` .. ``dense(doc_id, <rk>)``."""
    return f"""{_QUERY_VEC_SQL},
    dense_scored AS (
        SELECT vec_id AS doc_id,
               {_QUERY_COS_SQL} AS cos
        FROM embeddings, q WHERE vec_id <> 0
    ),
    dense AS (
        SELECT doc_id, row_number() OVER (ORDER BY cos DESC, doc_id) AS {rk}
        FROM dense_scored QUALIFY {rk} <= {depth}
    )"""


@query(
    "similarity_topk",
    oracle=f"""
    WITH {_QUERY_VEC_SQL}
    SELECT vec_id, label,
           {_QUERY_COS_SQL} AS cos_sim
    FROM embeddings, q
    WHERE vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline. The query vector (vec_id=0)
    is broadcast; similarity is a sequential-fold dot product
    (exprs.dot) entirely in JVM expressions; top-k is TakeOrdered. At
    scale, the corpus side stays partition-parallel with no shuffle."""
    rows, sim = _query_scan(load_table(spark, sf_dir, "embeddings"))
    return (
        rows.select("vec_id", "label", sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@query(
    "similarity_lsh_bucketed",
    oracle=f"""
    WITH sgn AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings
    ),
    q AS (SELECT v AS qv, bucket AS qb FROM sgn WHERE vec_id = 0)
    SELECT vec_id, label, CAST(bucket AS INT) AS bucket,
           {round_sql("list_dot_product(v, qv) / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))", 4)} AS cos_sim
    FROM sgn, q
    WHERE vec_id <> 0 AND bucket = qb
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def similarity_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN — the scale path: random-hyperplane sign
    bits (here: the first 3 components' signs) partition the corpus, and
    search touches only the query's bucket. At 100 TB the bucket becomes
    the partitioning key, turning ANN into partition-pruned scans."""
    e = load_table(spark, sf_dir, "embeddings")
    bucket = (
        F.when(F.element_at("embedding", 1) > 0, 4).otherwise(0)
        + F.when(F.element_at("embedding", 2) > 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 3) > 0, 1).otherwise(0)
    )
    sgn = e.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("v"),
        bucket.alias("bucket"),
    )
    q = sgn.filter(F.col("vec_id") == 0).select(
        F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
        # query norm hoisted to the 1-row broadcast side (r14)
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("qn"),
    )
    sim = round_col(cosine_bn(F.col("v"), F.col("qv"), F.col("qn")), 4)
    return (
        sgn.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .filter(F.col("bucket") == F.col("qb"))
        .select("vec_id", "label", F.col("bucket").cast("int").alias("bucket"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@query(
    "embedding_norms",
    oracle=f"""
    SELECT label, count(*) AS cnt,
           {round_sql("avg(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))))", 4)} AS avg_norm,
           {round_sql("avg(CAST(embedding[1] AS DOUBLE))", 6)} AS avg_first
    FROM embeddings GROUP BY label
    """,
)
def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding statistics — list functions (B30) over
    array<float> vectors."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("cnt"),
        round_col(F.avg(F.sqrt(dot(v, v))), 4).alias("avg_norm"),
        round_col(F.avg(F.element_at("embedding", 1).cast("double")), 6).alias("avg_first"),
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_quality",
    oracle=f"""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           {round_sql("CAST(n_chars AS DOUBLE) / len(string_split(text, ' '))", 4)} AS chars_per_token,
           {round_sql("CAST(len(list_filter(string_split(text, ' '), t -> t = 'the' OR t = 'a')) AS DOUBLE) / len(string_split(text, ' '))", 4)} AS stopword_ratio,
           CASE WHEN n_chars BETWEEN 100 AND 5000 THEN 1 ELSE 0 END AS quality_ok
    FROM documents
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring: token count, chars/token, stopword
    ratio, length gate — all JVM-side higher-order array functions, no
    Python in the hot path."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    n_tok = F.size(toks)
    stop = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    return d.select(
        "doc_id",
        n_tok.cast("int").alias("n_tokens"),
        round_col(F.col("n_chars").cast("double") / n_tok, 4).alias("chars_per_token"),
        round_col(stop.cast("double") / n_tok, 4).alias("stopword_ratio"),
        F.when(F.col("n_chars").between(100, 5000), 1).otherwise(0).alias("quality_ok"),
    )


@query(
    "token_count_regex",
    oracle="""
    SELECT source,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+'))) AS BIGINT) AS re_tokens,
           count(*) AS n_docs
    FROM documents GROUP BY source
    """,
)
def token_count_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways: whitespace split and a BPE-ish regex
    (word/number runs) — per-source corpus accounting."""
    d = load_table(spark, sf_dir, "documents")
    ws = F.size(F.split("text", " "))
    re_toks = F.size(F.expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)"))
    return d.groupBy("source").agg(
        F.sum(ws).cast("long").alias("ws_tokens"),
        F.sum(re_toks).cast("long").alias("re_tokens"),
        F.count(F.lit(1)).alias("n_docs"),
    )


@query(
    "lang_id_confusion",
    oracle="""
    SELECT lang,
           CASE WHEN len(list_filter(string_split(text, ' '), t -> t = 'the')) >
                     len(list_filter(string_split(text, ' '), t -> t = 'a'))
                THEN 'the-heavy' ELSE 'a-heavy' END AS guess,
           count(*) AS cnt
    FROM documents GROUP BY 1, 2
    """,
)
def lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram-heuristic language-ID confusion matrix: a deterministic
    stopword-frequency classifier crossed against the labeled `lang`
    column. (The fixture vocabulary is shared across langs, so the
    classifier is mechanical — the pipeline shape is the point.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    cnt_the = F.size(F.filter(toks, lambda t: t == "the"))
    cnt_a = F.size(F.filter(toks, lambda t: t == "a"))
    guess = F.when(cnt_the > cnt_a, "the-heavy").otherwise("a-heavy")
    return d.groupBy("lang", guess.alias("guess")).agg(F.count(F.lit(1)).alias("cnt"))


@query(
    "doc_fingerprint",
    oracle="""
    SELECT doc_id,
           md5(lower(regexp_replace(text, '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
           CAST(length(text) AS INT) AS raw_len
    FROM documents WHERE doc_id < 50
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalization fingerprint: collapse non-alphanumerics, lowercase,
    hash — the canonical-form hashing step of document dedup
    (generalizing the md5(CAST(list AS VARCHAR)) idiom, B29)."""
    d = load_table(spark, sf_dir, "documents")
    return d.filter(F.col("doc_id") < 50).select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", "[^a-z0-9]+", " "))).alias("fingerprint"),
        F.length("text").cast("int").alias("raw_len"),
    )


# ---------------------------------------------------------------------------
# MinHash-LSH / SimHash / embedding near-dup
# ---------------------------------------------------------------------------


@query(
    "minhash_lsh_candidates",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    sh AS (
        -- 3-token shingles (DuckDB slice is end-inclusive: [i : i+2])
        {_SHINGLES_SQL}),
    {_SIG4_BANDS2_SQL}
    {_BAND_PAIRS_SQL}
    """,
)
def minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + LSH banding: shingle → k salted min-hashes → band
    buckets → bucket-join for candidate pairs. The min-hash uses
    lexicographic min over md5 hex strings (engine-portable: ASCII
    order == numeric order for fixed-width lowercase hex), so the
    oracle reproduces it exactly.

    Scale shape: per-doc work is O(tokens); the only shuffle keys are
    fixed-width band buckets, and the self-join touches co-bucketed
    docs only — the standard sub-quadratic LSH dedup plan. Band rows
    come from ONE explode over the signature (a union of per-band
    selects would duplicate the whole shingle+minhash subtree —
    Catalyst does not share subplans across union branches), so the
    corpus is scanned once per self-join side, the minimum."""
    toks = _doc_tokens(spark, sf_dir)
    # r13 optimization (remove shuffles outright): the
    # per-doc distinct-shingle set and the per-doc min-hashes are
    # row-local (every shingle of a doc lives in its own tokens row),
    # so array_distinct + array_min over transformed arrays replace
    # the old explode→.distinct() Exchange AND the groupBy(doc_id)
    # signature Exchange — the whole signature pipeline is now a
    # projection; the band self-join's (band, bucket) exchanges are
    # the only shuffles left in the plan.
    sh_arr = shingle_set("tokens")
    bands = minhash_band_rows(toks.select("doc_id", sh_arr.alias("shs")), "shs", 4, 2)
    # r13 optimization, second pass: left to the
    # planner this self-join goes BROADCAST, and a broadcast build has
    # no exchange to share — the whole shingle+minhash md5 pipeline
    # above ran TWICE (two identical corpus pipelines in the executed
    # plan; runtime exchange reuse only dedups below the pre-hash
    # _spread exchange). The band relation is 3 fixed-width columns
    # per doc — metadata, not payload — so materialize it ONCE with
    # localCheckpoint and let both join sides read the flat rows: the
    # corpus is hashed exactly once per run, and the join keeps its
    # cheap broadcast build. Pair set unchanged — materialization
    # never affects results. (perfbench/workloads.py::ITERATIVE lists
    # this operator, so perfbench times the checkpoint job with it.)
    return band_pairs(_fp_materialize(bands, sf_dir))


@query(
    "embedding_near_dup_pairs",
    oracle=f"""
    WITH sgn AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 32 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 16 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 8 ELSE 0 END
              + CASE WHEN embedding[4] > 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[5] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[6] > 0 THEN 1 ELSE 0 END) AS bucket
        FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {round_sql("list_dot_product(a.v, b.v) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))", 4)} AS cos_sim
    FROM sgn a JOIN sgn b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v)
          / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) > 0.35
    """,
)
def embedding_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, sign-LSH bucketed: pairs
    are only formed inside a bucket (sub-quadratic), then exact cosine
    filters. The sign-bit count scales with the corpus —
    ``max(6, ceil(log2(n/32)))`` targets ~32 vectors per bucket — so
    the per-bucket quadratic term stays bounded as the corpus grows
    (the r4 sf1 bench caught the fixed-64-bucket version going 32x at
    10x rows; each extra bit halves candidate pairs). The count probe
    behind the formula is a driver-side parquet-footer read
    (catalog.table_rows) — no Spark job is spent on it. The oracle
    pins 6 bits, which the formula yields for every oracle scale
    (n <= 2048 — sf0.01 has 500 vectors, sf0.1 has 2000), so the gate
    stays exact while big corpora get more buckets.

    Per-vector norms are computed ONCE before the pair join — the pair
    stage evaluates a single 64-dim fold per candidate instead of
    three. sqrt(dot(v,v)) hoisted per side is the exact same IEEE
    expression the oracle's inline form evaluates, so values are
    unchanged."""
    import math

    from ..catalog import table_rows

    e = load_table(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    planes = max(6, math.ceil(math.log2(max(n, 2) / 32)))
    bucket = sum(
        (
            F.when(F.element_at("embedding", i + 1) > 0, 1 << (planes - 1 - i)).otherwise(0)
            for i in range(planes)
        ),
        start=F.lit(0),
    )
    v = F.col("embedding").cast("array<double>")
    sgn = e.select(
        "vec_id", v.alias("v"), bucket.alias("bucket")
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a, b = sgn.alias("a"), sgn.alias("b")
    sim = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .withColumn("s", sim)
        .filter(F.col("s") > 0.35)
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            round_col(F.col("s"), 4).alias("cos_sim"),
        )
    )


_SIMHASH_ORACLE = """
    WITH tok AS (
        SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ), h AS (
        SELECT doc_id, CAST('0x' || substr(md5(token), 1, 4) AS BIGINT) AS h16
        FROM tok WHERE token <> ''
    ), votes AS (
        SELECT doc_id,
           sum(CASE WHEN (h16 >> 0) & 1 = 1 THEN 1 ELSE -1 END) AS b0,
           sum(CASE WHEN (h16 >> 1) & 1 = 1 THEN 1 ELSE -1 END) AS b1,
           sum(CASE WHEN (h16 >> 2) & 1 = 1 THEN 1 ELSE -1 END) AS b2,
           sum(CASE WHEN (h16 >> 3) & 1 = 1 THEN 1 ELSE -1 END) AS b3,
           sum(CASE WHEN (h16 >> 4) & 1 = 1 THEN 1 ELSE -1 END) AS b4,
           sum(CASE WHEN (h16 >> 5) & 1 = 1 THEN 1 ELSE -1 END) AS b5,
           sum(CASE WHEN (h16 >> 6) & 1 = 1 THEN 1 ELSE -1 END) AS b6,
           sum(CASE WHEN (h16 >> 7) & 1 = 1 THEN 1 ELSE -1 END) AS b7,
           sum(CASE WHEN (h16 >> 8) & 1 = 1 THEN 1 ELSE -1 END) AS b8,
           sum(CASE WHEN (h16 >> 9) & 1 = 1 THEN 1 ELSE -1 END) AS b9,
           sum(CASE WHEN (h16 >> 10) & 1 = 1 THEN 1 ELSE -1 END) AS b10,
           sum(CASE WHEN (h16 >> 11) & 1 = 1 THEN 1 ELSE -1 END) AS b11,
           sum(CASE WHEN (h16 >> 12) & 1 = 1 THEN 1 ELSE -1 END) AS b12,
           sum(CASE WHEN (h16 >> 13) & 1 = 1 THEN 1 ELSE -1 END) AS b13,
           sum(CASE WHEN (h16 >> 14) & 1 = 1 THEN 1 ELSE -1 END) AS b14,
           sum(CASE WHEN (h16 >> 15) & 1 = 1 THEN 1 ELSE -1 END) AS b15
        FROM h GROUP BY doc_id
    )
    SELECT doc_id, CAST((CASE WHEN b0 > 0 THEN 1 ELSE 0 END) + (CASE WHEN b1 > 0 THEN 2 ELSE 0 END) + (CASE WHEN b2 > 0 THEN 4 ELSE 0 END) + (CASE WHEN b3 > 0 THEN 8 ELSE 0 END) + (CASE WHEN b4 > 0 THEN 16 ELSE 0 END) + (CASE WHEN b5 > 0 THEN 32 ELSE 0 END) + (CASE WHEN b6 > 0 THEN 64 ELSE 0 END) + (CASE WHEN b7 > 0 THEN 128 ELSE 0 END) + (CASE WHEN b8 > 0 THEN 256 ELSE 0 END) + (CASE WHEN b9 > 0 THEN 512 ELSE 0 END) + (CASE WHEN b10 > 0 THEN 1024 ELSE 0 END) + (CASE WHEN b11 > 0 THEN 2048 ELSE 0 END) + (CASE WHEN b12 > 0 THEN 4096 ELSE 0 END) + (CASE WHEN b13 > 0 THEN 8192 ELSE 0 END) + (CASE WHEN b14 > 0 THEN 16384 ELSE 0 END) + (CASE WHEN b15 > 0 THEN 32768 ELSE 0 END) AS INT) AS simhash16 FROM votes
"""


@query("simhash_fingerprint", oracle=_SIMHASH_ORACLE)
def simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash document fingerprint (16-bit here; 64-bit at scale):
    per-token md5 → ±1 vote per bit position weighted by presence →
    sign vector → packed fingerprint. Near-dup docs differ in few bits
    (Hamming ball lookup). Pure JVM expressions — explode + conv +
    bitwise — no UDF. The oracle replays the identical integer bit
    votes (hex-prefix cast ≙ conv base 16), so the check is exact."""
    sig, fingerprint = _simhash16(spark, sf_dir)
    return sig.select("doc_id", fingerprint.cast("int").alias("simhash16"))


def _simhash16(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, Column]:
    """The 16-bit SimHash core: per-doc bit votes b0..b15 over the
    distinct tokens' md5 prefixes, and the fingerprint Column packing
    the positive votes."""
    d = load_table(spark, sf_dir, "documents")
    tok = (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
        .select(
            "doc_id",
            F.conv(F.substring(F.md5("token"), 1, 4), 16, 10).cast("long").alias("h16"),
        )
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h16"), j).bitwiseAND(1) == 1, 1).otherwise(-1)
        ).alias(f"b{j}")
        for j in range(16)
    ]
    fingerprint = sum(
        (F.when(F.col(f"b{j}") > 0, F.lit(1 << j)).otherwise(0) for j in range(16)),
        start=F.lit(0),
    )
    return tok.groupBy("doc_id").agg(*votes), fingerprint


@query(
    "similarity_ivf_probe",
    oracle=f"""
    WITH c AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cv
        FROM embeddings WHERE vec_id < 8
    ),
    v AS (
        SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    ranked AS (
        SELECT v.vec_id, v.label, v.v, c.cid,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.v, c.cv) DESC, c.cid) AS rn
        FROM v CROSS JOIN c
    ),
    assign AS (SELECT vec_id, label, v, cid FROM ranked WHERE rn = 1),
    probe AS (SELECT cid FROM ranked WHERE vec_id = 0 AND rn <= 2),
    q AS (SELECT v AS qv FROM v WHERE vec_id = 0)
    SELECT a.vec_id, a.label, CAST(a.cid AS INT) AS cell,
           {round_sql("list_dot_product(a.v, qv) / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(qv, qv)))", 4)} AS cos_sim
    FROM assign a JOIN probe p USING (cid), q
    WHERE a.vec_id <> 0
    ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def similarity_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a bounded coarse codebook (8 centroid vectors,
    deterministically vec_id < 8), inner-product cell assignment, and
    an nprobe=2 search that scans only the query's two best cells.

    Scale shape: the codebook is collected to the driver (it is
    index metadata, bounded by k — never corpus-sized) and unrolled
    into a literal argmax projection, so cell assignment is a NARROW
    stage over the corpus: no shuffle, no join, nothing leaves the
    scan partitioning until the final top-k heap. The probe cells
    prune the candidate set before any cosine is computed — the same
    partition-pruning IVF gives at 100-TB corpus scale. All dot
    products are sequential folds (exprs.dot ≙ list_dot_product) so
    cell ranks and scores are bit-identical to the oracle."""
    e = load_table(spark, sf_dir, "embeddings")
    vcol = F.col("embedding").cast("array<double>")

    cents = [
        (r["cid"], list(r["cv"]))
        for r in e.filter(F.col("vec_id") < 8)
        .select(F.col("vec_id").alias("cid"), vcol.alias("cv"))
        .collect()
    ]
    cents.sort()

    # argmax over the codebook by affinity — max affinity, ties to the
    # smallest cid, matching the oracle's ORDER BY aff DESC, cid.
    best_cell = centroid_argmax(
        cents, lambda cv: dot(F.col("v"), lit_vec(cv)), "aff", "neg_cid"
    ).getField("cid")

    # Probe cells of the query vector: same fold, computed driver-side
    # (a left-to-right Python float sum is the identical IEEE sequence).
    qv = list(
        e.filter(F.col("vec_id") == 0).select(vcol.alias("v")).collect()[0]["v"]
    )

    probe = [cid for cid, _ in sorted(cents, key=lambda c: (-fold_dot(qv, c[1]), c[0]))[:2]]

    # r14: the query self-norm is a constant the HOF fold would
    # otherwise re-evaluate per row (literal-array aggregates are not
    # constant-folded past the lambda). math.sqrt of the identical
    # left fold is the same correctly-rounded IEEE double.
    import math

    qn = F.lit(math.sqrt(self_dot(qv)))
    sim = round_col(cosine_bn(F.col("v"), lit_vec(qv), qn), 4)
    return (
        e.select("vec_id", "label", vcol.alias("v"))
        .withColumn("cell", best_cell)
        .filter(F.col("cell").isin(probe) & (F.col("vec_id") != 0))
        .select("vec_id", "label", F.col("cell").cast("int"), sim.alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )



def _shingle_pair_counts(spark: SparkSession, sf_dir: str, n: int) -> DataFrame:
    """Shared exact shingle-pair counting core of `jaccard_pairs` and
    `containment_pairs`: per-doc distinct n-gram md5 sets → capped
    shingle buckets → in-row ordered pairs → (doc_a, doc_b) count,
    with per-doc set sizes joined back broadcast.

    r13 second pass: the fused shape — bucket
    collect_set + pair explode + pair aggregate in ONE stage chain —
    measured 11–21 s warm at sf1 with 26.6 M pair rows, and its
    single-shot cold runs blew past 40 s (the bucket ObjectHashAggregate
    and the pair HashAggregate contend for execution memory in the
    same stage chain). Materializing the per-doc shingle arrays once
    (`_fp_materialize`) decouples the stages; the bucket state and the
    26.6 M exploded pair rows then carry BARE doc ids (16 bytes of key
    instead of 32: fewer shuffled bytes), and the two set
    sizes join back from the flat per-doc relation (one row per doc,
    broadcast twice) AFTER the count — the pair aggregate's key is
    half as wide and the heavy explode never carries payload it does
    not group on. Group sets are unchanged: n_sh is functionally
    dependent on the doc id, so grouping with or without it yields the
    same groups, and both join sides are exactly the old rows."""
    d = load_table(spark, sf_dir, "documents")
    toks = _spread(
        d.select("doc_id", F.split("text", " ").alias("tokens")), spark, "doc_id"
    )
    hashes = shingle_hashes("tokens", n)
    sets = _fp_materialize(
        toks.filter(F.size("tokens") >= n).select(
            "doc_id", F.array_distinct(hashes).alias("hs")
        ),
        sf_dir,
    )
    shingles = sets.select("doc_id", F.explode("hs").alias("shingle"))
    buckets = (
        shingles.groupBy("shingle")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("docs"))
        .filter((F.size("docs") > 1) & (F.size("docs") <= SHINGLE_DF_CAP))
    )
    pairs = _sorted_pairs("docs")
    shared = (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sizes = sets.select("doc_id", F.size("hs").cast("long").alias("n_sh"))
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    # r14 (ADVICE): the sizes relation is one row PER DOCUMENT — it
    # grows with the corpus, and a hard broadcast hint cannot be
    # demoted by AQE, so over the broadcast threshold it would exceed
    # broadcast/driver limits at warehouse scale. Hint only when the
    # relation provably fits (driver-side footer row count, ~32 B per
    # framed (long, long) row); otherwise let the planner/AQE pick —
    # sizes reads flat checkpointed rows, so a shuffle join degrades
    # gracefully. At the bench scales the gate always broadcasts, so
    # the plan is unchanged locally.
    from ..catalog import table_rows

    thresh = _conf_bytes(
        spark, "spark.sql.autoBroadcastJoinThreshold", 10 * 1024**2
    )
    fits = thresh > 0 and table_rows(sf_dir, "documents") * 32 <= thresh
    hint = F.broadcast if fits else (lambda x: x)
    return shared.join(hint(sa), "doc_a").join(hint(sb), "doc_b")


@query(
    "jaccard_pairs",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    shingles AS ({_MD5_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    bounded AS (
        -- document-frequency cap, mirror of the Spark-side hot-bucket
        -- guard (size(docs) <= 64)
        SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 64
    ),
    shared AS ({_SHARED_SHINGLES_SQL})
    SELECT doc_a, doc_b, inter,
           {round_sql("CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)", 4)} AS jaccard
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 20
    """,
)
def jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard similarity: |A∩B| / |A∪B| over 3-token
    shingle sets. Shares `_shingle_pair_counts` with
    `containment_pairs` — per-doc distinct shingle sets materialized
    once, SHINGLE_DF_CAP hot-bucket guard (mirrored in the oracle),
    skinny in-bucket ordered pairs, set sizes joined back broadcast
    after the count. The division is a ratio of exact integers —
    bit-identical across engines."""
    shared = _shingle_pair_counts(spark, sf_dir, 3).filter(F.col("inter") >= 3)
    jac = F.col("inter").cast("double") / (F.col("na") + F.col("nb") - F.col("inter"))
    return (
        shared.select(
            "doc_a", "doc_b", "inter", round_col(jac, 4).alias("jaccard")
        )
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(20)
    )


@query(
    "vocab_topk",
    oracle="""
    SELECT token, count(*) AS freq, count(DISTINCT doc_id) AS doc_freq
    FROM (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
    )
    WHERE token <> ''
    GROUP BY token
    ORDER BY freq DESC, token LIMIT 50
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: term frequency + document
    frequency, top-50 — the counting backbone of tokenizer training and
    tf-idf. One explode, one shuffle on the token; TakeOrdered top-k."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(
            F.count(F.lit(1)).alias("freq"),
            F.countDistinct("doc_id").alias("doc_freq"),
        )
        .orderBy(F.desc("freq"), "token")
        .limit(50)
    )


@query(
    "dedup_keep_best",
    oracle="""
    SELECT doc_id, h, CAST(group_n AS BIGINT) AS group_n FROM (
        SELECT doc_id, md5(text) AS h,
               row_number() OVER (PARTITION BY md5(text)
                                  ORDER BY n_chars DESC, doc_id) AS rn,
               count(*) OVER (PARTITION BY md5(text)) AS group_n
        FROM documents)
    WHERE rn = 1
    """,
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup with a keep-best policy: per content-hash group,
    retain the longest document (ties → lowest id) instead of
    keep-first — the quality-aware variant every training pipeline
    runs. (r13: keep-best is a per-group ARGMAX, so a
    partial-aggregating `max(struct(n_chars, -doc_id, doc_id))` rides
    the map side — only one best-struct + count per (partition, hash)
    reaches the exchange, where the row_number window shuffled and
    SORTED every row of every duplicate group.)"""
    d = load_table(spark, sf_dir, "documents")
    best = F.max(
        F.struct(
            F.col("n_chars"),
            (-F.col("doc_id")).alias("nid"),
            F.col("doc_id").alias("doc_id"),
        )
    )
    return (
        d.select("doc_id", F.md5("text").alias("h"), "n_chars")
        .groupBy("h")
        .agg(
            best.alias("best"),
            F.count(F.lit(1)).cast("long").alias("group_n"),
        )
        .select(F.col("best.doc_id").alias("doc_id"), "h", "group_n")
    )


def _inrow_tf(docs: DataFrame) -> DataFrame:
    """Per-document term frequencies WITHOUT a (doc_id, term)
    aggregation exchange (r13): doc_id is unique per
    input row, so the global (doc, term) count is row-local — run-
    length encode the SORTED token array and explode (term, tf) pairs
    straight off the map side. `starts` holds the 1-based position of
    each run's first token; a run's tf is the gap to the next start
    (sentinel size+1 closes the last run). The pair generator is an
    inline transform — the bare-attribute Generate boundary measured
    ~4x slower (see the shingle-family note). No `_spread`: a 3-way
    interleaved A/B at sf0.1 AND sf1 measured the text repartition a
    consistent loss here (sf1 tfidf 5.6 vs 4.6 s min) — run-length
    over one pre-sorted array is ~an order lighter than the shingle
    family's per-row md5 work that _spread pays for."""
    st = F.array_sort(F.filter(F.split("text", " "), lambda t: t != ""))
    starts = F.expr(
        """CASE WHEN size(st) = 0 THEN array()
           ELSE filter(sequence(1, size(st)),
                       i -> i = 1 OR element_at(st, i) != element_at(st, i - 1))
           END"""
    )
    pairs = F.expr(
        """transform(starts, (s, j) -> struct(
               element_at(st, s) AS term,
               CAST(element_at(concat(starts, array(size(st) + 1)), j + 2) - s
                    AS BIGINT) AS tf))"""
    )
    return (
        docs.select("doc_id", st.alias("st"))
        .select("doc_id", "st", starts.alias("starts"))
        .select("doc_id", F.explode(pairs).alias("p"))
        .select(
            "doc_id", F.col("p.term").alias("term"), F.col("p.tf").alias("tf")
        )
    )


@query(
    "tfidf_top_terms",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> ''
           GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM toks WHERE term <> ''
           GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.term,
               {round_sql("tf.tf * ln(CAST(n.n AS DOUBLE) / df.df)", 6)} AS score_r
        FROM tf JOIN df ON tf.term = df.term CROSS JOIN n
    )
    SELECT doc_id, term,
           CAST(CAST(score_r AS DECIMAL(18,6)) AS VARCHAR) AS score
    FROM scored ORDER BY score_r DESC, term, doc_id LIMIT 25
    """,
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF scoring: term frequency per (doc, term), document
    frequency per term, idf = ln(N/df), global top-25. Term
    frequencies are computed IN-ROW (`_inrow_tf` — doc_id is unique
    per row, so no (doc, term) exchange exists at all). Document
    frequency is a window count over the tf rows (tf has exactly one
    row per (doc, term)) — deriving it from a second aggregation
    branch would duplicate the scan and the tokenization, which dwarf
    the tf-sized shuffle the window costs. N is a count-only scan
    crossJoined by broadcast. ln on the same exact-integer-derived
    doubles is bit-identical across engines; the rounded score is
    also the sort key so the LIMIT boundary agrees."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    tf = _inrow_tf(d)
    dfreq = F.count(F.lit(1)).over(Window.partitionBy("term"))
    n = d.agg(F.count(F.lit(1)).alias("n"))
    score = round_col(
        F.col("tf") * F.log(F.col("n").cast("double") / F.col("df")), 6
    )
    return (
        tf.withColumn("df", dfreq)
        .crossJoin(F.broadcast(n))
        .select("doc_id", "term", score.alias("score_r"))
        .orderBy(F.desc("score_r"), "term", "doc_id")
        .limit(25)
        .select(
            "doc_id",
            "term",
            F.col("score_r").cast("decimal(18,6)").cast("string").alias("score"),
        )
    )


@query(
    "token_entropy_by_source",
    oracle=f"""
    WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS term FROM documents
    ),
    tf AS (SELECT source, term, CAST(count(*) AS DOUBLE) AS c
           FROM toks WHERE term <> '' GROUP BY 1, 2),
    tot AS (SELECT source, sum(c) AS n FROM tf GROUP BY 1)
    SELECT tf.source,
           {stable_render_sql("-sum((c / n) * ln(c / n))", 6)} AS token_entropy,
           count(*) AS vocab_size
    FROM tf JOIN tot ON tf.source = tot.source
    GROUP BY tf.source
    """,
)
def token_entropy_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shannon entropy of the per-source token distribution — the
    corpus-diversity score a training pipeline uses to flag repetitive
    or boilerplate sources. Per-source totals come from a window sum
    over the tf partials, making the query one linear chain with a
    single scan (an aggregate-then-join-back formulation duplicates
    the scan + explode subtree); the window and the final groupBy
    share the source partitioning, so the corpus is read once and
    shuffled twice (token counts, then source)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("source", "term").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    p = F.col("c") / F.sum("c").over(Window.partitionBy("source"))
    return (
        tf.withColumn("p", p)
        .groupBy("source")
        .agg(
            stable_render(-F.sum(F.col("p") * F.log("p")), 6).alias("token_entropy"),
            F.count(F.lit(1)).alias("vocab_size"),
        )
    )


@query(
    "approx_distinct_sketch",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS within_bound
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def approx_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch distinct counting — HOW distinct-counting works
    at 100 TB: per-partition HyperLogLog sketches (DataSketches
    hll_sketch_agg) merge associatively, so the shuffle carries a few
    KB per group instead of every distinct value (contrast the exact
    countDistinct queries, which expand + dedup).

    Oracle-gated audit (r12 promotion from rows-only): the output is
    the audit relation — exact count plus a `within_bound` flag for
    sketch relative error < 5%. The oracle computes the exact side and
    asserts the BOUND only (TRUE literal); the engine-specific sketch
    estimate stays internal, so a sketch drifting out of its
    advertised error flips `within_bound` and fails the value hash.
    
    AUDIT vs PRODUCTION: the exact leg here exists only to gate the
    sketch under the oracle — a production pipeline runs the sketch
    side alone (that is the point of the sketch); copying this query
    verbatim at 100 TB would reintroduce the exact expansion it is
    designed to avoid.
    """
    e = load_table(spark, sf_dir, "events")
    per_type = (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("approx_users"),
        )
    )
    rel_err = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        / F.col("exact_users")
    )
    return per_type.select(
        "event_type",
        "exact_users",
        (rel_err < 0.05).alias("within_bound"),
    ).orderBy("event_type")


@query(
    "incremental_dedup_new_batch",
    oracle="""
    WITH corpus AS (SELECT md5(text) AS h FROM documents WHERE doc_id < 400),
    batch AS (SELECT doc_id, md5(text) AS h, source FROM documents WHERE doc_id >= 400),
    vs_corpus AS (
        SELECT b.doc_id, b.h, b.source FROM batch b
        WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.h = b.h)
    ),
    keep AS (
        SELECT doc_id, source, row_number() OVER (PARTITION BY h ORDER BY doc_id) AS rn
        FROM vs_corpus
    )
    SELECT source,
           CAST((SELECT count(*) FROM batch b2 WHERE b2.source = k.source) AS BIGINT) AS batch_docs,
           count(*) FILTER (rn = 1) AS kept_docs
    FROM keep k GROUP BY source
    """,
)
def incremental_dedup_new_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup of a new crawl batch against the existing
    corpus (doc_id >= 400 is "new", < 400 is the corpus): drop batch
    docs whose content hash already exists in the corpus (anti-join),
    then keep one representative per surviving hash (window) — the
    steady-state shape of a continuously-fed training set, where the
    corpus side is only ever probed by hash, never rescanned per doc.

    Scale shape: both sides reduce to fixed-width md5 keys before any
    join; the anti-join shuffles hashes (or broadcasts, when the daily
    batch is small relative to the corpus index), and the in-batch
    keep-first is one window over the already-deduped remainder."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    corpus = d.filter(F.col("doc_id") < 400).select(F.md5("text").alias("h"))
    batch = d.filter(F.col("doc_id") >= 400).select(
        "doc_id", F.md5("text").alias("h"), "source"
    )
    batch_counts = batch.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("batch_docs")
    )
    fresh = batch.join(corpus, "h", "left_anti")
    kept = (
        fresh.withColumn(
            "rn", F.row_number().over(Window.partitionBy("h").orderBy("doc_id"))
        )
        .filter(F.col("rn") == 1)
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("kept_docs"))
    )
    return batch_counts.join(kept, "source").select(
        "source", "batch_docs", "kept_docs"
    )


@query(
    "incremental_dedup_lsh_batch",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    sh AS ({_MD5_SHINGLES_SQL}),
    corpus_sh AS (SELECT * FROM sh WHERE doc_id < 400),
    batch_sh  AS (SELECT * FROM sh WHERE doc_id >= 400),
    sig AS ({_minhash_sig_sql(8)}),
    bands_all AS ({_BANDS4_SQL}),
    corpus_index AS (
        SELECT doc_id, band, bucket FROM (
            SELECT doc_id, band, bucket,
                   row_number() OVER (
                       PARTITION BY band, bucket ORDER BY doc_id
                   ) AS rnb
            FROM bands_all WHERE doc_id < 400
        ) WHERE rnb <= 64
    ),
    batch_bands AS (SELECT * FROM bands_all WHERE doc_id >= 400),
    cand AS (
        SELECT DISTINCT b.doc_id AS b_doc, c.doc_id AS c_doc
        FROM batch_bands b JOIN corpus_index c
          ON b.band = c.band AND b.bucket = c.bucket
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT cand.b_doc, cand.c_doc, count(*) AS inter
        FROM cand
        JOIN batch_sh  sb ON sb.doc_id = cand.b_doc
        JOIN corpus_sh sc ON sc.doc_id = cand.c_doc
                          AND sc.shingle = sb.shingle
        GROUP BY 1, 2
    ),
    dup AS (
        SELECT DISTINCT i.b_doc
        FROM inter i
        JOIN sizes zb ON zb.doc_id = i.b_doc
        JOIN sizes zc ON zc.doc_id = i.c_doc
        WHERE 2 * i.inter >= zb.n_sh + zc.n_sh - i.inter
    ),
    cand_docs AS (SELECT DISTINCT b_doc FROM cand)
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS batch_docs,
           CAST(count(ca.b_doc) AS BIGINT) AS cand_docs,
           CAST(count(du.b_doc) AS BIGINT) AS dup_docs,
           CAST(count(*) - count(du.b_doc) AS BIGINT) AS kept_docs
    FROM documents d
    LEFT JOIN cand_docs ca ON ca.b_doc = d.doc_id
    LEFT JOIN dup du ON du.b_doc = d.doc_id
    WHERE d.doc_id >= 400
    GROUP BY d.source ORDER BY d.source
    """,
)
def incremental_dedup_lsh_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup dedup of a new crawl batch against a
    persisted corpus MinHash band index — the production crawl loop
    (`incremental_dedup_new_batch` is its exact-hash twin; this one
    catches paraphrased/boilerplate-shifted recrawls an md5 can't):
    the standing corpus (doc_id < 400) is represented ONLY by its
    band index (band, bucket → doc_id, capped) plus per-doc shingle
    sets — both written once by the corpus pipeline
    (`minhash_lsh_candidates`' signature stage) and only PROBED here;
    the new batch (doc_id >= 400) computes its own 8-hash/4-band
    signatures, probes the index by (band, bucket) equi-join,
    and exact trigram Jaccard verifies candidates (threshold 0.5,
    compared in INTEGER form 2·inter ≥ union — no float boundary).
    Output per source: batch size, candidate docs, verified dup docs,
    kept docs.

    Scale shape: batch-side work is O(batch tokens); the probe join
    keys on fixed-width band buckets against an index capped at
    BAND_BUCKET_CAP members per bucket (cap applied at index-write
    time, deterministic row_number by doc_id — mirrored in the
    oracle), so one batch doc fans out to ≤ 4·64 candidates no matter
    how dup-heavy the corpus; the verify join touches candidate docs'
    shingles only. The corpus is never rescanned — at 100 TB the
    index and shingle tables are bucketed parquet keyed by
    (band, bucket) and doc_id, and each daily batch is a few GB
    probing them."""
    d = load_table(spark, sf_dir, "documents")
    toks = _doc_tokens(spark, sf_dir)
    hashes = shingle_hashes("tokens", 3)
    # r13 optimization: per-doc distinct set, size and
    # 8 salted min-hashes are row-local — array_distinct / size /
    # array_min replace the explode→.distinct() Exchange and both
    # groupBy(doc_id) Exchanges (sizes + sig); the verify stage reads
    # set sizes straight off the per-doc arrays, so no sizes relation
    # ever joins back.
    # r13 second pass: the index side, the batch side
    # and the verify stage all re-derived this trigram-md5 pipeline.
    # The per-doc distinct shingle arrays are the one expensive
    # derivation — materialize them ONCE with localCheckpoint and
    # derive signatures, bands and the verify intersections from the
    # flat rows.
    sets = _fp_materialize(
        toks.select("doc_id", F.array_distinct(hashes).alias("hs")), sf_dir
    )
    bands_all = minhash_band_rows(sets, "hs", 8, 4)
    # r13 optimization, second pass: the corpus-index
    # side and the batch side are filters of the SAME band relation,
    # but as separate lineages each re-ran the 8-salt minhash pass
    # over the (checkpointed) shingle sets. One keyed repartition on
    # the probe key (band, bucket) BEFORE the split lets both branches
    # — and the cap Window, whose required partitioning it is — hang
    # off a single exchange (the second branch plans as a
    # ReusedExchange), so the salt pass runs once. The exchange moves
    # 4 fixed-width band rows per doc — metadata, not payloads.
    bands_all = bands_all.repartition("band", "bucket")
    corpus_index = cap_bands(bands_all.filter(F.col("doc_id") < 400))
    cand = band_probe(bands_all.filter(F.col("doc_id") >= 400), corpus_index)
    # r13 optimization, second pass: the exact
    # verify used to explode EVERY doc's shingle set and equi-join two
    # copies of that corpus-sized relation to score a handful of
    # candidates. Same shape as minhash_prefilter_jaccard now:
    # semi-join the per-doc shingle ARRAYS down to candidate docs
    # (broadcast id list), then size/array_intersect IN-ROW per pair.
    # Arrays are array_distinct'd, so size(array_intersect) is exactly
    # the old shared-shingle count, and zero-intersection pairs —
    # which the old inner shingle join silently dropped — are dropped
    # by the inter > 0 filter. `sets` is checkpointed above, so both
    # pair-side probes read flat rows.
    cd = cand.select(
        F.explode(F.array("b_doc", "c_doc")).alias("doc_id")
    ).distinct()
    ss = sets.join(F.broadcast(cd), "doc_id")
    sb, sc = ss.alias("sb"), ss.alias("sc")
    inter = (
        cand.join(sb, F.col("b_doc") == F.col("sb.doc_id"))
        .join(sc, F.col("c_doc") == F.col("sc.doc_id"))
        .select(
            "b_doc",
            "c_doc",
            F.size("sb.hs").cast("long").alias("nb"),
            F.size("sc.hs").cast("long").alias("nc"),
            F.size(F.array_intersect("sb.hs", "sc.hs"))
            .cast("long")
            .alias("inter"),
        )
        .filter(F.col("inter") > 0)
    )
    dup = (
        inter.filter(
            2 * F.col("inter") >= F.col("nb") + F.col("nc") - F.col("inter")
        )
        .select("b_doc")
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    cand_docs = cand.select("b_doc").distinct().withColumn("is_cand", F.lit(1))
    batch_info = d.filter(F.col("doc_id") >= 400).select("doc_id", "source")
    return (
        batch_info.join(cand_docs, F.col("doc_id") == cand_docs["b_doc"], "left")
        .drop(cand_docs["b_doc"])
        .join(dup, F.col("doc_id") == dup["b_doc"], "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("batch_docs"),
            F.coalesce(F.sum("is_cand"), F.lit(0)).cast("long").alias("cand_docs"),
            F.coalesce(F.sum("is_dup"), F.lit(0)).cast("long").alias("dup_docs"),
            (F.count(F.lit(1)) - F.coalesce(F.sum("is_dup"), F.lit(0)))
            .cast("long")
            .alias("kept_docs"),
        )
        .orderBy("source")
    )


@query(
    "quality_classifier_score",
    oracle=f"""
    WITH feat AS (
        SELECT doc_id, source,
               len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
               CAST(n_chars AS DOUBLE)
                   / len(list_filter(string_split(text, ' '), t -> t <> '')) AS cpt,
               CAST(len(list_filter(string_split(text, ' '),
                        t -> t = 'the' OR t = 'a')) AS DOUBLE)
                   / len(list_filter(string_split(text, ' '), t -> t <> '')) AS sw
        FROM documents
    ),
    scored AS (
        SELECT doc_id, source,
               1.0 / (1.0 + exp(-(-1.0 + 0.02 * (n_tokens / 10.0)
                                  + 0.1 * cpt + 2.0 * sw))) AS score
        FROM feat
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
           {stable_render_sql("avg(score)", 4)} AS avg_score
    FROM scored GROUP BY source
    ORDER BY source
    """,
)
def quality_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering: a fixed linear classifier
    (fastText-style quality model distilled to literal weights) scored
    entirely JVM-side — features (token count, chars/token, stopword
    ratio) from one pass of higher-order array functions, then a
    sigmoid and a per-source pass-rate rollup. This is the "apply the
    quality model to the whole crawl" stage; in production the
    weights come from a trained model, the plan is identical.

    One scan, one aggregation shuffle; no UDF (sigmoid is exp(), a
    JVM intrinsic). The oracle replays the identical feature formulas
    and weights in SQL."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n_tokens = F.size(toks)
    cpt = F.col("n_chars").cast("double") / n_tokens
    sw = (
        F.size(F.filter(toks, lambda t: (t == "the") | (t == "a"))).cast("double")
        / n_tokens
    )
    z = (
        F.lit(-1.0)
        + F.lit(0.02) * (n_tokens / F.lit(10.0))
        + F.lit(0.1) * cpt
        + F.lit(2.0) * sw
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return (
        d.select("source", score.alias("score"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("score") >= 0.5, 1).otherwise(0))
            .cast("long")
            .alias("n_pass"),
            stable_render(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Trained quality classifier (r12): distributed
# logistic regression replaces quality_classifier_score's literal
# weights with weights FIT in-engine.
# ---------------------------------------------------------------------------

QC_ROUNDS = 8
QC_LR = 2.0

# Feature expressions shared verbatim between the Spark plan and the
# oracle SQL: intercept plus the quality_classifier_score feature set
# (token count / 10, chars-per-token, stopword ratio), standardized
# with FIXED documented constants (centers 5.5 / 5.5 / 0.06, scales
# 2.5 / 0.25 / 0.04 — typical corpus magnitudes, NOT corpus-derived
# statistics, so features stay bit-deterministic per doc). Plain
# full-batch GD needs the standardization: on the raw scales the loss
# is so ill-conditioned the iterates zigzag (measured 46% accuracy
# after 6 rounds raw vs 93% standardized).
#
# Label: the TEACHER model — quality_classifier_score's literal
# weights with a recall-tuned decision threshold (raw z >= -0.22,
# i.e. teacher score >= sigmoid(-0.22) ~ 0.445). Training must
# RECOVER the teacher's boundary from labels alone — the standard
# way to validate an optimizer when the fixture has no human labels
# (and the realistic distillation setup: an expensive upstream model
# labels a slice, a cheap linear student is fit to replace it). The
# label compares polynomial arithmetic against a constant — no exp()
# — so it is bit-identical across engines.
_QC_RAW = {
    "nt": "len(list_filter(string_split(text, ' '), t -> t <> ''))",
}
_QC_RAW["x1"] = f"({_QC_RAW['nt']} / 10.0)"
_QC_RAW["x2"] = f"(CAST(n_chars AS DOUBLE) / {_QC_RAW['nt']})"
_QC_RAW["x3"] = (
    "(CAST(len(list_filter(string_split(text, ' '),"
    f" t -> t = 'the' OR t = 'a')) AS DOUBLE) / {_QC_RAW['nt']})"
)
_QC_TEACHER_Z = (
    f"(-1.0 + 0.02 * {_QC_RAW['x1']} + 0.1 * {_QC_RAW['x2']}"
    f" + 2.0 * {_QC_RAW['x3']})"
)
_QC_FEAT_SQL = f"""
    SELECT doc_id, source,
           1.0 AS x0,
           ({_QC_RAW['x1']} - 5.5) / 2.5 AS x1,
           ({_QC_RAW['x2']} - 5.5) / 0.25 AS x2,
           ({_QC_RAW['x3']} - 0.06) / 0.04 AS x3,
           CASE WHEN {_QC_TEACHER_Z} >= -0.22 THEN 1.0 ELSE 0.0 END AS y
    FROM documents
"""


def _qc_round6(x: float) -> float:
    """Driver-side twin of exprs.round_sql(..., 6): floor(x*1e6+0.5)
    half-up with sign handling, pure IEEE — identical in Python, Spark
    and DuckDB for the same double."""
    import math

    p = 1e6
    if x >= 0:
        return math.floor(x * p + 0.5) / p + 0.0
    return -(math.floor(-x * p + 0.5) / p) + 0.0


def _qc_grad_sql(j: int) -> str:
    """One weight's full-batch gradient as SQL over (feat x 1-row
    weights): avg((sigmoid(w.x) - y) * x_j)."""
    z = "w.w0*x0 + w.w1*x1 + w.w2*x2 + w.w3*x3"
    return f"avg((1.0/(1.0 + exp(-({z}))) - y) * x{j})"


def _qc_rounds_oracle_ctes() -> str:
    """The chained per-round weight CTEs w0tbl..w{R}tbl that unroll
    the training loop in SQL (the bpe_train_merges recipe: 6-dp
    portably-rounded updates make each round's weights bit-identical
    across engines, so the unroll replays the loop exactly)."""
    parts = [
        f"feat AS MATERIALIZED ({_QC_FEAT_SQL})",
        "w0tbl AS (SELECT CAST(0.0 AS DOUBLE) AS w0, CAST(0.0 AS DOUBLE) AS w1,"
        " CAST(0.0 AS DOUBLE) AS w2, CAST(0.0 AS DOUBLE) AS w3)",
    ]
    for r in range(1, QC_ROUNDS + 1):
        cols = ", ".join(
            f"{round_sql(f'w.w{j} - {QC_LR} * {_qc_grad_sql(j)}', 6)} AS w{j}"
            for j in range(4)
        )
        parts.append(
            f"w{r}tbl AS (SELECT {cols} FROM feat, w{r - 1}tbl w"
            f" GROUP BY w.w0, w.w1, w.w2, w.w3)"
        )
    return ",\n    ".join(parts)


def _qc_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, source, x0..x3, y) — the Spark twin of _QC_FEAT_SQL
    (same expression order so every feature double is bit-identical
    across engines)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    n_tokens = F.size(toks)
    sw_hits = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    x1_raw = n_tokens / F.lit(10.0)
    x2_raw = F.col("n_chars").cast("double") / n_tokens
    x3_raw = sw_hits.cast("double") / n_tokens
    teacher_z = (
        F.lit(-1.0)
        + F.lit(0.02) * x1_raw
        + F.lit(0.1) * x2_raw
        + F.lit(2.0) * x3_raw
    )
    return d.select(
        "doc_id",
        "source",
        F.lit(1.0).alias("x0"),
        ((x1_raw - F.lit(5.5)) / F.lit(2.5)).alias("x1"),
        ((x2_raw - F.lit(5.5)) / F.lit(0.25)).alias("x2"),
        ((x3_raw - F.lit(0.06)) / F.lit(0.04)).alias("x3"),
        F.when(teacher_z >= F.lit(-0.22), 1.0).otherwise(0.0).alias("y"),
    )


def _qc_trained_weights(
    spark: SparkSession, sf_dir: str
) -> tuple[list[list[float]], DataFrame]:
    """Run the gradient-descent loop. Returns (per-round weight
    history incl. init, the cached feature relation). Each round's
    driver traffic is FOUR scalars (the gradient averages); the
    feature relation is built from one corpus scan and cached, so R
    rounds are R map-side-combinable aggregates over a 4-double-wide
    relation — never a corpus rescan."""
    feats = _qc_features(spark, sf_dir).localCheckpoint()
    w = [0.0, 0.0, 0.0, 0.0]
    history = [list(w)]
    for _ in range(QC_ROUNDS):
        z = sum(F.lit(w[j]) * F.col(f"x{j}") for j in range(4))
        p = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
        row = feats.agg(
            *[F.avg((p - F.col("y")) * F.col(f"x{j}")).alias(f"g{j}") for j in range(4)]
        ).collect()[0]
        w = [_qc_round6(w[j] - QC_LR * row[f"g{j}"]) for j in range(4)]
        history.append(list(w))
    return history, feats


@query(
    "quality_classifier_train",
    oracle=f"""
    WITH {_qc_rounds_oracle_ctes()}
    SELECT * FROM (
        SELECT 0 AS round, w0, w1, w2, w3 FROM w0tbl
        {"".join(f" UNION ALL SELECT {r} AS round, w0, w1, w2, w3 FROM w{r}tbl" for r in range(1, QC_ROUNDS + 1))}
    ) ORDER BY round
    """,
)
def quality_classifier_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRAIN the quality classifier in-engine — closes the "model is
    fake" gap left by `quality_classifier_score`'s literal weights
    (tokenizers, k-means and PCA already train in-engine): logistic
    regression by full-batch gradient descent on the score query's
    feature set (standardized intercept/tokens/chars-per-token/
    stopword-ratio), labeled by the score query's literal model as
    TEACHER (threshold z >= -0.22) — the distillation setup where a
    cheap student must recover an upstream model's boundary from
    labels alone (93% boundary agreement after the 8 rounds,
    pinned in pytest). Output is the full weight trajectory — init
    plus one row per round — the artifact a curation pipeline ships
    to the apply stage.

    Scale shape: ONE corpus scan builds the (x0..x3, y) feature
    relation (localCheckpointed); each of the fixed QC_ROUNDS rounds
    is one map-side-combinable aggregate returning FOUR scalars to
    the driver (the `bpe_train_merges` bounded-driver-traffic
    discipline). 6-dp portably-rounded weight updates make the loop
    bit-replayable, so the oracle unrolls the rounds as chained CTEs
    over the same feature SQL."""
    history, _ = _qc_trained_weights(spark, sf_dir)
    return spark.createDataFrame(
        [(r, *ws) for r, ws in enumerate(history)],
        "round int, w0 double, w1 double, w2 double, w3 double",
    ).orderBy("round")


@query(
    "quality_classifier_apply_trained",
    oracle=f"""
    WITH {_qc_rounds_oracle_ctes()},
    scored AS (
        SELECT f.source, f.y,
               1.0/(1.0 + exp(-(w.w0*f.x0 + w.w1*f.x1 + w.w2*f.x2 + w.w3*f.x3)))
                   AS score
        FROM feat f, w{QC_ROUNDS}tbl w
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN score >= 0.5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
           CAST(sum(CASE WHEN (score >= 0.5) = (y = 1.0) THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct,
           {stable_render_sql("avg(score)", 4)} AS avg_score
    FROM scored GROUP BY source ORDER BY source
    """,
)
def quality_classifier_apply_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY the trained quality classifier — the twin of
    `quality_classifier_score` with the literal weights replaced by
    the weights `quality_classifier_train` just fit: score every doc
    with the final-round model, then per-source pass rate, teacher
    agreement (accuracy against the teacher labels — the curation
    dashboard's "is the student usable" column) and mean score.

    Scale shape: training cost as in the train query; the apply pass
    is one scan of the cached feature relation with four broadcast
    scalar weights folded into the sigmoid expression — no UDF, no
    extra shuffle beyond the source rollup."""
    history, feats = _qc_trained_weights(spark, sf_dir)
    w = history[-1]
    z = sum(F.lit(w[j]) * F.col(f"x{j}") for j in range(4))
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    pred = score >= 0.5
    return (
        feats.select("source", "y", score.alias("score"), pred.alias("pred"))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("pred"), 1).otherwise(0)).cast("long").alias("n_pass"),
            F.sum(F.when(F.col("pred") == (F.col("y") == 1.0), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            stable_render(F.avg("score"), 4).alias("avg_score"),
        )
        .orderBy("source")
    )


@query(
    "vocab_oov_coverage",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    tk AS (SELECT * FROM toks WHERE token <> ''),
    vocab AS (
        SELECT token FROM (
            SELECT token, row_number() OVER (
                ORDER BY count(*) DESC, token) AS rk
            FROM tk GROUP BY token
        ) WHERE rk <= 256
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS total_tokens,
           CAST(sum(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS oov_tokens
    FROM tk LEFT JOIN vocab v USING (token)
    GROUP BY source
    ORDER BY source
    """,
)
def vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary coverage: build the top-256 corpus
    vocabulary (frequency, deterministic tie-break) and measure each
    source's out-of-vocabulary token volume — the decide-the-vocab-size
    question every tokenizer build answers first.

    The vocabulary is top-k of a token aggregation (TakeOrdered-sized,
    k-bounded) broadcast back against the token stream — the corpus
    never shuffles for the membership test, and the final rollup is
    one aggregation on source. Exact integer counts only."""
    d = load_table(spark, sf_dir, "documents")
    tk = d.select(
        "source", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    vocab = (
        tk.groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "token")
        .limit(256)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    return (
        tk.join(F.broadcast(vocab), "token", "left")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("total_tokens"),
            F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
            .cast("long")
            .alias("oov_tokens"),
        )
        .orderBy("source")
    )


@query(
    "exact_substring_runs",
    oracle="""
    WITH arr AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ), sh AS (
        -- 8-token shingles; DuckDB list slicing is end-inclusive, so
        -- toks[p:p+7] = 8 tokens = Spark slice(toks, p, 8)
        SELECT doc_id, CAST(p AS BIGINT) AS pos,
               md5(array_to_string(toks[p:p+7], ' ')) AS h
        FROM arr, UNNEST(range(1, len(toks) - 6)) AS r(p)
    ), ok AS (
        -- occurrence cap, the Spark side's hot-bucket guard verbatim
        SELECT h FROM sh GROUP BY h HAVING count(*) <= 64
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                        a.pos AS pos_a, b.pos AS pos_b
        FROM sh a JOIN sh b USING (h) JOIN ok USING (h)
        WHERE a.doc_id < b.doc_id
    ), runs AS (
        SELECT doc_a, doc_b, pos_a - pos_b AS diag, pos_a,
               pos_a - row_number() OVER (
                   PARTITION BY doc_a, doc_b, pos_a - pos_b
                   ORDER BY pos_a) AS grp
        FROM pairs
    )
    SELECT doc_a, doc_b, CAST(min(pos_a) AS BIGINT) AS start_a,
           CAST(min(pos_a) - diag AS BIGINT) AS start_b,
           CAST(count(*) + 7 AS BIGINT) AS n_tokens
    FROM runs
    GROUP BY doc_a, doc_b, diag, grp
    ORDER BY n_tokens DESC, doc_a, doc_b, start_a
    LIMIT 50
    """,
)
def exact_substring_runs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicated-substring detection — the ExactSubstr dedup of
    Lee et al., "Deduplicating Training Data Makes Language Models
    Better" (2022), re-expressed relationally instead of with a suffix
    array: two documents share a duplicated substring of >= 8 tokens
    iff they share a run of consecutive 8-token shingles on one
    diagonal (pos_a - pos_b constant). Finds each maximal run and
    reports its start offsets and token length — the spans a training
    pipeline would cut, where passage_dup_coverage only scores
    coverage.

    Shape: one explode to (doc, pos, md5) rows; ONE shuffle on the
    shingle hash groups occurrences into buckets (hot buckets —
    stop-phrases — capped at SHINGLE_DF_CAP occurrences, mirrored in
    the oracle, so no task ever builds a quadratic blowup); in-bucket
    ordered cross-doc pair generation JVM-side; then the islands
    trick (pos - row_number per diagonal) turns consecutive matches
    into maximal runs with one window pass + one aggregation keyed on
    the (pair, diagonal) — every stage shuffles fixed-width keys,
    never token arrays. A suffix array would find runs crossing
    >cap-frequency shingles; at corpus scale those are stop-phrase
    bridges, not dedup signal (same trade as ngram_shingle_overlap)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    n = 8
    toks = d.select("doc_id", F.split("text", " ").alias("tokens"))
    hashed = shingle_hashes("tokens", n)
    occ = (
        toks.filter(F.size("tokens") >= n)
        .select(
            "doc_id",
            F.posexplode(hashed).alias("pos0", "h"),
        )
        .select("doc_id", (F.col("pos0") + 1).cast("long").alias("pos"), "h")
        .groupBy("h")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("doc_id", "pos"))
            ).alias("occs")
        )
        .filter((F.size("occs") > 1) & (F.size("occs") <= SHINGLE_DF_CAP))
    )
    pairs = F.flatten(
        F.transform(
            "occs",
            lambda x, i: F.transform(
                F.filter(
                    F.slice("occs", i + 2, F.size("occs")),
                    lambda y: y.doc_id > x.doc_id,
                ),
                lambda y: F.struct(
                    x.doc_id.alias("doc_a"),
                    y.doc_id.alias("doc_b"),
                    x.pos.alias("pos_a"),
                    y.pos.alias("pos_b"),
                ),
            ),
        )
    )
    m = (
        occ.select(F.explode(pairs).alias("p"))
        .select("p.doc_a", "p.doc_b", "p.pos_a", "p.pos_b")
        .withColumn("diag", F.col("pos_a") - F.col("pos_b"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        m.withColumn("grp", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            (F.min("pos_a") - F.first("diag")).cast("long").alias("start_b"),
            (F.count(F.lit(1)) + n - 1).cast("long").alias("n_tokens"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "n_tokens")
        .orderBy(F.desc("n_tokens"), "doc_a", "doc_b", "start_a")
        .limit(50)
    )


def _pq_codebook_sql(s: int) -> str:
    """PQ codebook CTEs of 16-dim subspace *s* over `v`: the slice
    vs{s}, one exact Lloyd update from init vec_id < 4 (centroid
    components rounded to 6 dp) into cs{s}, and every vector's argmin
    code in enc{s} (rn = 1)."""
    a, b = 16 * s + 1, 16 * s + 16
    dist = (
        "(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.cv)"
        " + list_dot_product(c.cv, c.cv))"
    )
    return f"""
    vs{s} AS (SELECT vec_id, v[{a}:{b}] AS v FROM v),
    c0s{s} AS (SELECT vec_id AS cid, v AS cv FROM vs{s} WHERE vec_id < 4),
    a1s{s} AS (SELECT a.vec_id, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {dist} ASC, c.cid) AS rn
        FROM vs{s} a CROSS JOIN c0s{s} c),
    ms{s} AS (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS val
              FROM a1s{s} WHERE rn = 1),
    cs{s} AS (SELECT cid, list(val ORDER BY pos) AS cv FROM (
                SELECT cid, pos, {round_sql("avg(val)", 6)} AS val
                FROM ms{s} GROUP BY cid, pos) GROUP BY cid),
    enc{s} AS (SELECT a.vec_id, c.cid, c.cv,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {dist} ASC, c.cid) AS rn
        FROM vs{s} a CROSS JOIN cs{s} c)"""


def _pq_oracle() -> str:
    """Product-quantization oracle: per 16-dim subspace, one exact
    Lloyd update from deterministic init (vec_id < 4), then encode
    every vector as its argmin centroid id and score queries against
    RECONSTRUCTED vectors (asymmetric distance). Mirrors the Spark
    path CTE-for-stage; all dot products are sequential list folds,
    centroid components rounded to 6 dp (the _KMEANS_ASG_CTE
    conventions), and the four subspace contributions are added in
    one explicit left-to-right chain so IEEE order matches."""
    subs = []
    for s in range(4):
        subs.append(f"""{_pq_codebook_sql(s)},
    d{s} AS (SELECT q.vec_id AS query_id, t.vec_id AS vec_id,
                (list_dot_product(q.v, q.v) - 2 * list_dot_product(q.v, t.cv)
                 + list_dot_product(t.cv, t.cv)) AS d
        FROM (SELECT vec_id, v FROM vs{s} WHERE vec_id < 3) q
        CROSS JOIN (SELECT vec_id, cv FROM enc{s} WHERE rn = 1) t)""")
    body = ",".join(subs)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    {body},
    tot AS (SELECT d0.query_id, d0.vec_id,
                   ((d0.d + d1.d) + d2.d) + d3.d AS adist
            FROM d0 JOIN d1 USING (query_id, vec_id)
                    JOIN d2 USING (query_id, vec_id)
                    JOIN d3 USING (query_id, vec_id)),
    rk AS (SELECT query_id, vec_id, adist,
                  row_number() OVER (PARTITION BY query_id
                                     ORDER BY adist, vec_id) AS rn
           FROM tot)
    SELECT query_id, vec_id, {round_sql("adist", 4)} AS adist
    FROM rk WHERE rn <= 10
    ORDER BY query_id, adist, vec_id
    """


@query("similarity_pq_adc", oracle=_pq_oracle())
def similarity_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with asymmetric-distance lookup (the
    FAISS IVFPQ scoring core, Jégou et al. 2011) — completes the
    similarity family's scale ladder: brute (similarity_topk) →
    sign-LSH → IVF → PQ. The 64-dim corpus is split into 4 subspaces
    of 16 dims; each trains a 4-centroid codebook (one exact Lloyd
    update, deterministic init vec_id < k — the
    kmeans_embedding_clusters conventions) and every vector compresses
    to 4 small codes. Queries never touch raw corpus vectors again:
    per query, a k x m distance LOOKUP TABLE to the codebook
    reconstruction is precomputed driver-side and scoring is m
    element_at fetches + 3 adds per candidate.

    Scale shape: codebooks and LUTs are k x d INDEX METADATA (the only
    collects, like IVF's); encoding is a narrow argmin projection; each
    query's top-k is TakeOrderedAndProject over the checkpointed coded
    corpus — no shuffle anywhere, union of per-query limits. At 100 TB
    the coded corpus is 8 bits/vector — the point of PQ: memory-resident
    scoring over a 1000x-compressed index, re-ranking only the top-k
    against raw vectors (which would be one id-semi-join per query)."""
    v = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
        .localCheckpoint()
    )
    m, k, dsub, nq, topk = 4, 4, 16, 3, 10

    codebooks = []
    for s in range(m):
        sub = v.select("vec_id", F.slice("v", 16 * s + 1, dsub).alias("sv"))
        init = sorted(
            (r["vec_id"], list(r["sv"]))
            for r in sub.filter(F.col("vec_id") < k).collect()
        )
        rows = (
            sub.withColumn("cid", nearest_centroid(F.col("sv"), init).getField("cid"))
            .select("cid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(round_col(F.avg("val"), 6).alias("val"))
            .collect()
        )
        by: dict[int, dict[int, float]] = {}
        for r in rows:
            by.setdefault(r["cid"], {})[r["pos"]] = r["val"]
        codebooks.append(
            sorted((cid, [d[p] for p in range(len(d))]) for cid, d in by.items())
        )

    enc = v.select(
        "vec_id",
        *[
            nearest_centroid(F.slice("v", 16 * s + 1, dsub), codebooks[s])
            .getField("cid")
            .alias(f"c{s}")
            for s in range(m)
        ],
    ).localCheckpoint()

    queries = sorted(
        (r["vec_id"], list(r["v"]))
        for r in v.filter(F.col("vec_id") < nq).collect()
    )
    per_query = []
    for qid, qv in queries:
        ds = []
        for s in range(m):
            qsub = qv[16 * s : 16 * s + dsub]
            qq = fold_dot(qsub, qsub)
            # lut[cid] = ||q_s - cv||^2 with the oracle's exact
            # expression shape: qq - 2*qc + cc (left-assoc IEEE).
            # Keyed CASE rather than element_at(array, code+1): a
            # codebook that lost an empty cluster would shift array
            # positions off the cid values (the ivfpq_adc_probe
            # hardening, applied here too).
            expr = F.lit(None).cast("double")
            for cid, cv in codebooks[s]:
                d = qq - 2 * fold_dot(qsub, cv) + fold_dot(cv, cv)
                expr = F.when(
                    F.col(f"c{s}") == int(cid), F.lit(float(d))
                ).otherwise(expr)
            ds.append(expr)
        adist = ((ds[0] + ds[1]) + ds[2]) + ds[3]
        per_query.append(
            enc.select(
                F.lit(int(qid)).alias("query_id"),
                "vec_id",
                adist.alias("adist"),
            )
            .orderBy("adist", "vec_id")
            .limit(topk)
        )
    out = per_query[0]
    for p in per_query[1:]:
        out = out.unionByName(p)
    return out.select(
        "query_id", "vec_id", round_col(F.col("adist"), 4).alias("adist")
    ).orderBy("query_id", "adist", "vec_id")


@query(
    "zipf_alpha_fit",
    oracle=f"""
    WITH toks AS (
        SELECT unnest(string_split(text, ' ')) AS t FROM documents
    ),
    vf AS (SELECT t, count(*) AS f FROM toks WHERE t <> '' GROUP BY t),
    ranked AS (
        SELECT f, row_number() OVER (ORDER BY f DESC, t) AS r FROM vf
    ),
    pts AS (SELECT ln(r * 1.0) AS x, ln(f * 1.0) AS y, f FROM ranked),
    m AS (
        SELECT count(*) AS n, CAST(sum(f) AS BIGINT) AS total_tokens,
               avg(x) AS mx, avg(y) AS my,
               avg(x * y) AS mxy, avg(x * x) AS mxx, avg(y * y) AS myy
        FROM pts
    )
    SELECT n AS n_types, total_tokens,
           {stable_render_sql("-(mxy - mx * my) / (mxx - mx * mx)", 4)} AS alpha,
           {stable_render_sql("(mxy - mx * my) * (mxy - mx * my) / ((mxx - mx * mx) * (myy - my * my))", 4)} AS r2
    FROM m
    """,
)
def zipf_alpha_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit over the corpus rank-frequency curve: OLS slope of
    ln(frequency) against ln(rank) gives the Zipf exponent alpha
    (natural-language corpora sit near alpha≈1; the fit r² measures
    how heavy-tailed/duplicated the vocabulary actually is) — a
    one-row corpus-health diagnostic that catches boilerplate floods
    (alpha inflates) and synthetic/shuffled text (fit collapses)
    before training.

    Shape: corpus → vocabulary counts (one shuffle); ranks are
    assigned two-phase so NO global single-partition sort of the
    vocabulary ever happens: (1) the frequency histogram (|distinct
    frequency values| rows — tiny, Zipf packs the tail into shared low
    counts) self-joins to get each frequency's rank offset = #types
    with strictly higher frequency, (2) each type's rank = offset +
    row_number within its own frequency bucket (window PARTITIONED by
    f — distributed). Identical ranks to the naive global
    row_number(ORDER BY f DESC, t); the OLS moments are one closed-form
    aggregate — no iterative fitting."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    vf = (
        d.select(F.explode(F.split("text", " ")).alias("t"))
        .filter(F.col("t") != "")
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("f"))
    )
    hist = vf.groupBy("f").agg(F.count(F.lit(1)).alias("cnt"))
    offsets = (
        hist.alias("a")
        .join(F.broadcast(hist.alias("b")), F.col("b.f") > F.col("a.f"), "left")
        .groupBy(F.col("a.f").alias("f"))
        .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).alias("off"))
    )
    ranked = vf.join(F.broadcast(offsets), "f").withColumn(
        "r",
        F.col("off") + F.row_number().over(Window.partitionBy("f").orderBy("t")),
    )
    pts = ranked.select(
        F.log(F.col("r") * 1.0).alias("x"),
        F.log(F.col("f") * 1.0).alias("y"),
        "f",
    )
    m = pts.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("f").cast("long").alias("total_tokens"),
        F.avg("x").alias("mx"),
        F.avg("y").alias("my"),
        F.avg(F.col("x") * F.col("y")).alias("mxy"),
        F.avg(F.col("x") * F.col("x")).alias("mxx"),
        F.avg(F.col("y") * F.col("y")).alias("myy"),
    )
    cov = F.col("mxy") - F.col("mx") * F.col("my")
    varx = F.col("mxx") - F.col("mx") * F.col("mx")
    vary = F.col("myy") - F.col("my") * F.col("my")
    return m.select(
        F.col("n").alias("n_types"),
        "total_tokens",
        stable_render(-cov / varx, 4).alias("alpha"),
        stable_render(cov * cov / (varx * vary), 4).alias("r2"),
    )


@query(
    "bm25_keyword_search",
    oracle=f"""
    WITH base AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dlen FROM base),
    stats AS (
        SELECT count(*) AS n_docs, avg(dlen) AS avgdl FROM dl
    ),
    tf AS (
        SELECT doc_id, token, count(*) AS tf FROM (
            SELECT doc_id, unnest(toks) AS token FROM base
        )
        WHERE token IN ('join', 'scan', 'merge')
        GROUP BY doc_id, token
    ),
    df AS (SELECT token, count(*) AS df FROM tf GROUP BY token),
    scored AS (
        SELECT t.doc_id,
               sum(
                   {_BM25_TERM_SQL}
               ) AS score
        FROM tf t
        JOIN df d ON t.token = d.token
        JOIN dl l ON t.doc_id = l.doc_id, stats s
        GROUP BY t.doc_id
    ),
    rounded AS (
        SELECT doc_id, {round_sql("score", 4)} AS score_r FROM scored
    )
    SELECT doc_id, CAST(CAST(score_r AS DECIMAL(18,4)) AS VARCHAR) AS bm25
    FROM rounded ORDER BY score_r DESC, doc_id LIMIT 20
    """,
)
def bm25_keyword_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 ranked retrieval (Robertson-Sparck Jones; the Lucene
    idf variant ln(1+(N-df+0.5)/(df+0.5)), k1=1.2, b=0.75) for a fixed
    keyword query over the corpus — the lexical-search scoring half of
    a RAG/retrieval stack, as one declarative plan.

    Decomposition is what scales: doc length comes from `size()` on
    the tokenized array (no explode — the explode happens ONLY for
    query-term rows, so the shuffled token stream is |terms|-bounded,
    not corpus-length-bounded); df and the corpus stats (N, avgdl) are
    k-bounded broadcast scalars; the final score is one partial-
    aggregated shuffle on doc_id and a TakeOrdered(20). An inverted
    index materializes nothing here because the term list prunes the
    token stream before it ever moves. (r13: per-term tf
    is a k-bounded in-row `size(filter(...))` per query term, so the
    token explode, the (doc, term) aggregation exchange and the
    tf⋈dlen join all disappear — one corpus scan feeds one scalar
    aggregate (N, avgdl, per-term df) and one scored projection,
    ending in the same TakeOrdered(20).)"""
    d = load_table(spark, sf_dir, "documents")
    base = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    )
    def _tf(term: str):
        # Single-arg lambda: a 2-arg filter lambda would bind the
        # second parameter to the element INDEX, shadowing the term.
        return F.size(F.filter("toks", lambda x: x == F.lit(term)))

    # r14: the stats aggregate and the
    # scored projection each re-ran the corpus tokenize + 3 in-row tf
    # folds (two full scans). The per-doc tf/dlen rows are a narrow
    # fixed-width proxy (doc_id + 4 ints, ~4 MB at sf1) — materialize
    # them once and both consumers read flat checkpointed rows
    # (perfbench/workloads.py::ITERATIVE lists bm25, so perfbench
    # times the checkpoint with the query).
    wide = base.select(
        "doc_id",
        F.size("toks").alias("dlen"),
        *[_tf(t).alias(f"tf_{i}") for i, t in enumerate(_BM25_TERMS)],
    ).localCheckpoint()
    stats = wide.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.avg("dlen").alias("avgdl"),
        *[
            F.count(F.when(F.col(f"tf_{i}") > 0, 1)).alias(f"df_{i}")
            for i in range(len(_BM25_TERMS))
        ],
    )

    def part(i: int):
        tf = F.col(f"tf_{i}")
        return F.when(tf > 0, _bm25_term(tf, F.col(f"df_{i}"))).otherwise(F.lit(0.0))

    score = part(0) + part(1) + part(2)
    return (
        wide.filter(
            (F.col("tf_0") > 0) | (F.col("tf_1") > 0) | (F.col("tf_2") > 0)
        )
        .crossJoin(F.broadcast(stats))
        .select("doc_id", round_col(score, 4).alias("score_r"))
        .orderBy(F.desc("score_r"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.col("score_r").cast("decimal(18,4)").cast("string").alias("bm25"),
        )
    )


@query(
    "embedding_covariance_block",
    oracle=f"""
    WITH pairs AS (
        SELECT i.range AS i, j.range AS j
        FROM range(1, 9) i, range(1, 9) j
        WHERE i.range <= j.range
    )
    SELECT i, j,
           {round_sql(
               "covar_samp(CAST(embedding[i] AS DOUBLE),"
               " CAST(embedding[j] AS DOUBLE))", 6)} AS cov
    FROM embeddings, pairs
    GROUP BY i, j ORDER BY i, j
    """,
)
def embedding_covariance_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Covariance block of the embedding matrix (dims 1-8, upper
    triangle) — the input to PCA/whitening/decorrelation diagnostics
    over a vector corpus. Computed as ONE wide aggregate: every
    `covar_samp(x_i, x_j)` pair is a column of a single scan+reduce
    (single-pass co-moment accumulation, cancellation-safe — the
    price_trend_regression convention), then unpivoted via stack into
    (i, j, cov) rows. No explode: the corpus never fans out 64x into
    an (element, index) stream; the d*d fan-out happens in the
    k-bounded AGGREGATE STATE, which is the right side of the
    trade at 100 TB. Full-matrix variant = dimension-blocked passes of
    this same query (8 dims per block bounds aggregate width)."""
    emb = load_table(spark, sf_dir, "embeddings")

    def dim(i: int):
        return F.element_at("embedding", i).cast("double")

    ij = [(i, j) for i in range(1, 9) for j in range(1, 9) if i <= j]
    wide = emb.agg(
        *[
            round_col(F.covar_samp(dim(i), dim(j)), 6).alias(f"c_{i}_{j}")
            for i, j in ij
        ]
    )
    pairs = ", ".join(
        f"CAST({i} AS BIGINT), CAST({j} AS BIGINT), c_{i}_{j}" for i, j in ij
    )
    return (
        wide.selectExpr(f"stack({len(ij)}, {pairs}) AS (i, j, cov)")
        .orderBy("i", "j")
    )


# Saved-search rules for the percolator: (rule_id, required terms).
# Literal on both engines; a production system reads these from a
# rules table — the plan is identical.
_PERCOLATE_RULES = [
    (1, ("join", "hash")),
    (2, ("scan", "filter", "batch")),
    (3, ("sort", "merge")),
    (4, ("window", "agg")),
    (5, ("spark", "table", "row")),
]


def doc_terms(docs: DataFrame) -> DataFrame:
    """Distinct non-empty (doc_id, token) pairs of a (doc_id, text)
    relation."""
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
    )


def percolate_matches(docs: DataFrame, rules: DataFrame) -> DataFrame:
    """(doc_id, rule_id) pairs where the doc contains ALL the terms of
    the (rule_id, term) rule — the counting formulation of the
    conjunctive match: a doc's per-rule hit count equals the rule's
    term count. Both rule relations are broadcast, so the token stream
    is pruned before any shuffle."""
    rule_size = rules.groupBy("rule_id").agg(F.count(F.lit(1)).alias("k"))
    return (
        doc_terms(docs)
        .join(F.broadcast(rules), F.col("token") == F.col("term"))
        .groupBy("doc_id", "rule_id")
        .agg(F.count(F.lit(1)).alias("matched"))
        .join(F.broadcast(rule_size), "rule_id")
        .filter(F.col("matched") == F.col("k"))
        .select("doc_id", "rule_id")
    )


@query(
    "reverse_search_percolate",
    oracle=f"""
    WITH rules(rule_id, term) AS (VALUES {", ".join(
        f"({rid}, '{t}')" for rid, terms in _PERCOLATE_RULES for t in terms
    )}),
    rule_size AS (
        SELECT rule_id, count(*) AS k FROM rules GROUP BY rule_id
    ),
    doc_terms AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ) WHERE token <> ''
    ),
    hits AS (
        SELECT d.doc_id, r.rule_id, count(*) AS matched
        FROM doc_terms d JOIN rules r ON d.token = r.term
        GROUP BY d.doc_id, r.rule_id
    )
    SELECT CAST(h.rule_id AS BIGINT) AS rule_id,
           count(*) AS n_matching_docs,
           CAST(min(h.doc_id) AS BIGINT) AS first_doc
    FROM hits h JOIN rule_size s ON h.rule_id = s.rule_id
    WHERE h.matched = s.k
    GROUP BY h.rule_id
    ORDER BY h.rule_id
    """,
)
def reverse_search_percolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation / reverse search: instead of finding documents for
    a query, find which SAVED QUERIES match each incoming document —
    the alerting/routing primitive (saved searches, content routing
    rules, compliance triggers) that a crawl-scale pipeline evaluates
    on every new batch.

    A rule matches when ALL its terms appear in the document; the
    conjunctive check is COUNTING, not boolean recursion: join the
    doc's distinct terms against the (tiny, broadcast) rule-term
    table, and a doc satisfies a rule iff its per-rule hit count
    equals the rule's term count. Work is proportional to docs x
    matching TERMS (the token stream is pruned by the broadcast join
    before any shuffle), never docs x rules."""
    d = load_table(spark, sf_dir, "documents")
    rules = spark.createDataFrame(
        [(rid, t) for rid, terms in _PERCOLATE_RULES for t in terms],
        ["rule_id", "term"],
    )
    return (
        percolate_matches(d, rules)
        .groupBy("rule_id")
        .agg(
            F.count(F.lit(1)).alias("n_matching_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .orderBy("rule_id")
    )


@query(
    "containment_pairs",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    shingles AS ({_MD5_SHINGLES_SQL}),
    bounded AS (
        SELECT shingle FROM shingles GROUP BY shingle HAVING count(*) <= 64
    ),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    shared AS ({_SHARED_SHINGLES_SQL})
    SELECT doc_a, doc_b, inter,
           CAST(least(sa.n_sh, sb.n_sh) AS BIGINT) AS smaller_set,
           {round_sql(
               "CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh)", 4)}
               AS containment
    FROM shared
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE CAST(inter AS DOUBLE) / least(sa.n_sh, sb.n_sh) >= 0.8
    ORDER BY containment DESC, doc_a, doc_b LIMIT 20
    """,
)
def containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric set CONTAINMENT |A∩B| / min(|A|,|B|) over 3-gram
    shingles — the near-SUBSET detector symmetric Jaccard misses: a
    paragraph quoted inside a 10x-longer article scores ~1.0 here but
    ~0.1 on Jaccard, and subset duplication (quoting, concatenated
    crawls, boilerplate wrapping) is the dominant contamination mode
    Lee et al. 2022 found in web corpora.

    Shares `_shingle_pair_counts` with `jaccard_pairs` (same
    SHINGLE_DF_CAP hot-bucket guard, same materialized per-doc sets,
    integer-exact division) — only the denominator and the ≥0.8 gate
    differ, which is the point: the dedup family shares one scalable
    candidate pipeline, and each similarity semantics is a
    final-expression swap."""
    shared = _shingle_pair_counts(spark, sf_dir, 3).filter(F.col("inter") >= 3)
    smaller = F.least(F.col("na"), F.col("nb"))
    cont = F.col("inter").cast("double") / smaller
    return (
        shared.filter(cont >= 0.8)
        .select(
            "doc_a",
            "doc_b",
            "inter",
            smaller.cast("long").alias("smaller_set"),
            round_col(cont, 4).alias("containment"),
        )
        .orderBy(F.desc("containment"), "doc_a", "doc_b")
        .limit(20)
    )


@query(
    "heaps_law_fit",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS token
        FROM documents
    ),
    first_seen AS (
        SELECT token, min(doc_id) AS d0 FROM toks
        WHERE token <> '' GROUP BY token
    ),
    new_per_doc AS (
        SELECT d0 AS doc_id, count(*) AS new_types FROM first_seen GROUP BY d0
    ),
    growth AS (
        SELECT doc_id + 1 AS n,
               sum(new_types) OVER (
                   ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) AS v
        FROM new_per_doc
    ),
    pts AS (
        SELECT ln(CAST(n AS DOUBLE)) AS x, ln(CAST(v AS DOUBLE)) AS y
        FROM growth
    )
    SELECT count(*) AS n_docs,
           {stable_render_sql("covar_samp(y, x) / var_samp(x)", 6)} AS heaps_beta,
           {stable_render_sql(
               "exp(avg(y) - (covar_samp(y, x) / var_samp(x)) * avg(x))", 4)}
               AS heaps_k,
           {stable_render_sql("corr(y, x)", 6)} AS log_log_corr
    FROM pts
    """,
)
def heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit of vocabulary growth V(n) = K·n^β — the
    corpus-health companion to `zipf_alpha_fit`: β far from the
    natural-text band (~0.4-0.6) flags template/duplicated content
    (vocabulary saturates, β→0) or synthetic noise (β→1), and the
    fitted curve predicts how much NEW vocabulary the next 10x of
    crawl will add — a budgeting input for tokenizer retraining.

    The naive formulation recomputes distinct tokens per prefix
    (quadratic in the corpus). This reduces to each token's
    FIRST-seen document (one shuffle on token), new-type counts per
    INTRODUCTION point — at most |vocab| rows, so the cumulative
    window and the log-log OLS run over a vocabulary-bounded table,
    never the corpus (the growth curve is fit at its jump points,
    where all its information lives). n comes from the doc ordinal
    (dense ids here; the ingest sequence number at scale)."""
    d = load_table(spark, sf_dir, "documents")
    from pyspark.sql import Window

    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).filter(F.col("token") != "")
    first_seen = toks.groupBy("token").agg(F.min("doc_id").alias("d0"))
    new_per_doc = first_seen.groupBy(F.col("d0").alias("doc_id")).agg(
        F.count(F.lit(1)).alias("new_types")
    )
    w_run = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    growth = new_per_doc.select(
        (F.col("doc_id") + 1).alias("n"),
        F.sum("new_types").over(w_run).alias("v"),
    )
    pts = growth.select(
        F.log(F.col("n").cast("double")).alias("x"),
        F.log(F.col("v").cast("double")).alias("y"),
    )
    slope = F.covar_samp("y", "x") / F.var_samp("x")
    return pts.agg(
        F.count(F.lit(1)).alias("n_docs"),
        stable_render(slope, 6).alias("heaps_beta"),
        stable_render(F.exp(F.avg("y") - slope * F.avg("x")), 4).alias("heaps_k"),
        stable_render(F.corr("y", "x"), 6).alias("log_log_corr"),
    )


@query(
    "good_turing_vocab_estimate",
    oracle=f"""
    WITH tf AS (
        SELECT token, count(*) AS c
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        WHERE token <> '' GROUP BY token
    ),
    fof AS (SELECT c, count(*) AS n_c FROM tf GROUP BY c)
    SELECT CAST(sum(n_c) AS BIGINT) AS v_observed,
           CAST(sum(c * n_c) AS BIGINT) AS n_tokens,
           CAST(coalesce(max(CASE WHEN c = 1 THEN n_c END), 0) AS BIGINT)
               AS n1,
           CAST(coalesce(max(CASE WHEN c = 2 THEN n_c END), 0) AS BIGINT)
               AS n2,
           {round_sql(
               "CAST(coalesce(max(CASE WHEN c = 1 THEN n_c END), 0)"
               " AS DOUBLE) / sum(c * n_c)", 6
           )} AS p_unseen,
           {round_sql(
               "sum(n_c) + CAST(coalesce(max(CASE WHEN c = 1 THEN n_c END),"
               " 0) AS DOUBLE)"
               " * (coalesce(max(CASE WHEN c = 1 THEN n_c END), 0) - 1)"
               " / (2.0 * (coalesce(max(CASE WHEN c = 2 THEN n_c END), 0)"
               " + 1))", 2
           )} AS chao1_vocab
    FROM fof
    """,
)
def good_turing_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing unseen-mass + Chao1 vocabulary-richness estimate —
    the "how much vocabulary have we NOT crawled yet" number that
    complements `heaps_law_fit`'s growth curve: the probability the
    next token is an unseen type is N₁/N (Good 1953), and the
    bias-corrected Chao1 estimator V + N₁(N₁−1)/(2(N₂+1)) bounds the
    total vocabulary from the hapax/dis-legomena counts alone
    (always defined — no N₂=0 division). Tokenizer-budget and
    crawl-stopping input.

    Shape: corpus → token-frequency relation (one shuffle) →
    frequency-of-frequencies (second, tiny) → one scalar row;
    everything integer until the two final rounded divisions."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    fof = tf.groupBy("c").agg(F.count(F.lit(1)).alias("n_c"))
    n1 = F.coalesce(F.max(F.when(F.col("c") == 1, F.col("n_c"))), F.lit(0))
    n2 = F.coalesce(F.max(F.when(F.col("c") == 2, F.col("n_c"))), F.lit(0))
    return fof.agg(
        F.sum("n_c").cast("long").alias("v_observed"),
        F.sum(F.col("c") * F.col("n_c")).cast("long").alias("n_tokens"),
        n1.cast("long").alias("n1"),
        n2.cast("long").alias("n2"),
        round_col(
            n1.cast("double") / F.sum(F.col("c") * F.col("n_c")), 6
        ).alias("p_unseen"),
        round_col(
            F.sum("n_c") + n1.cast("double") * (n1 - 1) / (2.0 * (n2 + 1)), 2
        ).alias("chao1_vocab"),
    )


@query(
    "embedding_quantization_error",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    s AS (
        SELECT vec_id, v,
               list_max(list_transform(v, x -> abs(x))) / 127 AS sc
        FROM base
        WHERE list_max(list_transform(v, x -> abs(x))) > 0
    ),
    r AS (
        SELECT vec_id, v,
               list_transform(v, x ->
                   (CASE WHEN x < 0 THEN -floor(abs(x) / sc + 0.5)
                         ELSE floor(abs(x) / sc + 0.5) END) * sc) AS rec
        FROM s
    ),
    m AS (
        SELECT vec_id,
               list_dot_product(v, rec)
               / (sqrt(list_dot_product(v, v))
                  * sqrt(list_dot_product(rec, rec))) AS cosv,
               list_dot_product(
                   list_transform(range(1, 65), i -> v[i] - rec[i]),
                   list_transform(range(1, 65), i -> v[i] - rec[i])) / 64
                   AS mse
        FROM r
    )
    SELECT CAST(count(*) AS BIGINT) AS n_vectors,
           {stable_render_sql("avg(cosv)", 6)} AS avg_cos,
           {stable_render_sql("min(cosv)", 6)} AS min_cos,
           {stable_render_sql("avg(mse)", 6)} AS avg_mse,
           {stable_render_sql("max(mse)", 6)} AS max_mse
    FROM m
    """,
)
def embedding_quantization_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 scalar-quantization error audit (FAISS-SQ8-style,
    symmetric per-vector scale = max|v|/127, round-half-away-from-
    zero) — the go/no-go table before shrinking an embedding store
    4×: reconstruction cosine (worst and average) and per-dim MSE. If
    min_cos stays ≳0.99 the ANN family (`similarity_lsh_bucketed`,
    `similarity_ivf_probe`) can run on int8 payloads with rescoring
    only for the top candidates.

    Shape: entirely per-row JVM array arithmetic (one scan, one
    1-row aggregate) — nothing shuffles but five scalars. Parity: the
    quantizer is floor(|x|/scale + 0.5) with an explicit sign branch
    (identical IEEE ops both engines), dot products are sequential
    folds (exprs.dot ≙ list_dot_product), and the four float outputs
    ship via stable_render."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = e.select("vec_id", v.alias("v")).filter(
        F.array_max(F.transform(F.col("v"), F.abs)) > 0
    )
    sc = (F.array_max(F.transform(F.col("v"), F.abs)) / 127).alias("sc")
    s = base.select("vec_id", "v", sc)
    qcomp = lambda x: (  # noqa: E731 — mirrors the oracle lambda
        F.when(x < 0, -F.floor(F.abs(x) / F.col("sc") + 0.5)).otherwise(
            F.floor(F.abs(x) / F.col("sc") + 0.5)
        )
        * F.col("sc")
    )
    r = s.select("vec_id", "v", F.transform(F.col("v"), qcomp).alias("rec"))
    diff = F.zip_with(F.col("v"), F.col("rec"), lambda a, b: a - b)
    m = r.select(
        cosine(F.col("v"), F.col("rec")).alias("cosv"),
        (dot(diff, diff) / 64).alias("mse"),
    )
    return m.agg(
        F.count(F.lit(1)).cast("long").alias("n_vectors"),
        stable_render(F.avg("cosv"), 6).alias("avg_cos"),
        stable_render(F.min("cosv"), 6).alias("min_cos"),
        stable_render(F.avg("mse"), 6).alias("avg_mse"),
        stable_render(F.max("mse"), 6).alias("max_mse"),
    )


_RP_IN_DIM, _RP_OUT_DIM = 64, 16


def _rp_signs() -> list[list[int]]:
    """Deterministic ±1 sign matrix (out_dim × in_dim) from md5 — the
    Achlioptas {±1} JL projection; computed once in Python and
    embedded as identical literals in BOTH engines."""
    import hashlib

    return [
        [
            1
            if hashlib.md5(f"rp:{i}:{j}".encode()).hexdigest()[0] < "8"
            else -1
            for i in range(_RP_IN_DIM)
        ]
        for j in range(_RP_OUT_DIM)
    ]


def _rp_oracle() -> str:
    signs = _rp_signs()
    proj = ", ".join(
        f"list_dot_product(v, {signs[j]}) / 4" for j in range(_RP_OUT_DIM)
    )
    return f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id < 50
    ),
    p AS (SELECT vec_id, v, [{proj}] AS pv FROM base),
    pairs AS (
        SELECT a.vec_id AS ia, b.vec_id AS ib,
               sqrt(list_dot_product(
                   list_transform(range(1, {_RP_IN_DIM + 1}), i -> a.v[i] - b.v[i]),
                   list_transform(range(1, {_RP_IN_DIM + 1}), i -> a.v[i] - b.v[i])))
                   AS d_full,
               sqrt(list_dot_product(
                   list_transform(range(1, {_RP_OUT_DIM + 1}), i -> a.pv[i] - b.pv[i]),
                   list_transform(range(1, {_RP_OUT_DIM + 1}), i -> a.pv[i] - b.pv[i])))
                   AS d_proj
        FROM p a JOIN p b ON a.vec_id < b.vec_id
    ),
    r AS (SELECT d_proj / d_full AS ratio FROM pairs WHERE d_full > 0)
    SELECT CAST(count(*) AS BIGINT) AS n_pairs,
           {stable_render_sql("avg(ratio)", 6)} AS avg_ratio,
           {stable_render_sql("min(ratio)", 6)} AS min_ratio,
           {stable_render_sql("max(ratio)", 6)} AS max_ratio,
           {round_sql(
               "CAST(sum(CASE WHEN abs(ratio - 1.0) <= 0.3 THEN 1 ELSE 0 END)"
               " AS DOUBLE) / count(*)", 6
           )} AS frac_within_30pct
    FROM r
    """


@query("random_projection_distortion", oracle=_rp_oracle())
def random_projection_distortion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random-projection audit: project the
    64-dim embeddings to 16 dims with a deterministic Achlioptas ±1
    sign matrix (md5-derived, shared literal in both engines) and
    measure pairwise-distance distortion d_proj/d_full over the
    first-50-vector pair set — the go/no-go check before running the
    ANN/dedup family on a 4× cheaper projected store (JL: ratios
    concentrate near 1; `frac_within_30pct` is the operational
    number).

    Shape: the projection is 16 sequential-fold dot products against
    literal sign vectors (JVM-side, zero shuffles); the audit pair
    set is id-bounded (50 vectors → 1225 pairs) so the self-join is
    broadcast-sized by construction — the audit cost does not grow
    with the corpus. Parity: folds ≙ list_dot_product, √16 = 4 exact,
    distances/ratios identical IEEE trees, outputs via
    stable_render."""
    signs = _rp_signs()
    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("vec_id") < 50).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    proj = F.array(
        *[
            (dot(F.col("v"), F.lit([float(s) for s in signs[j]])) / 4)
            for j in range(_RP_OUT_DIM)
        ]
    )
    p = base.select("vec_id", "v", proj.alias("pv"))
    a, b = p.alias("a"), p.alias("b")
    dfull = F.sqrt(
        dot(
            F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x - y),
            F.zip_with(F.col("a.v"), F.col("b.v"), lambda x, y: x - y),
        )
    )
    dproj = F.sqrt(
        dot(
            F.zip_with(F.col("a.pv"), F.col("b.pv"), lambda x, y: x - y),
            F.zip_with(F.col("a.pv"), F.col("b.pv"), lambda x, y: x - y),
        )
    )
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        dfull.alias("d_full"), dproj.alias("d_proj")
    )
    r = pairs.filter(F.col("d_full") > 0).select(
        (F.col("d_proj") / F.col("d_full")).alias("ratio")
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
        stable_render(F.avg("ratio"), 6).alias("avg_ratio"),
        stable_render(F.min("ratio"), 6).alias("min_ratio"),
        stable_render(F.max("ratio"), 6).alias("max_ratio"),
        round_col(
            F.sum(F.when(F.abs(F.col("ratio") - 1.0) <= 0.3, 1).otherwise(0))
            .cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("frac_within_30pct"),
    )


def _lsh_plane_bucket_sql(p: int) -> str:
    return " + ".join(
        f"(CASE WHEN v[{i + 1}] > 0 THEN {1 << (p - 1 - i)} ELSE 0 END)"
        for i in range(p)
    )


@query(
    "lsh_plane_recall_curve",
    oracle=f"""
    WITH base AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id < 200
    ),
    sgn AS (
        SELECT vec_id, v,
               {_lsh_plane_bucket_sql(4)} AS b4,
               {_lsh_plane_bucket_sql(6)} AS b6,
               {_lsh_plane_bucket_sql(8)} AS b8,
               {_lsh_plane_bucket_sql(10)} AS b10
        FROM base
    ),
    pairs AS (
        SELECT CASE WHEN list_dot_product(a.v, b.v)
                    / (sqrt(list_dot_product(a.v, a.v))
                       * sqrt(list_dot_product(b.v, b.v))) > 0.35
                    THEN 1 ELSE 0 END AS is_true,
               CASE WHEN a.b4 = b.b4 THEN 1 ELSE 0 END AS f4,
               CASE WHEN a.b6 = b.b6 THEN 1 ELSE 0 END AS f6,
               CASE WHEN a.b8 = b.b8 THEN 1 ELSE 0 END AS f8,
               CASE WHEN a.b10 = b.b10 THEN 1 ELSE 0 END AS f10
        FROM sgn a JOIN sgn b ON a.vec_id < b.vec_id
    ),
    agg AS (
        SELECT CAST(sum(is_true) AS BIGINT) AS n_true,
               CAST(sum(f4) AS BIGINT) AS c4,
               CAST(sum(f4 * is_true) AS BIGINT) AS h4,
               CAST(sum(f6) AS BIGINT) AS c6,
               CAST(sum(f6 * is_true) AS BIGINT) AS h6,
               CAST(sum(f8) AS BIGINT) AS c8,
               CAST(sum(f8 * is_true) AS BIGINT) AS h8,
               CAST(sum(f10) AS BIGINT) AS c10,
               CAST(sum(f10 * is_true) AS BIGINT) AS h10
        FROM pairs
    )
    SELECT planes, n_true, n_cand, n_hit,
           CASE WHEN n_true = 0 THEN NULL ELSE
               {round_sql("CAST(n_hit AS DOUBLE) / n_true", 6)} END AS recall,
           CASE WHEN n_cand = 0 THEN NULL ELSE
               {round_sql("CAST(n_hit AS DOUBLE) / n_cand", 6)} END AS precision
    FROM (
        SELECT CAST(4 AS INT) AS planes, n_true, c4 AS n_cand, h4 AS n_hit FROM agg
        UNION ALL SELECT 6, n_true, c6, h6 FROM agg
        UNION ALL SELECT 8, n_true, c8, h8 FROM agg
        UNION ALL SELECT 10, n_true, c10, h10 FROM agg
    ) ORDER BY planes
    """,
)
def lsh_plane_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH operating curve: candidate-set recall AND precision of
    the near-dup threshold (cos > 0.35) at 4/6/8/10 hyperplanes, on an
    id-bounded 200-vector audit sample — the measured basis for
    `embedding_near_dup_pairs`' plane-count formula (each extra bit
    halves the candidate set and eats recall; this query shows exactly
    how much, the way `lsh_tuning_curve` does for MinHash banding).

    Shape: ONE bounded self-join computes ground truth and all four
    bucket-collision flags per pair; everything downstream is a 1-row
    integer aggregate unioned into the 4-point curve — the audit cost
    is O(sample²), independent of corpus size. Exact: integer counts,
    two rounded divisions, identical cosine folds both engines."""
    e = load_table(spark, sf_dir, "embeddings")
    v = F.col("embedding").cast("array<double>")
    base = e.filter(F.col("vec_id") < 200).select("vec_id", v.alias("v"))

    def bucket(p: int):
        return sum(
            (
                F.when(F.element_at("v", i + 1) > 0, 1 << (p - 1 - i)).otherwise(0)
                for i in range(p)
            ),
            start=F.lit(0),
        )

    sgn = base.select(
        "vec_id", "v", *[bucket(p).alias(f"b{p}") for p in (4, 6, 8, 10)]
        # self-norm hoisted per side: each sample row pairs with ~199
        # others, so the per-pair norm folds are cross-pair redundant
        # (r14; same IEEE quotient)
    ).withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    a, b = sgn.alias("a"), sgn.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (
        F.col("a.nrm") * F.col("b.nrm")
    )
    pairs = a.join(b, F.col("a.vec_id") < F.col("b.vec_id")).select(
        F.when(cos > 0.35, 1).otherwise(0).alias("is_true"),
        *[
            F.when(F.col(f"a.b{p}") == F.col(f"b.b{p}"), 1)
            .otherwise(0)
            .alias(f"f{p}")
            for p in (4, 6, 8, 10)
        ],
    )
    agg = pairs.agg(
        F.sum("is_true").cast("long").alias("n_true"),
        *[F.sum(f"f{p}").cast("long").alias(f"c{p}") for p in (4, 6, 8, 10)],
        *[
            F.sum(F.col(f"f{p}") * F.col("is_true")).cast("long").alias(f"h{p}")
            for p in (4, 6, 8, 10)
        ],
    )
    curve = agg.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(p).alias("planes"),
                        F.col("n_true"),
                        F.col(f"c{p}").alias("n_cand"),
                        F.col(f"h{p}").alias("n_hit"),
                    )
                    for p in (4, 6, 8, 10)
                ]
            )
        ).alias("r")
    ).select("r.planes", "r.n_true", "r.n_cand", "r.n_hit")
    return curve.select(
        "planes",
        "n_true",
        "n_cand",
        "n_hit",
        # Zero-denominator guard (r10 ADVICE): on a degenerate sample
        # (no true pair / empty bucket class) Spark's double division
        # yields NULL while DuckDB yields inf — pin both to NULL.
        F.when(
            F.col("n_true") > 0,
            round_col(F.col("n_hit").cast("double") / F.col("n_true"), 6),
        ).alias("recall"),
        F.when(
            F.col("n_cand") > 0,
            round_col(F.col("n_hit").cast("double") / F.col("n_cand"), 6),
        ).alias("precision"),
    ).orderBy("planes")


@query(
    "label_coherence_audit",
    oracle=f"""
    WITH cent AS (
        SELECT label, i,
               {round_sql("avg(CAST(embedding[i] AS DOUBLE))", 6)} AS c
        FROM embeddings, range(1, 65) r(i)
        GROUP BY label, i
    ),
    cvec AS (
        SELECT label AS clabel, list(c ORDER BY i) AS cv FROM cent GROUP BY label
    ),
    scored AS (
        SELECT e.vec_id, e.label, c.clabel,
               list_dot_product(CAST(e.embedding AS DOUBLE[]), c.cv)
               / (sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[])))
                  * sqrt(list_dot_product(c.cv, c.cv))) AS cos
        FROM embeddings e, cvec c
    ),
    per_vec AS (
        SELECT vec_id, label,
               max(CASE WHEN clabel = label THEN cos END) AS own,
               max(CASE WHEN clabel <> label THEN cos END) AS best_other
        FROM scored GROUP BY vec_id, label
    )
    SELECT label, count(*) AS n,
           {round_sql("avg(own)", 4)} AS avg_own_cos,
           {round_sql("avg(own - best_other)", 4)} AS avg_margin,
           CAST(sum(CASE WHEN best_other > own THEN 1 ELSE 0 END) AS BIGINT)
               AS n_misaligned
    FROM per_vec GROUP BY label ORDER BY label
    """,
)
def label_coherence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-quality audit for embedded classification data: per
    label, how tightly do its vectors hug their own centroid, and how
    many sit CLOSER to another label's centroid (misaligned = likely
    mislabeled or boundary noise — the vectors a label-cleaning pass
    relitigates first). Negative margins flag label sets that
    embedding-space treats as one cluster.

    Centroids are 64 per-dimension means per label in ONE wide
    aggregate, rounded 6dp BEFORE the cosine on both engines (the
    averages are the only order-sensitive floats; rounding pins
    them). Scoring is a |labels|-bounded broadcast crossJoin with the
    sequential-fold dot product (`exprs.dot` ↔ `list_dot_product`) —
    per-vector work is k cosines, no vector pair ever joins."""
    emb = load_table(spark, sf_dir, "embeddings")
    from ..exprs import dot

    cent = emb.groupBy("label").agg(
        F.array(
            *[
                round_col(F.avg(F.element_at("embedding", i)), 6)
                for i in range(1, 65)
            ]
        ).alias("cv")
    ).select(
        F.col("label").alias("clabel"),
        "cv",
        # centroid norm rides the broadcast; row norm is computed once
        # per row instead of once per (row, centroid) pair (r14)
        F.sqrt(dot(F.col("cv"), F.col("cv"))).alias("cn"),
    )
    e = emb.select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v")
    ).withColumn("vn", F.sqrt(dot(F.col("v"), F.col("v"))))
    cos = dot(F.col("v"), F.col("cv")) / (F.col("vn") * F.col("cn"))
    scored = e.crossJoin(F.broadcast(cent)).select(
        "vec_id", "label", "clabel", cos.alias("cos")
    )
    per_vec = scored.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("cos"))).alias(
            "own"
        ),
        F.max(F.when(F.col("clabel") != F.col("label"), F.col("cos"))).alias(
            "best_other"
        ),
    )
    return (
        per_vec.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_col(F.avg("own"), 4).alias("avg_own_cos"),
            round_col(F.avg(F.col("own") - F.col("best_other")), 4).alias(
                "avg_margin"
            ),
            F.sum(
                F.when(F.col("best_other") > F.col("own"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_misaligned"),
        )
        .orderBy("label")
    )


@query(
    "hard_negative_mining",
    oracle=f"""
    WITH anchors AS (
        SELECT vec_id AS aid, label AS alabel,
               CAST(embedding AS DOUBLE[]) AS av
        FROM embeddings WHERE vec_id < 10
    ),
    scored AS (
        SELECT a.aid, a.alabel, e.vec_id AS nid, e.label AS nlabel,
               {round_sql(
                   "list_dot_product(a.av, CAST(e.embedding AS DOUBLE[]))"
                   " / (sqrt(list_dot_product(a.av, a.av))"
                   " * sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),"
                   " CAST(e.embedding AS DOUBLE[]))))", 4)} AS cos
        FROM anchors a JOIN embeddings e ON e.label <> a.alabel
    ),
    ranked AS (
        SELECT aid, alabel, nid, nlabel, cos,
               row_number() OVER (PARTITION BY aid
                                  ORDER BY cos DESC, nid) AS rk
        FROM scored
    )
    SELECT aid, alabel, nid, nlabel, cos, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3 ORDER BY aid, rk
    """,
)
def hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive training: for each anchor
    vector, the top-3 most similar vectors with a DIFFERENT label —
    the negatives that actually move a contrastive loss (random
    negatives are trivially far; hard ones define the margin). This
    is the batch-mining step of every dual-encoder training loop
    (DPR/SimCSE-style), run corpus-side where it belongs.

    Anchors broadcast (the per-batch anchor set is small by
    construction); candidate scoring is one scan of the corpus with
    a label-mismatch residual filter; per-anchor top-3 via a window
    rank PARTITIONED by anchor over ROUNDED cosines (rank ties break
    by id, so both engines emit identical negatives). At 100 TB the
    scan side swaps to the IVF/LSH-bucketed candidate path
    (`similarity_ivf_probe`) with the same ranking tail."""
    from pyspark.sql import Window

    from ..exprs import dot

    emb = load_table(spark, sf_dir, "embeddings")
    anchors = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("aid"),
        F.col("label").alias("alabel"),
        F.col("embedding").cast("array<double>").alias("av"),
    ).withColumn("an", F.sqrt(dot(F.col("av"), F.col("av"))))
    cand = emb.select(
        F.col("vec_id").alias("nid"),
        F.col("label").alias("nlabel"),
        F.col("embedding").cast("array<double>").alias("nv"),
        # both self-norms hoisted out of the corpus × anchors panel
        # scan (r14; same IEEE quotient)
    ).withColumn("nn", F.sqrt(dot(F.col("nv"), F.col("nv"))))
    cos = dot(F.col("av"), F.col("nv")) / (F.col("an") * F.col("nn"))
    scored = (
        cand.crossJoin(F.broadcast(anchors))
        .filter(F.col("nlabel") != F.col("alabel"))
        .select("aid", "alabel", "nid", "nlabel", round_col(cos, 4).alias("cos"))
    )
    w = Window.partitionBy("aid").orderBy(F.desc("cos"), "nid")
    return (
        scored.select("aid", "alabel", "nid", "nlabel", "cos",
                      F.row_number().over(w).cast("long").alias("rk"))
        .filter(F.col("rk") <= 3)
        .orderBy("aid", "rk")
    )


@query(
    "cohens_kappa_langid",
    oracle=f"""
    WITH judged AS (
        SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS actual,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                         t -> t = 'the')) >
                         len(list_filter(string_split(text, ' '),
                                         t -> t = 'a'))
                    THEN 1 ELSE 0 END AS pred
        FROM documents
    ),
    m AS (
        SELECT count(*) AS n,
               sum(CASE WHEN actual = pred THEN 1 ELSE 0 END) * 1.0
                   / count(*) AS po,
               (sum(actual) * 1.0 / count(*)) * (sum(pred) * 1.0 / count(*))
               + ((count(*) - sum(actual)) * 1.0 / count(*))
                 * ((count(*) - sum(pred)) * 1.0 / count(*)) AS pe
        FROM judged
    )
    SELECT CAST(n AS BIGINT) AS n,
           {round_sql("po", 6)} AS observed_agreement,
           {round_sql("pe", 6)} AS chance_agreement,
           {round_sql("(po - pe) / (1 - pe)", 6)} AS kappa
    FROM m
    """,
)
def cohens_kappa_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between the stopword-heuristic language guess and
    the labeled `lang` column — chance-corrected agreement, the
    metric that exposes a classifier that "agrees" only because both
    marginals are lopsided (raw accuracy can't). Kappa ≈ 0 here is
    the HONEST verdict on the fixture's mechanical heuristic, and the
    pipeline is the general annotator-vs-annotator agreement audit a
    labeling operation runs before trusting a rater pool.

    One conditional scan builds the 2x2 contingency moments; po, pe,
    and kappa are closed-form ratios of exact integer counts — no
    float enters before the final rounded division."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    pred = F.when(
        F.size(F.filter(toks, lambda t: t == "the"))
        > F.size(F.filter(toks, lambda t: t == "a")),
        1,
    ).otherwise(0)
    actual = F.when(F.col("lang") == "en", 1).otherwise(0)
    j = d.select(actual.alias("actual"), pred.alias("pred"))
    m = j.agg(
        F.count(F.lit(1)).alias("n"),
        (
            F.sum(F.when(F.col("actual") == F.col("pred"), 1).otherwise(0))
            * F.lit(1.0)
            / F.count(F.lit(1))
        ).alias("po"),
        (
            (F.sum("actual") * F.lit(1.0) / F.count(F.lit(1)))
            * (F.sum("pred") * F.lit(1.0) / F.count(F.lit(1)))
            + (
                (F.count(F.lit(1)) - F.sum("actual"))
                * F.lit(1.0)
                / F.count(F.lit(1))
            )
            * (
                (F.count(F.lit(1)) - F.sum("pred"))
                * F.lit(1.0)
                / F.count(F.lit(1))
            )
        ).alias("pe"),
    )
    return m.select(
        F.col("n").cast("long").alias("n"),
        round_col(F.col("po"), 6).alias("observed_agreement"),
        round_col(F.col("pe"), 6).alias("chance_agreement"),
        round_col((F.col("po") - F.col("pe")) / (F.lit(1) - F.col("pe")), 6).alias(
            "kappa"
        ),
    )


@query(
    "cross_source_duplication",
    oracle="""
    WITH hashed AS (
        SELECT DISTINCT source,
               md5(array_to_string(string_split(text, ' ')[1:16], ' ')) AS h
        FROM documents
    ),
    pairs AS (
        SELECT a.source AS source_a, b.source AS source_b, count(*) AS shared
        FROM hashed a JOIN hashed b
          ON a.h = b.h AND a.source < b.source
        GROUP BY a.source, b.source
    ),
    per_source AS (
        SELECT source, count(*) AS n_distinct FROM hashed GROUP BY source
    )
    SELECT p.source_a, p.source_b, p.shared,
           CAST(least(sa.n_distinct, sb.n_distinct) AS BIGINT)
               AS smaller_corpus
    FROM pairs p
    JOIN per_source sa ON sa.source = p.source_a
    JOIN per_source sb ON sb.source = p.source_b
    ORDER BY p.shared DESC, p.source_a, p.source_b
    LIMIT 25
    """,
)
def cross_source_duplication(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix: which SOURCE PAIRS share
    content with an identical 16-token prefix (syndication, mirrors,
    templated re-posts — prefix identity is the standard cheap proxy;
    swap the hash input for full text or shingle sets for stricter
    definitions, same plan) — the
    corpus-level view the per-document dedup family doesn't give, and
    the input to "drop the mirror, keep the origin" source policies
    and to dedup-budget planning (a pair sharing half its content
    halves the value of crawling both).

    Shape: documents reduce to DISTINCT (source, content-hash) — the
    only corpus-sized shuffle — then the pair join runs on hash
    groups (content shared by k sources emits k(k-1)/2 pairs, k
    bounded by source count, so no DF cap is needed), and per-source
    distinct counts attach for scale context. Fixed-width hashes move
    through every exchange, never text."""
    d = load_table(spark, sf_dir, "documents")
    hashed = d.select(
        "source",
        F.md5(F.concat_ws(" ", F.slice(F.split("text", " "), 1, 16))).alias(
            "h"
        ),
    ).distinct()
    a = hashed.select(F.col("source").alias("source_a"), "h")
    b = hashed.select(F.col("source").alias("source_b"), "h")
    pairs = (
        a.join(b, "h")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    per_source = hashed.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_distinct")
    )
    pa = per_source.select(
        F.col("source").alias("source_a"), F.col("n_distinct").alias("na")
    )
    pb = per_source.select(
        F.col("source").alias("source_b"), F.col("n_distinct").alias("nb")
    )
    return (
        pairs.join(F.broadcast(pa), "source_a")
        .join(F.broadcast(pb), "source_b")
        .select(
            "source_a",
            "source_b",
            "shared",
            F.least("na", "nb").cast("long").alias("smaller_corpus"),
        )
        .orderBy(F.desc("shared"), "source_a", "source_b")
        .limit(25)
    )


# ---------------------------------------------------------------------------
# ANN quality evaluation: recall@k of the LSH index vs exact ground truth
# ---------------------------------------------------------------------------

_COS_SQL = (
    "list_dot_product(v, qv) / "
    "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv)))"
)


@query(
    "ann_recall_at_k",
    oracle=f"""
    WITH q AS (
        SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv,
               (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS qb
        FROM embeddings WHERE vec_id < 10
    ),
    c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               (CASE WHEN embedding[1] > 0 THEN 4 ELSE 0 END
              + CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END
              + CASE WHEN embedding[3] > 0 THEN 1 ELSE 0 END) AS b
        FROM embeddings
    ),
    exact_rk AS (
        SELECT qid, vec_id, row_number() OVER (
            PARTITION BY qid ORDER BY {round_sql(_COS_SQL, 6)} DESC, vec_id
        ) AS rk
        FROM c, q WHERE vec_id <> qid
    ),
    gt AS (SELECT qid, vec_id FROM exact_rk WHERE rk <= 10),
    cand AS (
        SELECT qid, vec_id, v, qv FROM c, q
        WHERE vec_id <> qid AND b = qb
    ),
    ann_rk AS (
        SELECT qid, vec_id, row_number() OVER (
            PARTITION BY qid ORDER BY {round_sql(_COS_SQL, 6)} DESC, vec_id
        ) AS rk
        FROM cand
    ),
    ann AS (SELECT qid, vec_id FROM ann_rk WHERE rk <= 10),
    ncand AS (SELECT qid, count(*) AS n_candidates FROM cand GROUP BY qid),
    per AS (
        SELECT g.qid, CAST(count(a.vec_id) AS BIGINT) AS n_hit
        FROM gt g LEFT JOIN ann a
          ON a.qid = g.qid AND a.vec_id = g.vec_id
        GROUP BY g.qid
    )
    SELECT CAST(p.qid AS BIGINT) AS query_id,
           CAST(n.n_candidates AS BIGINT) AS n_candidates,
           p.n_hit,
           p.n_hit / 10.0 AS recall_at_10
    FROM per p JOIN ncand n ON n.qid = p.qid
    ORDER BY query_id
    """,
)
def ann_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the sign-LSH index against exact ground truth —
    the acceptance gate every ANN deployment needs before swapping a
    brute-force scan for an index: per query vector (vec_ids 0-9),
    what fraction of the TRUE top-10 cosine neighbors does the
    bucket-pruned search return, and how many candidates did the
    bucket actually score (the recall/cost trade made measurable).
    Low recall with tiny buckets says "add hash tables / probe more
    buckets"; high recall with huge buckets says the planes don't
    split this corpus.

    Shape: the 10-row query set broadcasts into BOTH branches — the
    exact branch is one corpus-parallel scan scoring 10 dots per row
    (rank window partitioned by query), the ANN branch prunes to the
    query's bucket before scoring. Ranks order by the ROUNDED cosine
    (6 dp) with vec_id tie-break so the cut at k agrees across
    engines; recall is an exact small-integer ratio. At 100 TB the
    exact branch runs on a held-out sample only — the eval needs
    truth for the 10 queries, not the corpus."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    bucket = (
        F.when(F.element_at("embedding", 1) > 0, 4).otherwise(0)
        + F.when(F.element_at("embedding", 2) > 0, 2).otherwise(0)
        + F.when(F.element_at("embedding", 3) > 0, 1).otherwise(0)
    )
    # r14 (the r13 panel-scan hoist pattern): each corpus row
    # fans out into 10 (row, query) pairs, so BOTH self-norms are
    # cross-pair redundant — project each side's norm once before the
    # broadcast join. Same IEEE quotient dot/(sqrt(aa)·sqrt(bb)).
    c = e.select(
        "vec_id",
        F.col("embedding").cast("array<double>").alias("v"),
        bucket.alias("b"),
    ).withColumn("vn", F.sqrt(dot(F.col("v"), F.col("v"))))
    q = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"),
        F.col("v").alias("qv"),
        F.col("b").alias("qb"),
        F.col("vn").alias("qn"),
    )
    sim_r = round_col(
        dot(F.col("v"), F.col("qv")) / (F.col("vn") * F.col("qn")), 6
    )
    w_q = Window.partitionBy("qid").orderBy(F.desc("sim_r"), "vec_id")

    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select("qid", "vec_id", "b", "qb", sim_r.alias("sim_r"))
    )
    gt = (
        scored.withColumn("rk", F.row_number().over(w_q))
        .filter(F.col("rk") <= 10)
        .select("qid", "vec_id")
    )
    cand = scored.filter(F.col("b") == F.col("qb"))
    ann = (
        cand.withColumn("rk", F.row_number().over(w_q))
        .filter(F.col("rk") <= 10)
        .select("qid", F.col("vec_id").alias("a_vec"))
    )
    ncand = cand.groupBy("qid").agg(F.count(F.lit(1)).alias("n_candidates"))
    per = (
        gt.join(
            ann,
            (gt.qid == ann.qid) & (gt.vec_id == ann.a_vec),
            "left",
        )
        .groupBy(gt.qid)
        .agg(F.count("a_vec").cast("long").alias("n_hit"))
    )
    return (
        per.join(ncand, "qid")
        .select(
            F.col("qid").cast("long").alias("query_id"),
            F.col("n_candidates").cast("long").alias("n_candidates"),
            "n_hit",
            (F.col("n_hit") / F.lit(10.0)).alias("recall_at_10"),
        )
        .orderBy("query_id")
    )


@query(
    "inverted_index_postings",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS term
        FROM documents
    ),
    tf AS (
        SELECT term, doc_id, count(*) AS tf FROM toks
        WHERE term <> '' GROUP BY term, doc_id
    ),
    agg AS (
        SELECT term,
               count(*) AS df,
               CAST(sum(tf) AS BIGINT) AS cf,
               string_agg(doc_id || ':' || tf, ',' ORDER BY doc_id) AS postings
        FROM tf GROUP BY term
    )
    SELECT term, df, cf, postings
    FROM agg
    ORDER BY df DESC, term
    LIMIT 20
    """,
)
def inverted_index_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inverted-index construction — the search-index build stage
    upstream of `bm25_keyword_search`'s scoring: per term, the
    document frequency, collection frequency, and the doc-ordered
    postings list (doc:tf pairs). Postings serialize to a canonical
    string in BOTH engines (identical ordering and separators) so the
    value hash pins every posting, not just the counts; top-20 terms
    by df keeps the checked output bounded.

    Scale shape: one explode + one (term, doc) count shuffle, then a
    term-keyed aggregation whose per-term state is the postings list
    itself — at 100 TB, shard postings by (term, doc-range) segments
    exactly as Lucene does, or cap list length per segment; the
    ordered string_agg/array_join renders each shard
    deterministically either way. TakeOrdered bounds the output.
    (r13: the `_inrow_tf` substitution was adjudicated OUT here — a
    3-way interleaved A/B measured a wash at sf1 (1.50 vs 1.53 s min)
    and a slight loss at sf0.1: the removed (term, doc) exchange is
    already partial-aggregated map-side, so the in-row run-length
    work only offsets it, unlike tfidf where the window consumer
    keeps the saving.)"""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("term")
    ).filter(F.col("term") != "")
    tf = toks.groupBy("term", "doc_id").agg(F.count(F.lit(1)).alias("tf"))
    agg = tf.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(F.struct("doc_id", "tf"))
                ),
                lambda s: F.concat_ws(":", s["doc_id"], s["tf"]),
            ),
            ",",
        ).alias("postings"),
    )
    return agg.orderBy(F.desc("df"), "term").limit(20)


@query(
    "minhash_prefilter_jaccard",
    oracle=f"""
    WITH toks AS ({_TOKS_SQL}),
    sh AS ({_MD5_SHINGLES_SQL}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    sig AS ({_minhash_sig_sql(8)}),
    bands_all AS ({_BANDS4_SQL}),
    bands AS (
        -- per-(band,bucket) membership cap = BAND_BUCKET_CAP (64),
        -- mirroring the Spark row_number guard
        SELECT doc_id, band, bucket FROM (
            SELECT doc_id, band, bucket,
                   row_number() OVER (
                       PARTITION BY band, bucket ORDER BY doc_id
                   ) AS rnb
            FROM bands_all
        ) WHERE rnb <= 64
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bucket = b.bucket
             AND a.doc_id < b.doc_id
    ),
    inter AS (
        SELECT c.doc_a, c.doc_b, count(*) AS inter
        FROM cand c
        JOIN sh a ON a.doc_id = c.doc_a
        JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
        GROUP BY c.doc_a, c.doc_b
    )
    SELECT doc_a, doc_b, inter,
           {round_sql(
               "CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter)", 4
           )} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    ORDER BY jaccard DESC, doc_a, doc_b LIMIT 10
    """,
)
def minhash_prefilter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-prefiltered exact Jaccard — the 100 TB scale path for
    `jaccard_pairs`: instead of intersecting every co-bucketed shingle
    pair, generate candidates with an 8-hash / 4-band LSH signature
    (sub-quadratic: band buckets only), then compute the EXACT
    trigram Jaccard only for candidate pairs. At a 0.5 similarity
    target, 4 bands × 2 rows gives ≥86% single-band hit probability,
    and every surviving pair's statistic is exact — the approximation
    affects recall only, never reported values.

    Scale shape: signatures are one groupBy over shingles (8 min
    aggregates); candidate generation joins on fixed-width band
    buckets CAPPED at BAND_BUCKET_CAP members each (deterministic
    row_number by doc_id, mirrored in the oracle) — m near-identical
    docs share one bucket in every band, so without the cap a
    dup-heavy crawl makes one reducer do Θ(m²); with it any bucket
    contributes ≤ K²/2 pairs and the kept K-sample still wires the
    duplicate cluster together for downstream connected components.
    The verify stage semi-joins the per-doc shingle ARRAYS down to
    candidate docs (broadcast id list) and intersects them in-row —
    pairwise work is bounded by the candidate count, not documents².
    The min-hash uses lexicographic min over salted md5 hex
    (engine-portable), so the oracle reproduces the candidate set
    exactly."""
    toks = _doc_tokens(spark, sf_dir)
    hashes = shingle_hashes("tokens", 3)
    # r13 optimization: per-doc distinct set, size and
    # 8 salted min-hashes are row-local — array_distinct / size /
    # array_min replace the explode→.distinct() Exchange and both
    # groupBy(doc_id) Exchanges (sizes + sig); the verify stage reads
    # set sizes straight off the per-doc arrays, so no sizes relation
    # ever joins back.
    # r13 second pass: the candidate stage and the
    # verify stage both re-derived this trigram-md5 pipeline (and the
    # candidate self-join's broadcast build re-derived it once more —
    # runtime exchange reuse only dedups below the pre-hash _spread
    # exchange), so the corpus was hashed 3–4×. The per-doc distinct
    # shingle arrays are the query's ONE expensive derivation:
    # materialize them ONCE with localCheckpoint and derive signatures,
    # bands and the verify intersections from the flat rows.
    sets = _fp_materialize(
        toks.select("doc_id", F.array_distinct(hashes).alias("hs")), sf_dir
    )
    bands = minhash_band_rows(sets, "hs", 8, 4)
    # Hot-bucket cap: m near-identical docs — same bucket in EVERY
    # band — cost K²/2 candidate pairs, not m²/2. 3 fixed-width
    # columns per doc — materializing the capped band relation lets
    # the self-join's broadcast build read flat rows instead of
    # re-running the 8-salt minhash pass.
    cand = band_pairs(_fp_materialize(cap_bands(bands), sf_dir))
    # r13 optimization, second pass (shuffle keys and metadata,
    # not payloads): the exact-verify stage used to explode EVERY
    # document's shingle set into (doc, shingle) rows and equi-join
    # two full copies of that relation — two more corpus-wide md5
    # passes plus a corpus-sized shuffle, to verify a handful of
    # candidate pairs. Instead: semi-join the per-doc shingle ARRAYS
    # down to candidate docs first (broadcast of the tiny candidate
    # id list — nothing corpus-sized shuffles), then compute
    # |A∩B| / |A|,|B| IN-ROW with array_intersect/size per candidate
    # pair. Both arrays are array_distinct'd, so
    # size(array_intersect) is exactly the old shared-shingle count;
    # pairs with an empty intersection produced no row under the old
    # inner join, which the inter > 0 filter reproduces. `sets` is
    # checkpointed above, so both pair-side probes read flat rows.
    cd = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    ss = sets.join(F.broadcast(cd), "doc_id")
    pa, pb = ss.alias("pa"), ss.alias("pb")
    inter = (
        cand.join(pa, F.col("doc_a") == F.col("pa.doc_id"))
        .join(pb, F.col("doc_b") == F.col("pb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.size("pa.hs").cast("long").alias("na"),
            F.size("pb.hs").cast("long").alias("nb"),
            F.size(F.array_intersect("pa.hs", "pb.hs"))
            .cast("long")
            .alias("inter"),
        )
        .filter(F.col("inter") > 0)
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    )
    return (
        inter.select("doc_a", "doc_b", "inter", round_col(jac, 4).alias("jaccard"))
        .orderBy(F.desc("jaccard"), "doc_a", "doc_b")
        .limit(10)
    )


@query(
    "jsd_source_drift",
    oracle=f"""
    WITH tf AS (
        SELECT source, token, CAST(count(*) AS BIGINT) AS c
        FROM (
            SELECT source, unnest(string_split(text, ' ')) AS token
            FROM documents
        )
        WHERE token <> ''
        GROUP BY source, token
    ),
    vocab AS (
        SELECT token, CAST(sum(c) AS BIGINT) AS cc
        FROM tf GROUP BY token
        ORDER BY sum(c) DESC, token LIMIT 200
    ),
    vt AS (SELECT CAST(sum(cc) AS BIGINT) AS corpus_n FROM vocab),
    src AS (
        SELECT tf.source, CAST(sum(tf.c) AS BIGINT) AS src_n
        FROM tf JOIN vocab v ON v.token = tf.token
        GROUP BY tf.source
    ),
    grid AS (
        SELECT s.source, v.token, v.cc, s.src_n,
               coalesce(tf.c, 0) AS sc
        FROM src s CROSS JOIN vocab v
        LEFT JOIN tf ON tf.source = s.source AND tf.token = v.token
    ),
    probs AS (
        SELECT source,
               CAST(cc AS DOUBLE) / corpus_n AS p,
               (CAST(sc AS DOUBLE) + 1) / (src_n + 200) AS q
        FROM grid CROSS JOIN vt
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS vocab_size,
           {stable_render_sql(
               "sum(0.5 * p * ln(p / ((p + q) / 2))"
               "  + 0.5 * q * ln(q / ((p + q) / 2)))",
               6
           )} AS jsd_nats
    FROM probs GROUP BY source ORDER BY source
    """,
)
def jsd_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence of each source's unigram distribution
    from the corpus distribution over the top-200 vocabulary — the
    symmetric, bounded (≤ ln 2) drift measure behind 'which ingest
    source stopped looking like the rest of the corpus' alerts and
    mixture re-weighting; Laplace smoothing keeps per-source zeros
    finite, and restricting to a fixed top-V vocabulary is the
    standard trick that bounds the comparison grid no matter how
    large the corpus (`psi_drift_by_decile` is the numeric-feature
    twin; this is the text-distribution one).

    Determinism: all counts are exact BIGINTs; the source×vocab grid
    is bounded (|sources|·200); the ln chain renders decimal-stable
    at 6dp (the established libm-absorption discipline). Scale
    shape: ONE token explode + (source, token) shuffle; the vocab
    top-200 is a TakeOrdered; everything after runs on the bounded
    grid with the vocab broadcast."""
    d = load_table(spark, sf_dir, "documents")
    tf = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    vocab = (
        tf.groupBy("token")
        .agg(F.sum("c").cast("long").alias("cc"))
        .orderBy(F.desc("cc"), "token")
        .limit(200)
    )
    vt = vocab.agg(F.sum("cc").cast("long").alias("corpus_n"))
    src = (
        tf.join(F.broadcast(vocab.select("token")), "token")
        .groupBy("source")
        .agg(F.sum("c").cast("long").alias("src_n"))
    )
    grid = (
        src.crossJoin(F.broadcast(vocab))
        .join(tf, ["source", "token"], "left")
        .select(
            "source",
            "token",
            "cc",
            "src_n",
            F.coalesce("c", F.lit(0)).alias("sc"),
        )
    )
    probs = grid.crossJoin(F.broadcast(vt)).select(
        "source",
        (F.col("cc").cast("double") / F.col("corpus_n")).alias("p"),
        ((F.col("sc").cast("double") + 1) / (F.col("src_n") + 200)).alias("q"),
    )
    m = (F.col("p") + F.col("q")) / 2
    term = F.lit(0.5) * F.col("p") * F.log(F.col("p") / m) + F.lit(
        0.5
    ) * F.col("q") * F.log(F.col("q") / m)
    return (
        probs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("vocab_size"),
            stable_render(F.sum(term), 6).alias("jsd_nats"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# winnowing_fingerprints — MOSS-style local fingerprint selection (r9)
# ---------------------------------------------------------------------------


@query(
    "winnowing_fingerprints",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS tokens FROM documents
        WHERE len(string_split(text, ' ')) >= 3
    ),
    grams AS (
        SELECT doc_id, i,
               md5(array_to_string(tokens[i:i+2], ' ')) AS h,
               len(tokens) - 2 AS m
        FROM toks, unnest(range(1, len(tokens) - 3 + 2)) AS t(i)
    ),
    winmin AS (
        SELECT doc_id,
               min(h) OVER (PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
        FROM grams
        QUALIFY i + 3 <= m
    ),
    fps AS (SELECT DISTINCT doc_id, fp FROM winmin),
    doc_fp AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS nfp
        FROM fps GROUP BY doc_id
    ),
    eligible AS (
        SELECT fp FROM fps GROUP BY fp
        HAVING count(*) > 1 AND count(*) <= 64
    ),
    shared AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               CAST(count(*) AS BIGINT) AS shared_fp
        FROM fps a
        JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        WHERE a.fp IN (SELECT fp FROM eligible)
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, shared_fp, fa.nfp AS nfp_a, fb.nfp AS nfp_b,
           {round_sql(
               "CAST(shared_fp AS DOUBLE) / least(fa.nfp, fb.nfp)", 4
           )} AS overlap_coef
    FROM shared
    JOIN doc_fp fa ON fa.doc_id = doc_a
    JOIN doc_fp fb ON fb.doc_id = doc_b
    ORDER BY shared_fp DESC, doc_a, doc_b
    LIMIT 10
    """,
)
def winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprint overlap (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): hash every trigram, slide a
    w=4 window over the hash sequence, keep each window's MINIMUM
    hash — the guarantee is every match of length ≥ w+2 tokens shares
    a fingerprint, while only ~2/(w+1) of hashes are kept. The
    SELECTED-fingerprint twin of `doc_fingerprint` (which keeps all
    rolling hashes) and the position-aware alternative to
    `minhash_lsh_candidates`: winnowing catches LOCAL overlap
    (a shared paragraph in otherwise different docs) that whole-doc
    MinHash dilutes away. Output: top-10 doc pairs by shared
    fingerprints with the overlap coefficient.

    Exactness: fingerprints are md5 hex strings (lexicographic min
    agrees across engines), counts are BIGINTs; the one float is a
    ratio of exact integers, 4dp. Scale shape: the window min runs
    PER DOC over its own gram sequence (bounded by doc length, never
    a corpus-wide window); pairing joins only on fingerprints shared
    by 2..SHINGLE_DF_CAP docs — the same hot-bucket guard as
    `jaccard_pairs`, so one boilerplate fingerprint shared by a
    million docs is excluded as a stop-fingerprint instead of
    exploding quadratically; TakeOrdered bounds the output."""
    d = load_table(spark, sf_dir, "documents")
    # r13 optimization (remove shuffles outright): the
    # w=4 sliding-window minimum runs over ONE document's ordered
    # gram-hash sequence, which lives entirely in that document's own
    # row — so the old Window(partitionBy doc_id) + its Exchange+Sort
    # and the explode→.distinct() Exchange are replaced by row-local
    # array ops: transform over window starts taking array_min of
    # each 4-slice, then array_distinct. The per-doc fingerprint
    # count (nfp) is size() of that array and rides along the
    # exploded fingerprint rows, so the old join-back onto a separate
    # doc_fp relation (two joins) is gone too. A doc needs ≥ 4 grams
    # (≥ 6 tokens) to emit any window, exactly as the old
    # `i + 3 <= m` filter enforced; the filter moves before the
    # explode. Shuffles left: the bucket groupBy(fp) and the pair
    # groupBy — both keyed on the fingerprint or the pair, none on
    # per-doc state.
    toks = _spread(
        d.select("doc_id", F.split("text", " ").alias("tokens")).filter(
            F.size("tokens") >= 6
        ),
        spark,
        "doc_id",
    )
    hs = shingle_hashes("tokens", 3)
    # window starts i = 1 .. m-3 over the m = tokens-2 gram hashes
    fps_arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.size("hs") - 3),
            lambda i: F.array_min(F.slice("hs", i, 4)),
        )
    )
    docs = toks.select("doc_id", hs.alias("hs")).select(
        "doc_id", fps_arr.alias("fpa")
    )
    # struct-explode (see the jaccard_pairs NOTE): explode of a bare
    # array attribute is ~4x slower than an inline generator
    # expression on this Spark build, so nfp rides inside the struct.
    fps = docs.select(
        "doc_id",
        F.explode(
            F.transform(
                "fpa",
                lambda s: F.struct(
                    F.size("fpa").cast("long").alias("nfp"), s.alias("fp")
                ),
            )
        ).alias("z"),
    ).select("doc_id", F.col("z.nfp").alias("nfp"), F.col("z.fp").alias("fp"))
    # r13 optimization, second pass: the old
    # eligible-groupBy → join → self-join pairing planned every join
    # as a BroadcastHashJoin, so NOTHING shared an exchange and the
    # whole per-doc trigram-md5 pipeline above ran FOUR times (the
    # plan carried four identical corpus scans). Same fix as
    # jaccard_pairs' committed bucket shape: ONE groupBy(fp) collects
    # each fingerprint's (doc_id, nfp) set, the df∈(1, SHINGLE_DF_CAP]
    # eligibility gate becomes a size() filter on the bucket, and the
    # ordered pairs are generated in-row from the sorted bucket —
    # the corpus is hashed exactly once and the only shuffles are the
    # fp groupBy and the pair groupBy. Pair multiset is identical:
    # every eligible fp contributes all (doc_a < doc_b) pairs of its
    # member docs, with each doc's nfp riding in the bucket struct.
    buckets = (
        fps.groupBy("fp")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col("doc_id"), F.col("nfp")))
            ).alias("docs")
        )
        .filter((F.size("docs") > 1) & (F.size("docs") <= SHINGLE_DF_CAP))
    )
    pairs = F.flatten(
        F.transform(
            "docs",
            lambda x, i: F.transform(
                F.slice("docs", i + 2, F.size("docs")),
                lambda y: F.struct(
                    x["doc_id"].alias("doc_a"),
                    y["doc_id"].alias("doc_b"),
                    x["nfp"].alias("nfp_a"),
                    y["nfp"].alias("nfp_b"),
                ),
            ),
        )
    )
    shared = (
        buckets.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.doc_a").alias("doc_a"),
            F.col("p.doc_b").alias("doc_b"),
            F.col("p.nfp_a").alias("nfp_a"),
            F.col("p.nfp_b").alias("nfp_b"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fp"))
    )
    return (
        shared.select(
            "doc_a",
            "doc_b",
            "shared_fp",
            "nfp_a",
            "nfp_b",
            round_col(
                F.col("shared_fp").cast("double")
                / F.least("nfp_a", "nfp_b"),
                4,
            ).alias("overlap_coef"),
        )
        .orderBy(F.desc("shared_fp"), "doc_a", "doc_b")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Multi-day incremental dedup against a PERSISTED, APPENDED index
# ---------------------------------------------------------------------------

def _multiday_oracle(n_days: int = 3) -> str:
    """Unrolled 3-day crawl loop: each day's batch is flagged against
    the CANONICAL index over (initial corpus + all prior days' kept
    docs), then its unique docs join the corpus. Band membership is
    re-capped per day (the compacted form `compact_corpus_index`
    restores; Spark compacts after each append so both sides probe
    the identical canonical index)."""
    cap = BAND_BUCKET_CAP
    parts = [f"""toks AS ({_TOKS_SQL}),
    sh AS MATERIALIZED ({_MD5_SHINGLES_SQL}),
    sig AS ({_minhash_sig_sql(8)}),
    bands_all AS MATERIALIZED ({_BANDS4_SQL}),
    sizes AS MATERIALIZED (
        SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    corpus1 AS MATERIALIZED (
        SELECT doc_id FROM documents WHERE doc_id % {n_days + 1} = 0)"""]
    for k in range(1, n_days + 1):
        parts.append(f"""
    index{k} AS MATERIALIZED (
        SELECT doc_id, band, bucket FROM (
            SELECT b.doc_id, b.band, b.bucket,
                   row_number() OVER (
                       PARTITION BY b.band, b.bucket ORDER BY b.doc_id
                   ) AS rnb
            FROM bands_all b JOIN corpus{k} c ON c.doc_id = b.doc_id
        ) x WHERE rnb <= {cap}
    ),
    batch{k} AS (
        SELECT doc_id FROM documents WHERE doc_id % {n_days + 1} = {k}),
    cand{k} AS MATERIALIZED (
        SELECT DISTINCT b.doc_id AS b_doc, c.doc_id AS c_doc
        FROM bands_all b
        JOIN batch{k} bk ON bk.doc_id = b.doc_id
        JOIN index{k} c ON b.band = c.band AND b.bucket = c.bucket
    ),
    dup{k} AS MATERIALIZED (
        SELECT DISTINCT i.b_doc FROM (
            SELECT cand.b_doc, cand.c_doc, count(*) AS inter
            FROM cand{k} cand
            JOIN sh sb ON sb.doc_id = cand.b_doc
            JOIN sh sc ON sc.doc_id = cand.c_doc
                       AND sc.shingle = sb.shingle
            GROUP BY 1, 2
        ) i
        JOIN sizes zb ON zb.doc_id = i.b_doc
        JOIN sizes zc ON zc.doc_id = i.c_doc
        WHERE 2 * i.inter >= zb.n_sh + zc.n_sh - i.inter
    ),
    corpus{k + 1} AS MATERIALIZED (
        SELECT doc_id FROM corpus{k}
        UNION ALL
        SELECT doc_id FROM batch{k}
        WHERE doc_id NOT IN (SELECT b_doc FROM dup{k})
    )""")
    rows = " UNION ALL ".join(
        f"""SELECT CAST({k} AS INT) AS day,
        (SELECT CAST(count(*) AS BIGINT) FROM batch{k}) AS batch_docs,
        (SELECT CAST(count(DISTINCT b_doc) AS BIGINT) FROM cand{k})
            AS cand_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM dup{k}) AS dup_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM batch{k})
            - (SELECT CAST(count(*) AS BIGINT) FROM dup{k}) AS kept_docs,
        (SELECT CAST(count(*) AS BIGINT) FROM sizes s
         JOIN corpus{k + 1} c ON c.doc_id = s.doc_id) AS index_docs_after"""
        for k in range(1, n_days + 1)
    )
    return f"WITH {','.join(parts)} SELECT * FROM ({rows}) ORDER BY day"


@query("incremental_dedup_lsh_multiday", oracle=_multiday_oracle())
def incremental_dedup_lsh_multiday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PERSISTED-index crawl loop run for three consecutive days —
    the maintenance story `incremental_dedup_lsh_batch` (one batch vs
    a frozen index) leaves open: day k's batch probes the index built
    from the initial corpus PLUS every prior day's verified-unique
    docs (`streaming.lsh_dedup.append_to_corpus_index`), survivors
    are appended, and the index is compacted back to canonical form
    (`compact_corpus_index` — global smallest-doc_id band re-cap; the
    append-only interim is a per-segment-capped superset, so skipping
    compaction can only ADD candidates, never lose one). Output: the
    per-day dedup ledger (batch/candidate/dup/kept counts + shingled
    index size after the append) — day-over-day dup rates rising is
    the crawl-frontier-collapse alarm.

    Scale shape: each day costs O(batch) band probes + candidate-
    bounded verify, never a corpus rescan; appends are parquet
    segment appends; compaction is the only corpus-sized pass and is
    scheduled (here per-day so the oracle's canonical re-cap is the
    exact semantics; production runs it off the probe path). Parity:
    the whole 3-day loop is unrolled in SQL with the same md5 MinHash
    banding, cap, and integer-form Jaccard threshold."""
    import shutil
    import tempfile

    from ..streaming.lsh_dedup import (
        build_corpus_index,
        compact_corpus_index,
        dedup_and_append_batch,
    )

    n_days = 3
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    index_dir = tempfile.mkdtemp(prefix="hds_lsh_multiday_")
    try:
        build_corpus_index(
            spark, d.filter(F.col("doc_id") % (n_days + 1) == 0), index_dir
        )
        ledger = []
        for k in range(1, n_days + 1):
            batch = d.filter(F.col("doc_id") % (n_days + 1) == k)
            flags = dedup_and_append_batch(spark, batch, index_dir)
            if k < n_days:
                # canonical band index for the NEXT day's probe; the
                # last day's compaction would affect nothing we read.
                compact_corpus_index(spark, index_dir)
            row = flags.agg(
                F.count(F.lit(1)).cast("long").alias("batch_docs"),
                F.sum((F.col("n_candidates") > 0).cast("long"))
                .cast("long")
                .alias("cand_docs"),
                F.sum(F.col("is_dup").cast("long")).cast("long").alias("dup_docs"),
            ).collect()[0]
            import os as _os

            idx_docs = (
                spark.read.parquet(_os.path.join(index_dir, "sizes")).count()
            )
            ledger.append(
                (
                    k,
                    int(row["batch_docs"]),
                    int(row["cand_docs"]),
                    int(row["dup_docs"]),
                    int(row["batch_docs"]) - int(row["dup_docs"]),
                    int(idx_docs),
                )
            )
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    return spark.createDataFrame(
        ledger,
        "day int, batch_docs long, cand_docs long, dup_docs long,"
        " kept_docs long, index_docs_after long",
    ).orderBy("day")


# ---------------------------------------------------------------------------
# Hybrid retrieval + reciprocal-kNN near-dup (r11 batch 2)
# ---------------------------------------------------------------------------


_RRF_K = 60  # standard reciprocal-rank-fusion damping constant
_RRF_DEPTH = 50  # per-leg candidate depth fed into the fusion


@query(
    "hybrid_search_rrf",
    oracle=f"""
    WITH {_lex_leg_sql(_RRF_DEPTH, "lex_rk")},
    {_dense_leg_sql(_RRF_DEPTH, "dense_rk")},
    fused AS (
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               coalesce(l.lex_rk, 0) AS lex_rk,
               coalesce(d.dense_rk, 0) AS dense_rk,
               (CASE WHEN l.lex_rk IS NULL THEN 0.0
                     ELSE 1.0 / ({_RRF_K} + l.lex_rk) END)
             + (CASE WHEN d.dense_rk IS NULL THEN 0.0
                     ELSE 1.0 / ({_RRF_K} + d.dense_rk) END) AS rrf
        FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    )
    SELECT doc_id, CAST(lex_rk AS BIGINT) AS lex_rk,
           CAST(dense_rk AS BIGINT) AS dense_rk,
           {stable_render_sql("rrf", 6)} AS rrf_score
    FROM fused
    ORDER BY rrf DESC, doc_id LIMIT 20
    """,
)
def hybrid_search_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal-rank fusion (Cormack et al.,
    SIGIR'09): the BM25 lexical leg (`bm25_keyword_search`'s scoring)
    and the dense cosine leg (`similarity_topk`'s scoring, query =
    vec_id 0) each produce a top-``_RRF_DEPTH`` ranking, fused by
    ``sum(1 / (60 + rank))`` — the standard RAG-stack merge of a
    keyword index and a vector index, as one declarative plan.

    Scale shape: each leg ends in a TakeOrdered(depth) — the fusion
    join runs over two depth-bounded relations (broadcast-sized
    regardless of corpus size), so the fusion itself is free; the
    corpus-side cost is exactly the two legs' (term-pruned lexical
    scan; ANN-replaceable dense scan). Ranks tie-break on doc_id over
    ROUNDED scores in both engines, so ranking is deterministic."""
    lex = _lex_leg(load_table(spark, sf_dir, "documents"), _RRF_DEPTH, "lex_rk")
    dense = _dense_leg(load_table(spark, sf_dir, "embeddings"), _RRF_DEPTH, "dense_rk")

    lex_term = F.when(
        F.col("lex_rk").isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(_RRF_K) + F.col("lex_rk")))
    dense_term = F.when(
        F.col("dense_rk").isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(_RRF_K) + F.col("dense_rk")))
    fused = (
        lex.join(dense, "doc_id", "full_outer")
        .select(
            "doc_id",
            F.coalesce("lex_rk", F.lit(0)).cast("long").alias("lex_rk_o"),
            F.coalesce("dense_rk", F.lit(0)).cast("long").alias("dense_rk_o"),
            (lex_term + dense_term).alias("rrf"),
        )
    )
    return (
        fused.orderBy(F.desc("rrf"), "doc_id")
        .limit(20)
        .select(
            "doc_id",
            F.col("lex_rk_o").alias("lex_rk"),
            F.col("dense_rk_o").alias("dense_rk"),
            stable_render(F.col("rrf"), 6).alias("rrf_score"),
        )
    )


_MKNN_K = 5  # per-vector neighbour depth for the reciprocal test


def _mknn_oracle() -> str:
    # 6 sign-planes, matching embedding_near_dup_pairs' oracle pin
    # (the Spark side widens the plane count with the corpus).
    bucket = " + ".join(
        f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << (5 - i)} ELSE 0 END)"
        for i in range(6)
    )
    cos = (
        "list_dot_product(a.v, b.v) / (a.nrm * b.nrm)"
    )
    return f"""
    WITH sgn AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm,
               ({bucket}) AS bucket
        FROM embeddings
    ),
    knn AS (
        SELECT a.vec_id AS src, b.vec_id AS nbr,
               {round_sql(cos, 4)} AS cos,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY {round_sql(cos, 4)} DESC, b.vec_id
               ) AS rk
        FROM sgn a JOIN sgn b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    topk AS (SELECT src, nbr, cos FROM knn WHERE rk <= {_MKNN_K})
    SELECT f.src AS vec_a, f.nbr AS vec_b, f.cos AS cos_sim
    FROM topk f JOIN topk r ON f.src = r.nbr AND f.nbr = r.src
    WHERE f.src < f.nbr
    ORDER BY f.cos DESC, vec_a, vec_b LIMIT 50
    """


@query("mutual_knn_near_dup", oracle=_mknn_oracle())
def mutual_knn_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-kNN near-duplicate pairs: (a, b) is reported only if
    b is in a's top-k AND a is in b's top-k by cosine — the mutual-NN
    criterion that screens out hub vectors (a generic boilerplate
    embedding sits in everyone's top-k but reciprocates almost none;
    one-directional kNN would flood the dedup list with it).

    Same sign-LSH bucketing as `embedding_near_dup_pairs`
    (``max(6, ceil(log2(n/32)))`` planes → ~32 vectors/bucket), so the
    kNN join is per-bucket quadratic with a bounded bucket size, the
    per-vector top-k is a window rank over bucket-bounded candidates,
    and the reciprocity test is an equi-join of the k-bounded kNN
    relation with itself — every stage shuffles O(n·k) rows, never
    pairs. Norms are hoisted per side before the pair join."""
    import math

    from pyspark.sql import Window

    from ..catalog import table_rows

    e = load_table(spark, sf_dir, "embeddings")
    n = table_rows(sf_dir, "embeddings")
    planes = max(6, math.ceil(math.log2(max(n, 2) / 32)))
    bucket = sum(
        (
            F.when(
                F.element_at("embedding", i + 1) > 0, 1 << (planes - 1 - i)
            ).otherwise(0)
            for i in range(planes)
        ),
        start=F.lit(0),
    )
    v = F.col("embedding").cast("array<double>")
    sgn = e.select("vec_id", v.alias("v"), bucket.alias("bucket")).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    a, b = sgn.alias("a"), sgn.alias("b")
    cos = round_col(
        dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm")), 4
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), "nbr")
    knn = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("src"),
            F.col("b.vec_id").alias("nbr"),
            cos.alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _MKNN_K)
        .select("src", "nbr", "cos")
    )
    fwd, rev = knn.alias("f"), knn.alias("r")
    return (
        fwd.join(
            rev,
            (F.col("f.src") == F.col("r.nbr")) & (F.col("f.nbr") == F.col("r.src")),
        )
        .filter(F.col("f.src") < F.col("f.nbr"))
        .select(
            F.col("f.src").alias("vec_a"),
            F.col("f.nbr").alias("vec_b"),
            F.col("f.cos").alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_a", "vec_b")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Ranking agreement + filtered vector search (r11 batch 3)
# ---------------------------------------------------------------------------

_RBO_DEPTH = 10
_RBO_P_NUM, _RBO_P_DEN = 9, 10  # p = 0.9 as an exact rational


def _rbo_terms(x: str) -> str:
    """Left-associated sum of the RBO@10 terms. Each term is ONE
    double division of exactly-representable integers-as-doubles
    (9^(d-1)·x_d ≤ 3.9e9 and 10^(d-1)·d·10 ≤ 1e11, both < 2^53), so
    the whole expression is bit-identical across engines with no
    libm pow and no aggregation-order dependence."""
    terms = []
    for d in range(1, _RBO_DEPTH + 1):
        w9 = _RBO_P_NUM ** (d - 1)
        den = _RBO_P_DEN ** (d - 1) * d * 10  # one precomputed literal:
        # the product would overflow 32-bit int if left to the parser
        terms.append(
            f"(CAST({x}{d} * {w9} AS DOUBLE) / CAST({den} AS DOUBLE))"
        )
    return "(" + " + ".join(terms) + ")"


def _rbo_oracle() -> str:
    overlaps = ",\n           ".join(
        f"CAST(sum(CASE WHEN pa <= {d} AND pb <= {d} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS x{d}"
        for d in range(1, _RBO_DEPTH + 1)
    )
    return f"""
    WITH {_lex_leg_sql(_RBO_DEPTH, "pa")},
    {_dense_leg_sql(_RBO_DEPTH, "pb")},
    joined AS (
        SELECT coalesce(l.doc_id, d.doc_id) AS doc_id,
               coalesce(l.pa, {_RBO_DEPTH + 1}) AS pa,
               coalesce(d.pb, {_RBO_DEPTH + 1}) AS pb
        FROM lex l FULL OUTER JOIN dense d ON l.doc_id = d.doc_id
    ),
    pivoted AS (SELECT {overlaps} FROM joined)
    SELECT CAST({_RBO_DEPTH} AS INT) AS depth,
           x5 AS overlap_at_5, x{_RBO_DEPTH} AS overlap_at_{_RBO_DEPTH},
           {stable_render_sql(_rbo_terms("x"), 8)} AS rbo_p09
    FROM pivoted
    """


@query("rank_biased_overlap", oracle=_rbo_oracle())
def rank_biased_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al. 2010) between the lexical
    BM25 ranking and the dense cosine ranking at depth 10, p = 0.9 —
    the standard top-weighted agreement metric for comparing two
    retrieval systems' rankings (Kendall/Spearman treat all depths
    equally; RBO discounts geometrically, matching user attention).
    Quantifies how much signal `hybrid_search_rrf` actually fuses: RBO
    near 1 means the legs are redundant, near 0 complementary.

    Both legs are the depth-bounded rankings from the RRF operator
    (TakeOrdered before ranking). The RBO sum is written as an
    explicit left-associated chain of per-depth terms, each one
    division of exactly-representable doubles (p^(d-1) carried as the
    rational 9^(d-1)/10^(d-1), no libm pow) — bit-identical in both
    engines with no SUM-order dependence."""
    lex = _lex_leg(load_table(spark, sf_dir, "documents"), _RBO_DEPTH, "pa")
    dense = _dense_leg(load_table(spark, sf_dir, "embeddings"), _RBO_DEPTH, "pb")
    absent = _RBO_DEPTH + 1
    joined = lex.join(dense, "doc_id", "full_outer").select(
        F.coalesce("pa", F.lit(absent)).alias("pa"),
        F.coalesce("pb", F.lit(absent)).alias("pb"),
    )
    overlaps = [
        F.sum(
            F.when((F.col("pa") <= dd) & (F.col("pb") <= dd), 1).otherwise(0)
        ).cast("long").alias(f"x{dd}")
        for dd in range(1, _RBO_DEPTH + 1)
    ]
    pivoted = joined.agg(*overlaps)
    return pivoted.select(
        F.lit(_RBO_DEPTH).cast("int").alias("depth"),
        F.col("x5").alias("overlap_at_5"),
        F.col(f"x{_RBO_DEPTH}").alias(f"overlap_at_{_RBO_DEPTH}"),
        stable_render(F.expr(_rbo_terms("x")), 8).alias("rbo_p09"),
    )


_FANN_LABEL = 1   # metadata predicate for the filtered search
_FANN_K = 10      # requested result size
_FANN_OVERFETCH = 3  # post-filter candidate multiplier


@query(
    "filtered_ann_pre_vs_post",
    oracle=f"""
    WITH {_QUERY_VEC_SQL},
    scored AS (
        SELECT vec_id, label,
               {_QUERY_COS_SQL} AS cos
        FROM embeddings, q WHERE vec_id <> 0
    ),
    pre AS (
        SELECT vec_id, cos,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
        FROM scored WHERE label = {_FANN_LABEL}
        QUALIFY rk <= {_FANN_K}
    ),
    cand AS (
        SELECT vec_id, label, cos,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS crk
        FROM scored
        QUALIFY crk <= {_FANN_K * _FANN_OVERFETCH}
    ),
    post AS (
        SELECT vec_id, cos,
               row_number() OVER (ORDER BY cos DESC, vec_id) AS rk
        FROM cand WHERE label = {_FANN_LABEL}
        QUALIFY rk <= {_FANN_K}
    )
    SELECT 'prefilter' AS method, CAST(rk AS BIGINT) AS rk, vec_id, cos AS cos_sim
    FROM pre
    UNION ALL
    SELECT 'postfilter', CAST(rk AS BIGINT), vec_id, cos FROM post
    ORDER BY method DESC, rk
    """,
)
def filtered_ann_pre_vs_post(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered vector search, both execution strategies side by side:
    PRE-filter (apply the metadata predicate label = 1 before scoring
    — exact, but the index must support predicate pushdown) versus
    POST-filter (score everyone, overfetch 3k unfiltered candidates,
    then filter — what a metadata-blind ANN index forces, and it can
    come back short when the predicate is selective). The gap between
    the two result lists IS the recall loss a post-filtering vector
    store silently eats; this operator makes it measurable.

    Scale shape: both strategies are one corpus scan with the query
    vector broadcast and a TakeOrdered tail; pre-filter additionally
    pushes the label predicate into the parquet scan (visible as
    PushedFilters), which at 100 TB is the difference between
    scanning a partition and scanning the corpus. Rankings are over
    ROUNDED cosines with vec_id tie-break — deterministic in both
    engines."""
    rows, cos = _query_scan(load_table(spark, sf_dir, "embeddings"))
    scored = rows.select("vec_id", "label", cos.alias("cos"))

    def ranked_topk(sdf: DataFrame, k: int, rk_name: str) -> DataFrame:
        w = Window.orderBy(F.desc("cos"), "vec_id")
        return (
            sdf.orderBy(F.desc("cos"), "vec_id")
            .limit(k)
            .withColumn(rk_name, F.row_number().over(w))
        )

    pre = ranked_topk(
        scored.filter(F.col("label") == _FANN_LABEL), _FANN_K, "rk"
    ).select("rk", "vec_id", "cos")
    cand = ranked_topk(scored, _FANN_K * _FANN_OVERFETCH, "crk")
    post = ranked_topk(
        cand.filter(F.col("label") == _FANN_LABEL).select("vec_id", "cos"),
        _FANN_K,
        "rk",
    ).select("rk", "vec_id", "cos")
    out = pre.select(
        F.lit("prefilter").alias("method"),
        F.col("rk").cast("long").alias("rk"),
        "vec_id",
        F.col("cos").alias("cos_sim"),
    ).unionAll(
        post.select(
            F.lit("postfilter").alias("method"),
            F.col("rk").cast("long").alias("rk"),
            "vec_id",
            F.col("cos").alias("cos_sim"),
        )
    )
    return out.orderBy(F.desc("method"), "rk")


# ---------------------------------------------------------------------------
# Embedding drift, n-gram coverage, multi-probe LSH (r11 batch 4)
# ---------------------------------------------------------------------------


def mean_shift_fold(diffs: DataFrame, *extra: Column) -> tuple[DataFrame, DataFrame]:
    """The mean-shift core over per-dimension mean differences (i, d):
    one row with mmd_sq, the Σd² fold in dimension order (plus any
    *extra* aggregates), and one row with the most-shifted dimension
    (top_dim, top_shift) by |d|, ties to the smaller dimension."""
    folded = diffs.agg(
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("i", "d"))),
                lambda s: s["d"] * s["d"],
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("mmd_sq"),
        *extra,
    )
    top = (
        diffs.orderBy(F.abs(F.col("d")).desc(), "i")
        .limit(1)
        .select(
            F.col("i").cast("int").alias("top_dim"),
            F.col("d").alias("top_shift"),
        )
    )
    return folded, top


@query(
    "embedding_mean_shift_drift",
    oracle=f"""
    WITH base AS (
        SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE label IN (0, 1)
    ),
    dims AS (
        SELECT label, i, {round_sql("avg(v[i])", 6)} AS m
        FROM base, range(1, 65) r(i)
        GROUP BY label, i
    ),
    diffs AS (
        SELECT a.i, (a.m - b.m) AS d
        FROM dims a JOIN dims b ON a.i = b.i AND a.label = 0 AND b.label = 1
    ),
    folded AS (
        SELECT list_reduce(list(d * d ORDER BY i), (x, y) -> x + y) AS mmd_sq
        FROM diffs
    ),
    top AS (
        SELECT i AS top_dim, d AS top_shift FROM diffs
        ORDER BY abs(d) DESC, i LIMIT 1
    ),
    counts AS (
        SELECT CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
        FROM base
    )
    SELECT n_a, n_b,
           {stable_render_sql("mmd_sq", 8)} AS mmd_sq,
           CAST(top_dim AS INT) AS top_dim,
           {stable_render_sql("top_shift", 6)} AS top_shift
    FROM folded, top, counts
    """,
)
def embedding_mean_shift_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space two-sample drift between the label-0 and
    label-1 cohorts: squared maximum mean discrepancy under the LINEAR
    kernel — which collapses exactly to |mean(X) − mean(Y)|², the mean-
    embedding shift — plus the single most-drifted dimension. PSI/JSD
    (`psi_drift_by_decile`, `jsd_source_drift`) watch scalar feature
    histograms; this is their vector-space counterpart for detecting a
    re-embed, a model swap, or a topical shift between two corpus
    slices before ANN recall silently degrades.

    Scale shape: per-dimension means are ONE grouped aggregate over
    the posexploded (label, dim) pairs — 128 output cells regardless
    of corpus size; the 64-term Σd² runs as an ordered fold over the
    collected per-dim diffs (deterministic summation order in both
    engines, the RBO discipline). Per-dim means are portably rounded
    before differencing so the fold inputs are bit-identical."""
    e = load_table(spark, sf_dir, "embeddings")
    base = e.filter(F.col("label").isin(0, 1)).select(
        "label", F.col("embedding").cast("array<double>").alias("v")
    )
    dims = (
        base.select("label", F.posexplode("v").alias("i0", "x"))
        .groupBy("label", (F.col("i0") + 1).alias("i"))
        .agg(round_col(F.avg("x"), 6).alias("m"))
    )
    a = dims.filter(F.col("label") == 0).select("i", F.col("m").alias("ma"))
    b = dims.filter(F.col("label") == 1).select("i", F.col("m").alias("mb"))
    diffs = a.join(b, "i").select("i", (F.col("ma") - F.col("mb")).alias("d"))
    folded, top = mean_shift_fold(diffs)
    counts = base.agg(
        F.sum(F.when(F.col("label") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("label") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
    )
    return (
        counts.crossJoin(F.broadcast(folded))
        .crossJoin(F.broadcast(top))
        .select(
            "n_a",
            "n_b",
            stable_render(F.col("mmd_sq"), 8).alias("mmd_sq"),
            "top_dim",
            stable_render(F.col("top_shift"), 6).alias("top_shift"),
        )
    )


_NGC_ORDERS = (1, 2, 4)


def _ngc_gram_sql(n: int, rel: str) -> str:
    # unnest(range(...)) is the lateral-correlation spelling DuckDB
    # accepts (bare range() rejects column parameters in FROM).
    return f"""
        SELECT md5(array_to_string(toks[i:i+{n - 1}], ' ')) AS g
        FROM {rel}, unnest(range(1, len(toks) - {n} + 2)) AS r(i)
        WHERE len(toks) >= {n}
    """


def _ngc_oracle() -> str:
    parts = []
    for n in _NGC_ORDERS:
        parts.append(f"""
    tr{n} AS (SELECT DISTINCT g FROM ({_ngc_gram_sql(n, "train")})),
    ho{n} AS ({_ngc_gram_sql(n, "heldout")}),
    s{n} AS (
        SELECT CAST({n} AS INT) AS n,
               CAST(count(*) AS BIGINT) AS heldout_grams,
               CAST(sum(CASE WHEN t.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
                   AS covered_grams
        FROM ho{n} h LEFT JOIN tr{n} t USING (g)
    )""")
    finals = " UNION ALL ".join(
        f"SELECT n, heldout_grams, covered_grams,"
        f" {round_sql('CAST(covered_grams AS DOUBLE) / heldout_grams', 6)}"
        f" AS coverage FROM s{n}"
        for n in _NGC_ORDERS
    )
    return f"""
    WITH toksrc AS (
        SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ),
    train AS (SELECT toks FROM toksrc WHERE doc_id % 2 = 0),
    heldout AS (SELECT toks FROM toksrc WHERE doc_id % 2 = 1),
    {",".join(parts)}
    SELECT * FROM ({finals}) ORDER BY n
    """


@query("ngram_coverage_curve", oracle=_ngc_oracle())
def ngram_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out n-gram coverage curve at orders 1/2/4: what fraction
    of a held-out split's n-gram OCCURRENCES already appear in the
    training split's n-gram TYPE set. Unigram coverage bounds OOV
    behavior (`vocab_oov_coverage`); the higher orders measure how
    much of the held-out text is locally predictable from training
    context — the curve's decay rate separates topically-fresh data
    (steep) from near-duplicate data (flat and high), making it a
    quick data-value probe for a candidate crawl against the existing
    corpus.

    Scale shape: grams travel as md5 hashes only (text never
    shuffles); per order it is one distinct on the train side and one
    hash equi-join — the decontaminate/cross-source join geometry —
    with a 3-row output. Split = doc_id parity (deterministic, no
    RNG)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.filter(F.split("text", " "), lambda x: x != "").alias("toks"),
    )
    out = None
    for n in _NGC_ORDERS:
        grams = shingle_hashes("toks", n)
        def gram_rel(sdf):
            return (
                sdf.filter(F.size("toks") >= n)
                .select(F.explode(grams).alias("g"))
            )
        train = gram_rel(toks.filter(F.col("doc_id") % 2 == 0)).distinct()
        heldout = gram_rel(toks.filter(F.col("doc_id") % 2 == 1))
        s = (
            heldout.join(train.withColumn("hit", F.lit(1)), "g", "left")
            .agg(
                F.count(F.lit(1)).cast("long").alias("heldout_grams"),
                F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("covered_grams"),
            )
            .select(
                F.lit(n).cast("int").alias("n"),
                "heldout_grams",
                "covered_grams",
                round_col(
                    F.col("covered_grams").cast("double") / F.col("heldout_grams"), 6
                ).alias("coverage"),
            )
        )
        out = s if out is None else out.unionAll(s)
    return out.orderBy("n")


_MP_PLANES = 8  # sign planes for the multi-probe experiment


@query(
    "lsh_multiprobe_gain",
    oracle=f"""
    WITH sgn AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
               sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                     CAST(embedding AS DOUBLE[]))) AS nrm,
               ({" + ".join(
                   f"(CASE WHEN embedding[{i + 1}] > 0 THEN {1 << (_MP_PLANES - 1 - i)} ELSE 0 END)"
                   for i in range(_MP_PLANES)
               )}) AS bucket
        FROM embeddings
        WHERE vec_id < 200
    ),
    pairs AS MATERIALIZED (
        SELECT a.vec_id AS va, b.vec_id AS vb, a.bucket AS ba, b.bucket AS bb,
               list_dot_product(a.v, b.v) / (a.nrm * b.nrm) AS cos
        FROM sgn a JOIN sgn b ON a.vec_id < b.vec_id
    ),
    flags AS (
        SELECT va, vb, (cos > 0.35) AS is_true,
               (ba = bb) AS exact_hit,
               (xor(CAST(ba AS BIGINT), CAST(bb AS BIGINT)) IN
                ({", ".join(str(1 << j) for j in range(_MP_PLANES))})
                OR ba = bb) AS probe_hit
        FROM pairs
    )
    SELECT CAST({_MP_PLANES} AS INT) AS planes,
           CAST(sum(CASE WHEN is_true THEN 1 ELSE 0 END) AS BIGINT) AS true_pairs,
           CAST(sum(CASE WHEN is_true AND exact_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_recall_hits,
           CAST(sum(CASE WHEN is_true AND probe_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS probe_recall_hits,
           CAST(sum(CASE WHEN exact_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS exact_candidates,
           CAST(sum(CASE WHEN probe_hit THEN 1 ELSE 0 END) AS BIGINT)
               AS probe_candidates
    FROM flags
    """,
)
def lsh_multiprobe_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe sign-LSH audit (Lv et al., VLDB'07): at 8 planes,
    how much near-dup recall (cos > 0.35) does probing the 8
    Hamming-1 neighbor buckets add over the exact bucket alone, and
    at what candidate-volume cost. Multi-probe is the standard lever
    when one table's recall is short but memory forbids more tables —
    this measures the trade on YOUR corpus before committing
    (complements `lsh_plane_recall_curve`, which sweeps plane count).

    The audit evaluates pair-level hit flags on the id-bounded
    vec_id < 200 sample in ONE bounded self-join — O(sample²)
    regardless of corpus size (the `lsh_plane_recall_curve` geometry):
    a Hamming-1 probe hit is `popcount(bucket_a XOR bucket_b) <= 1`,
    spelled as an 8-literal IN-set so both engines evaluate identical
    integer tests. The production probe path stays an equi-join (each
    query explodes into 9 probe bucket keys — fan-out 9, never a
    pair scan); this is its measured recall/cost basis."""
    e = load_table(spark, sf_dir, "embeddings")
    bucket = sum(
        (
            F.when(
                F.element_at("embedding", i + 1) > 0, 1 << (_MP_PLANES - 1 - i)
            ).otherwise(0)
            for i in range(_MP_PLANES)
        ),
        start=F.lit(0),
    )
    v = F.col("embedding").cast("array<double>")
    sgn = (
        e.filter(F.col("vec_id") < 200)
        .select("vec_id", v.alias("v"), bucket.alias("bucket"))
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
    )
    a, b = sgn.alias("a"), sgn.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    xor = F.col("a.bucket").cast("long").bitwiseXOR(F.col("b.bucket").cast("long"))
    one_bit = xor.isin([1 << j for j in range(_MP_PLANES)])
    flags = (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            (cos > 0.35).alias("is_true"),
            (F.col("a.bucket") == F.col("b.bucket")).alias("exact_hit"),
            ((F.col("a.bucket") == F.col("b.bucket")) | one_bit).alias("probe_hit"),
        )
    )
    return flags.agg(
        F.lit(_MP_PLANES).cast("int").alias("planes"),
        F.sum(F.when(F.col("is_true"), 1).otherwise(0)).cast("long").alias("true_pairs"),
        F.sum(F.when(F.col("is_true") & F.col("exact_hit"), 1).otherwise(0))
        .cast("long")
        .alias("exact_recall_hits"),
        F.sum(F.when(F.col("is_true") & F.col("probe_hit"), 1).otherwise(0))
        .cast("long")
        .alias("probe_recall_hits"),
        F.sum(F.when(F.col("exact_hit"), 1).otherwise(0)).cast("long").alias("exact_candidates"),
        F.sum(F.when(F.col("probe_hit"), 1).otherwise(0)).cast("long").alias("probe_candidates"),
    )


# ---------------------------------------------------------------------------
# Persisted IVF index lifecycle (r11 batch 4)
# ---------------------------------------------------------------------------

_IVFL_DIST = (
    "(list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.cv)"
    " + list_dot_product(c.cv, c.cv))"
)


def _ivfl_update(src: str, dst: str) -> str:
    return f"""
    m{dst} AS (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS val
               FROM {src} WHERE rn = 1),
    c{dst} AS MATERIALIZED (SELECT cid, list(val ORDER BY pos) AS cv FROM (
                 SELECT cid, pos, {round_sql("avg(val)", 6)} AS val
                 FROM m{dst} GROUP BY cid, pos) GROUP BY cid)"""


# Two Lloyd rounds over `v` from init vec_id < 4: centroids c2.
_IVFL_TRAIN_SQL = f"""
    c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS cv FROM v WHERE vec_id < 4),
    a1 AS (SELECT a.vec_id, a.v, c.cid,
                  row_number() OVER (PARTITION BY a.vec_id
                                     ORDER BY {_IVFL_DIST} ASC, c.cid) rn
           FROM v a CROSS JOIN c0 c),
    {_ivfl_update("a1", "1")},
    a2 AS (SELECT a.vec_id, a.v, c.cid,
                  row_number() OVER (PARTITION BY a.vec_id
                                     ORDER BY {_IVFL_DIST} ASC, c.cid) rn
           FROM v a CROSS JOIN c1 c),
    {_ivfl_update("a2", "2")}"""


def _ivfl_oracle() -> str:
    """Replays the full lifecycle: 2 Lloyd rounds on the day-1 slice
    (deterministic init = 4 smallest vec_ids), frozen-centroid
    assignment of the UNION (the append), nprobe=2 centroid selection
    for the query vector, and the exact cosine top-10 over the two
    chosen inverted lists."""
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
        WHERE vec_id % 5 <> 4
    ),
    {_IVFL_TRAIN_SQL},
    vu AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    af AS MATERIALIZED (
        SELECT a.vec_id, a.v, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_IVFL_DIST} ASC, c.cid) rn
        FROM vu a CROSS JOIN c2 c
    ),
    q AS (SELECT v AS qv FROM vu WHERE vec_id = 0),
    qsel AS (
        SELECT c.cid FROM c2 c, q a(v)
        ORDER BY (list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.cv)
                  + list_dot_product(c.cv, c.cv)) ASC, c.cid
        LIMIT 2
    )
    SELECT a.vec_id, CAST(a.cid AS INT) AS cid,
           {round_sql(
               "list_dot_product(a.v, qv)"
               " / (sqrt(list_dot_product(a.v, a.v))"
               " * sqrt(list_dot_product(qv, qv)))", 4)} AS cos_sim
    FROM af a JOIN qsel s ON a.cid = s.cid, q
    WHERE a.rn = 1 AND a.vec_id <> 0
    ORDER BY cos_sim DESC, a.vec_id LIMIT 10
    """


@query("ivf_index_lifecycle_probe", oracle=_ivfl_oracle())
def ivf_index_lifecycle_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end persisted-IVF-index lifecycle (`ann_index.py`):
    BUILD on the day-1 slice (vec_id % 5 != 4; exact 2-round Lloyd,
    deterministic init, 6-dp rounded centroid updates), APPEND the
    day-2 slice against the frozen centroids (O(batch) — the store is
    never rescanned), then PROBE vec_id 0's vector with nprobe=2 for
    the exact cosine top-10. The persisted `assignments` table is
    partitioned by cid, so the probe's cluster selection physically
    becomes Hive partition pruning — the unchosen inverted lists are
    never read (plan-pinned in `tests/test_ann_index.py`; N-appends ≡
    one-shot-build parity pinned there too).

    The oracle replays training, frozen-centroid union assignment,
    centroid selection, and the top-k entirely in SQL — every
    comparison on portably-rounded values, ties on cid/vec_id."""
    import shutil
    import tempfile

    from ..ann_index import (
        append_to_ivf_index,
        build_ivf_index,
        probe_ivf_index,
    )

    e = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()[0]["v"]
    ]
    index_dir = tempfile.mkdtemp(prefix="hds_ivf_")
    try:
        build_ivf_index(spark, e.filter(F.col("vec_id") % 5 != 4), index_dir)
        append_to_ivf_index(spark, e.filter(F.col("vec_id") % 5 == 4), index_dir)
        out = probe_ivf_index(
            spark, index_dir, qv, nprobe=2, topk=10, exclude_vec_id=0
        ).collect()
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    return spark.createDataFrame(
        [(r["vec_id"], r["cid"], r["cos_sim"]) for r in out],
        "vec_id long, cid int, cos_sim double",
    ).orderBy(F.desc("cos_sim"), "vec_id")


def _ivfpq_oracle() -> str:
    """Replays BOTH stages of the composed index: the IVF side is the
    `_ivfl_oracle` training core on the FULL table (2 Lloyd rounds,
    deterministic init vec_id < 4, 6-dp means, frozen assignment),
    the PQ side is the `_pq_oracle` codebook core (per 16-dim
    subspace: one Lloyd update from vec_id < 4, 6-dp means, argmin
    encode), then the probe: nprobe=2 centroid selection for vec_id
    0's vector, ADC distance summed left-assoc over the 4 subspace
    lookup terms for candidates IN the chosen lists only, a
    shortlist-20 cut on (adist, vec_id), and the exact cosine top-10
    re-rank of the shortlist."""
    pq = []
    for s in range(4):
        pq.append(f"""{_pq_codebook_sql(s)},
    ds{s} AS (SELECT e.vec_id,
                (list_dot_product(qs.v, qs.v)
                 - 2 * list_dot_product(qs.v, e.cv)
                 + list_dot_product(e.cv, e.cv)) AS d
        FROM (SELECT vec_id, cv FROM enc{s} WHERE rn = 1) e,
             (SELECT v FROM vs{s} WHERE vec_id = 0) qs(v))""")
    pq_body = ",".join(pq)
    return f"""
    WITH v AS MATERIALIZED (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    {_IVFL_TRAIN_SQL},
    af AS MATERIALIZED (
        SELECT a.vec_id, c.cid,
               row_number() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_IVFL_DIST} ASC, c.cid) rn
        FROM v a CROSS JOIN c2 c
    ),
    {pq_body},
    q AS (SELECT v AS qv FROM v WHERE vec_id = 0),
    qsel AS (
        SELECT c.cid FROM c2 c, q a(v)
        ORDER BY (list_dot_product(a.v, a.v) - 2 * list_dot_product(a.v, c.cv)
                  + list_dot_product(c.cv, c.cv)) ASC, c.cid
        LIMIT 2
    ),
    cand AS (
        SELECT a.vec_id, a.cid
        FROM (SELECT vec_id, cid FROM af WHERE rn = 1) a
        JOIN qsel s ON a.cid = s.cid
        WHERE a.vec_id <> 0
    ),
    tot AS (
        SELECT c.vec_id, c.cid,
               ((d0.d + d1.d) + d2.d) + d3.d AS adist
        FROM cand c
        JOIN ds0 d0 ON d0.vec_id = c.vec_id
        JOIN ds1 d1 ON d1.vec_id = c.vec_id
        JOIN ds2 d2 ON d2.vec_id = c.vec_id
        JOIN ds3 d3 ON d3.vec_id = c.vec_id
    ),
    short AS (
        SELECT vec_id, cid, adist FROM tot
        ORDER BY adist, vec_id LIMIT 20
    )
    SELECT s.vec_id, CAST(s.cid AS INT) AS cid,
           {round_sql("s.adist", 4)} AS adist,
           {round_sql(
               "list_dot_product(t.v, qv)"
               " / (sqrt(list_dot_product(t.v, t.v))"
               " * sqrt(list_dot_product(qv, qv)))", 4)} AS cos_sim
    FROM short s JOIN v t ON t.vec_id = s.vec_id, q
    ORDER BY cos_sim DESC, s.vec_id LIMIT 10
    """


@query("ivfpq_adc_probe", oracle=_ivfpq_oracle())
def ivfpq_adc_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF+PQ composed probe — the FAISS IVFPQ architecture (Jégou et
    al. 2011) assembled from this engine's two existing halves: the
    persisted partition-pruned IVF store (`ann_index.py`, the
    `ivf_index_lifecycle_probe` layout) now carries each row's PQ
    codes IN the inverted list, and probing is (1) driver-side coarse
    ranking of k centroid metadata rows → ``cid IN (...)`` partition
    pruning, (2) ADC scoring of the pruned candidates via per-subspace
    lookup terms on the stored codes (the `similarity_pq_adc` LUT
    discipline — no per-row vector math), (3) shortlist-20 by ADC
    distance, (4) exact cosine re-rank of the shortlist from the same
    pruned rows. Completes the vector-store ladder: brute → sign-LSH
    → IVF → PQ → IVF+PQ.

    Scale shape: training collects k·d + m·k·dsub INDEX METADATA
    (identical to its two parents); the probe reads ONLY the nprobe
    chosen partitions (PartitionFilters plan-pinned in
    `tests/test_ivfpq.py`) and scores them with constant-time code
    lookups; the re-rank touches `shortlist` rows. At 100 TB the scan
    payload is the codes column (m bytes/vector after parquet column
    pruning); raw v/nrm columns are late-materialized only for the
    shortlist — no corpus-wide raw-vector pass exists anywhere in the
    probe. The oracle replays coarse training, codebooks, encoding,
    list selection, ADC ranking and the re-rank entirely in SQL on
    6-dp portably-rounded centroids with IEEE-matched fold shapes."""
    import shutil
    import tempfile

    from ..ann_index import build_ivfpq_index, probe_ivfpq_index

    e = load_table(spark, sf_dir, "embeddings")
    qv = [
        float(x)
        for x in e.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").cast("array<double>").alias("v"))
        .collect()[0]["v"]
    ]
    index_dir = tempfile.mkdtemp(prefix="hds_ivfpq_")
    try:
        build_ivfpq_index(spark, e, index_dir)
        out = probe_ivfpq_index(
            spark,
            index_dir,
            qv,
            nprobe=2,
            shortlist=20,
            topk=10,
            exclude_vec_id=0,
        ).collect()
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    return spark.createDataFrame(
        [(r["vec_id"], r["cid"], r["adist"], r["cos_sim"]) for r in out],
        "vec_id long, cid int, adist double, cos_sim double",
    ).orderBy(F.desc("cos_sim"), "vec_id")


# ---------------------------------------------------------------------------
# SimHash Hamming pairing + graded retrieval eval (r11 batch 5)
# ---------------------------------------------------------------------------

_SH_HAM_MAX = 3  # 4 nibble bands => pigeonhole-exact at Hamming <= 3


@query(
    "simhash_hamming_near_dup",
    oracle=f"""
    WITH fp AS MATERIALIZED ({_SIMHASH_ORACLE}),
    bands AS (
        SELECT doc_id,
               b AS band,
               (simhash16 >> (4 * b)) & 15 AS bucket
        FROM fp, unnest([0, 1, 2, 3]) AS t(b)
    ),
    capped AS (
        SELECT doc_id, band, bucket FROM (
            SELECT doc_id, band, bucket,
                   row_number() OVER (PARTITION BY band, bucket
                                      ORDER BY doc_id) AS rnb
            FROM bands
        ) WHERE rnb <= {BAND_BUCKET_CAP}
    ),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM capped a JOIN capped b
          ON a.band = b.band AND a.bucket = b.bucket
         AND a.doc_id < b.doc_id
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(CAST(fa.simhash16 AS BIGINT),
                              CAST(fb.simhash16 AS BIGINT))) AS INT) AS hamming
    FROM cand c
    JOIN fp fa ON fa.doc_id = c.doc_a
    JOIN fp fb ON fb.doc_id = c.doc_b
    WHERE bit_count(xor(CAST(fa.simhash16 AS BIGINT),
                        CAST(fb.simhash16 AS BIGINT))) <= {_SH_HAM_MAX}
    ORDER BY hamming, doc_a, doc_b LIMIT 50
    """,
)
def simhash_hamming_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-duplicate PAIRS — the pairing stage the
    `simhash_fingerprint` operator feeds (Charikar 2002 / Manku et al.
    2007's web-dedup pipeline): the 16-bit fingerprint splits into 4
    nibble bands; two fingerprints within Hamming distance 3 must
    agree on at least one whole band (pigeonhole — the same exactness
    argument as the image pHash banding), so candidates come from band
    equi-joins, never a pair scan, and the Hamming verify runs only on
    candidates. Completes the text near-dup route family: MinHash
    (set similarity), CDC chunks (shift-resistant), SimHash (weighted
    cosine-of-features).

    Hot buckets are capped at BAND_BUCKET_CAP docs (deterministic
    smallest-doc_id keep, mirrored in the oracle — at 16 bits a band
    is only a nibble, so a big corpus needs the 64-bit fingerprint
    where bands are 16-bit and buckets stay sparse; the cap makes the
    16-bit demo scale-safe regardless). popcount(xor) evaluates
    identically in both engines on the same packed integers."""
    sig, fingerprint = _simhash16(spark, sf_dir)
    fp = sig.select("doc_id", fingerprint.cast("long").alias("sh")).localCheckpoint()
    bands = fp.select(
        "doc_id",
        "sh",
        F.explode(F.array(*[F.lit(b) for b in range(4)])).alias("band"),
    ).withColumn(
        # SQL shiftright accepts a column shift amount; the Python
        # F.shiftright wrapper takes only int literals
        "bucket",
        F.expr("shiftright(sh, 4 * band) & 15"),
    )
    cand = band_pairs(cap_bands(bands).select("doc_id", "band", "bucket"))
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sha"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("shb"))
    ham = F.bit_count(F.col("sha").bitwiseXOR(F.col("shb")))
    return (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .withColumn("hamming", ham.cast("int"))
        .filter(F.col("hamming") <= _SH_HAM_MAX)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(50)
    )


_NDCG_K = 10
# 1/log2(i+1) discounts precomputed as Python doubles so neither
# engine evaluates libm log at query time — the weights are literals,
# bit-identical by construction.
_NDCG_W = [1.0 / __import__("math").log2(i + 1) for i in range(1, _NDCG_K + 1)]


def _ndcg_chain(prefix: str) -> str:
    """Left-associated Σ gain_i · w_i over pivoted columns."""
    return "(" + " + ".join(
        f"(coalesce({prefix}{i}, 0.0) * {_NDCG_W[i - 1]!r})"
        for i in range(1, _NDCG_K + 1)
    ) + ")"


def _ndcg_oracle() -> str:
    lex_pivot = ",\n           ".join(
        f"max(CASE WHEN rk = {i} THEN g END) AS l{i}"
        for i in range(1, _NDCG_K + 1)
    )
    ideal_pivot = ",\n           ".join(
        f"max(CASE WHEN irk = {i} THEN g END) AS i{i}"
        for i in range(1, _NDCG_K + 1)
    )
    return f"""
    WITH {_lex_leg_sql(_NDCG_K, "rk")},
    {_QUERY_VEC_SQL},
    gains AS MATERIALIZED (
        SELECT vec_id AS doc_id,
               greatest({_QUERY_COS_SQL}, 0.0) AS g
        FROM embeddings, q WHERE vec_id <> 0
    ),
    lexp AS (
        SELECT {lex_pivot}
        FROM lex l LEFT JOIN gains USING (doc_id)
    ),
    ideal AS (
        SELECT g, row_number() OVER (ORDER BY g DESC, doc_id) AS irk
        FROM gains QUALIFY irk <= {_NDCG_K}
    ),
    idealp AS (SELECT {ideal_pivot} FROM ideal)
    SELECT {stable_render_sql(_ndcg_chain("l"), 6)} AS dcg,
           {stable_render_sql(_ndcg_chain("i"), 6)} AS idcg,
           {stable_render_sql(
               f"({_ndcg_chain('l')}) / ({_ndcg_chain('i')})", 6)} AS ndcg
    FROM lexp, idealp
    """


@query("ndcg_lexical_vs_dense", oracle=_ndcg_oracle())
def ndcg_lexical_vs_dense(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@10 of the lexical BM25 ranking judged by dense-cosine
    relevance (gain = max(cos, 0) against the query vector): the
    graded-relevance retrieval eval, completing the IR-eval family —
    `ann_recall_at_k` (set recall), `rank_biased_overlap` (rank
    agreement), `auc_rank_separability` (binary separability), and now
    position-discounted graded quality. In a RAG stack this scores the
    cheap lexical index against the embedding model's judgment before
    paying for the dense leg at query time.

    Determinism discipline: the 1/log2(i+1) discounts are PRECOMPUTED
    Python literals (no libm at query time); gains are 4-dp rounded
    cosines; DCG/IDCG are explicit left-associated 10-term chains over
    pivoted rank columns (the RBO convention) — no SUM-order
    dependence anywhere. Both rankings bound to k rows before any
    window runs."""
    lex = _lex_leg(load_table(spark, sf_dir, "documents"), _NDCG_K, "rk")
    rows, cos = _query_scan(load_table(spark, sf_dir, "embeddings"))
    gains = rows.select(
        F.col("vec_id").alias("doc_id"), F.greatest(cos, F.lit(0.0)).alias("g")
    )
    lexp = (
        lex.join(gains, "doc_id", "left")
        .agg(*[
            F.max(F.when(F.col("rk") == i, F.col("g"))).alias(f"l{i}")
            for i in range(1, _NDCG_K + 1)
        ])
    )
    w_ideal = Window.orderBy(F.desc("g"), "doc_id")
    idealp = (
        gains.orderBy(F.desc("g"), "doc_id")
        .limit(_NDCG_K)
        .withColumn("irk", F.row_number().over(w_ideal))
        .agg(*[
            F.max(F.when(F.col("irk") == i, F.col("g"))).alias(f"i{i}")
            for i in range(1, _NDCG_K + 1)
        ])
    )
    dcg = F.expr(_ndcg_chain("l"))
    idcg = F.expr(_ndcg_chain("i"))
    return lexp.crossJoin(F.broadcast(idealp)).select(
        stable_render(dcg, 6).alias("dcg"),
        stable_render(idcg, 6).alias("idcg"),
        stable_render(dcg / idcg, 6).alias("ndcg"),
    )


# ---------------------------------------------------------------------------
# Percolation with exclusion clauses (r11 batch 6)
# ---------------------------------------------------------------------------

# (rule_id, must-have terms, must-NOT-have terms)
_PERCOLATE_NEG_RULES = [
    (1, ("join", "scan"), ("error",)),
    (2, ("merge",), ("sort", "window")),
    (3, ("table", "row"), ()),
    (4, ("agg",), ("batch",)),
]


@query(
    "percolate_with_exclusions",
    oracle=f"""
    WITH pos(rule_id, term) AS (VALUES {", ".join(
        f"({rid}, '{t}')"
        for rid, terms, _neg in _PERCOLATE_NEG_RULES for t in terms
    )}),
    neg(rule_id, term) AS (VALUES {", ".join(
        f"({rid}, '{t}')"
        for rid, _terms, negs in _PERCOLATE_NEG_RULES for t in negs
    )}),
    pos_size AS (SELECT rule_id, count(*) AS k FROM pos GROUP BY rule_id),
    doc_terms AS (
        SELECT DISTINCT doc_id, token FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS token
            FROM documents
        ) WHERE token <> ''
    ),
    pos_hits AS (
        SELECT d.doc_id, r.rule_id, count(*) AS matched
        FROM doc_terms d JOIN pos r ON d.token = r.term
        GROUP BY d.doc_id, r.rule_id
    ),
    neg_hits AS (
        SELECT DISTINCT d.doc_id, r.rule_id
        FROM doc_terms d JOIN neg r ON d.token = r.term
    ),
    sat AS (
        SELECT h.doc_id, h.rule_id
        FROM pos_hits h
        JOIN pos_size s ON h.rule_id = s.rule_id
        LEFT JOIN neg_hits n
          ON n.doc_id = h.doc_id AND n.rule_id = h.rule_id
        WHERE h.matched = s.k AND n.rule_id IS NULL
    )
    SELECT CAST(rule_id AS BIGINT) AS rule_id,
           count(*) AS n_matching_docs,
           CAST(min(doc_id) AS BIGINT) AS first_doc
    FROM sat GROUP BY rule_id ORDER BY rule_id
    """,
)
def percolate_with_exclusions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percolation with must-NOT clauses — real alerting/routing rules
    are conjunctions with exclusions ('mentions merge but not in an
    error context'): a rule fires when ALL its positive terms appear
    and NONE of its negative terms do. Extends
    `reverse_search_percolate`'s counting formulation with one
    anti-join leg: positives count up to the rule size, negatives
    knock out via a left-anti match on (doc, rule).

    Scale shape unchanged: both rule tables are tiny broadcasts that
    prune the token stream BEFORE any shuffle, so work is docs ×
    matching terms; the exclusion leg adds one more broadcast join,
    never a second corpus scan of raw text."""
    pos = spark.createDataFrame(
        [
            (rid, t)
            for rid, terms, _neg in _PERCOLATE_NEG_RULES
            for t in terms
        ],
        ["rule_id", "term"],
    )
    neg = spark.createDataFrame(
        [
            (rid, t)
            for rid, _terms, negs in _PERCOLATE_NEG_RULES
            for t in negs
        ],
        ["rule_id", "term"],
    )
    d = load_table(spark, sf_dir, "documents")
    neg_hits = (
        doc_terms(d)
        .join(F.broadcast(neg), F.col("token") == F.col("term"))
        .select("doc_id", "rule_id")
        .distinct()
    )
    sat = percolate_matches(d, pos).join(neg_hits, ["doc_id", "rule_id"], "left_anti")
    return (
        sat.groupBy("rule_id")
        .agg(
            F.count(F.lit(1)).alias("n_matching_docs"),
            F.min("doc_id").cast("long").alias("first_doc"),
        )
        .select(F.col("rule_id").cast("long").alias("rule_id"),
                "n_matching_docs", "first_doc")
        .orderBy("rule_id")
    )


# ---------------------------------------------------------------------------
# r12 additions: Matryoshka truncation audit + leave-one-source-out
# data valuation.
# ---------------------------------------------------------------------------

_MRL_MS = (4, 8, 16, 32, 64)
_MRL_COS_SQL = (
    "list_dot_product(v[1:m], qv[1:m]) / "
    "(sqrt(list_dot_product(v[1:m], v[1:m]))"
    " * sqrt(list_dot_product(qv[1:m], qv[1:m])))"
)


@query(
    "matryoshka_truncation_recall",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    q AS (SELECT vec_id AS qid, v AS qv FROM c WHERE vec_id < 10),
    ms AS (SELECT unnest({list(_MRL_MS)}) AS m),
    tr AS (
        SELECT m, qid, vec_id, row_number() OVER (
            PARTITION BY m, qid
            ORDER BY {round_sql(_MRL_COS_SQL, 6)} DESC, vec_id
        ) AS rk
        FROM c, q, ms WHERE vec_id <> qid
    ),
    topk AS (SELECT m, qid, vec_id FROM tr WHERE rk <= 10),
    gt AS (SELECT qid, vec_id FROM topk WHERE m = {_MRL_MS[-1]}),
    per AS (
        SELECT t.m, t.qid, count(g.vec_id) AS hits
        FROM topk t LEFT JOIN gt g
          ON g.qid = t.qid AND g.vec_id = t.vec_id
        GROUP BY t.m, t.qid
    )
    SELECT CAST(m AS INT) AS m,
           CAST(count(*) AS BIGINT) AS n_queries,
           {round_sql("avg(hits / 10.0)", 4)} AS avg_recall_at_10,
           {round_sql("min(hits / 10.0)", 4)} AS min_recall_at_10
    FROM per GROUP BY m ORDER BY m
    """,
)
def matryoshka_truncation_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit (Kusupati et al. 2022,
    arXiv:2205.13147): how much exact-cosine retrieval quality
    survives keeping only the first m of d embedding dimensions —
    the storage/latency question every 100 TB vector store asks
    before quantizing or truncating (complements
    `embedding_quantization_error`, which audits PQ codes, and
    `similarity_pq_adc`). Per truncation level m in {4,8,16,32,64}:
    recall@10 of the m-dim prefix ranking against full-dim ground
    truth, averaged over a fixed query panel (vec_ids 0-9), plus the
    worst query's recall. The d=64 row is the built-in sanity anchor
    (recall 1.0 by construction).

    Shape: the query panel broadcasts; ONE corpus-parallel pass
    scores every (corpus row x query x m) triple — the explode
    multiplies by |m-levels| (a constant 5), ranks are per-(m, qid)
    windows over candidate-bounded groups, and recall reduces to
    small-integer hit counts. Ranking orders by the 6-dp ROUNDED
    cosine with vec_id tie-break so the top-10 cut agrees across
    engines (the ann_recall_at_k recipe). At 100 TB the panel is a
    held-out sample: the audit needs truth for Q queries, not the
    corpus."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    c = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    q = c.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("v").alias("qv")
    )
    ms = F.explode(F.array(*[F.lit(m) for m in _MRL_MS])).alias("m")
    # r13 second pass (per-task work): cosine(tv, tq)
    # evaluated THREE 64-dim-bounded folds per (row × query × m)
    # triple, and the self-norms are redundant across rows: the
    # corpus-side norm depends only on (vec_id, m) — it was
    # recomputed once per query — and the query-side norm only on
    # (qid, m) — once per corpus row. Explode the corpus by m FIRST
    # and hoist sqrt(dot(tv, tv)) there; precompute the 50-row
    # (qid, m) panel with its norms and broadcast-join it on m. The
    # scored quotient evaluates the exact same IEEE expression
    # dot/(sqrt(aa)·sqrt(bb)), each factor computed once.
    cm = c.select("vec_id", ms, "v").select(
        "vec_id", "m", F.expr("slice(v, 1, m)").alias("tv")
    )
    cm = cm.select(
        "vec_id", "m", "tv", F.sqrt(dot(F.col("tv"), F.col("tv"))).alias("nv")
    )
    qm = q.select("qid", ms, "qv").select(
        "qid", "m", F.expr("slice(qv, 1, m)").alias("tq")
    )
    qm = qm.select(
        "qid", "m", "tq", F.sqrt(dot(F.col("tq"), F.col("tq"))).alias("nq")
    )
    sim_r = round_col(
        dot(F.col("tv"), F.col("tq")) / (F.col("nv") * F.col("nq")), 6
    )
    w = Window.partitionBy("m", "qid").orderBy(F.desc("sim_r"), "vec_id")
    topk = (
        cm.join(F.broadcast(qm), "m")
        .filter(F.col("vec_id") != F.col("qid"))
        .select("m", "qid", "vec_id", sim_r.alias("sim_r"))
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 10)
        .select("m", "qid", "vec_id")
    )
    topk = topk.localCheckpoint()  # gt leg + per-m legs share one ranking pass
    gt = topk.filter(F.col("m") == _MRL_MS[-1]).select(
        F.col("qid").alias("g_qid"), F.col("vec_id").alias("g_vec")
    )
    per = (
        topk.join(
            gt,
            (topk.qid == gt.g_qid) & (topk.vec_id == gt.g_vec),
            "left",
        )
        .groupBy("m", "qid")
        .agg(F.count("g_vec").alias("hits"))
    )
    return (
        per.groupBy("m")
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            round_col(F.avg(F.col("hits") / F.lit(10.0)), 4).alias(
                "avg_recall_at_10"
            ),
            round_col(F.min(F.col("hits") / F.lit(10.0)), 4).alias(
                "min_recall_at_10"
            ),
        )
        .select(
            F.col("m").cast("int").alias("m"),
            "n_queries",
            "avg_recall_at_10",
            "min_recall_at_10",
        )
        .orderBy("m")
    )


@query(
    "loo_source_ablation",
    oracle=f"""
    WITH f AS (
        SELECT source, {_QC_RAW['nt']} AS nt, {_QC_TEACHER_Z} AS z
        FROM documents
    ),
    per AS (
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(nt) AS BIGINT) AS toks, sum(z) AS sumz
        FROM f GROUP BY source
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS nn,
               CAST(sum(toks) AS BIGINT) AS tt,
               sum(sumz) AS sz
        FROM per
    ),
    vocab AS (
        SELECT source AS only_src,
               CAST(count(*) AS BIGINT) AS vocab_unique_owned
        FROM (
            SELECT token, min(source) AS source
            FROM (
                SELECT DISTINCT source,
                       unnest(string_split(text, ' ')) AS token
                FROM documents
            )
            WHERE token <> ''
            GROUP BY token HAVING count(DISTINCT source) = 1
        )
        GROUP BY source
    )
    SELECT p.source, p.n_docs,
           {round_sql(
               "(t.sz - p.sumz) / CAST(t.nn - p.n_docs AS DOUBLE)", 6)}
               AS loo_mean_quality,
           {round_sql(
               "(t.sz - p.sumz) / CAST(t.nn - p.n_docs AS DOUBLE)"
               " - t.sz / CAST(t.nn AS DOUBLE)", 6)} AS quality_delta,
           {round_sql(
               "CAST(p.toks AS DOUBLE) / CAST(t.tt AS DOUBLE)", 6)}
               AS token_share,
           coalesce(v.vocab_unique_owned, 0) AS vocab_unique_owned
    FROM per p CROSS JOIN tot t
    LEFT JOIN vocab v ON v.only_src = p.source
    ORDER BY p.source
    """,
)
def loo_source_ablation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation — "which source moves the
    needle": for every source, the corpus mean quality (the teacher
    model's z score) AFTER removing that source, its delta vs the
    full-corpus mean (positive delta = removing the source RAISES
    corpus quality, i.e. the source is a drag), the source's token
    share (what the ablation costs in volume), and its unique
    vocabulary ownership (distinct tokens that vanish entirely with
    it — the coverage the ablation destroys). The first-order data-
    attribution readout a curation team consults before dropping or
    reweighting a source; the closed-form sibling of retraining-based
    valuation (Data Shapley's trivial linear-statistic case).

    Shape: everything is closed-form from ONE corpus pass — per-source
    (count, token-sum, quality-sum) aggregates plus a broadcast 1-row
    grand total turn each leave-one-out mean into arithmetic on
    already-reduced scalars (never K corpus rescans); the vocabulary
    leg is one distinct (token, source) projection with a
    single-owner filter. All doubles 6-dp portably rounded."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split("text", " "), lambda t: t != "")
    nt = F.size(toks)
    sw_hits = F.size(F.filter(toks, lambda t: (t == "the") | (t == "a")))
    x1_raw = nt / F.lit(10.0)
    x2_raw = F.col("n_chars").cast("double") / nt
    x3_raw = sw_hits.cast("double") / nt
    z = (
        F.lit(-1.0)
        + F.lit(0.02) * x1_raw
        + F.lit(0.1) * x2_raw
        + F.lit(2.0) * x3_raw
    )
    f = d.select("source", nt.alias("nt"), z.alias("z"))
    per = f.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("toks"),
        F.sum("z").alias("sumz"),
    )
    tot = per.agg(
        F.sum("n_docs").alias("nn"),
        F.sum("toks").alias("tt"),
        F.sum("sumz").alias("sz"),
    )
    vocab = (
        d.select("source", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .distinct()
        .groupBy("token")
        .agg(
            F.countDistinct("source").alias("n_src"),
            F.min("source").alias("only_src"),
        )
        .filter(F.col("n_src") == 1)
        .groupBy("only_src")
        .agg(F.count(F.lit(1)).alias("vocab_unique_owned"))
    )
    loo = (F.col("sz") - F.col("sumz")) / (
        (F.col("nn") - F.col("n_docs")).cast("double")
    )
    full = F.col("sz") / F.col("nn").cast("double")
    return (
        per.crossJoin(F.broadcast(tot))
        .join(vocab, per.source == vocab.only_src, "left")
        .select(
            "source",
            "n_docs",
            round_col(loo, 6).alias("loo_mean_quality"),
            round_col(loo - full, 6).alias("quality_delta"),
            round_col(
                F.col("toks").cast("double") / F.col("tt").cast("double"), 6
            ).alias("token_share"),
            F.coalesce("vocab_unique_owned", F.lit(0)).alias(
                "vocab_unique_owned"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# r13 additions: embedding-space benchmark decontamination.
# ---------------------------------------------------------------------------

_SDE_COS_SQL = (
    "list_dot_product(v, pv) / "
    "(sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(pv, pv)))"
)


@query(
    "semantic_decontaminate_embed",
    oracle=f"""
    WITH c AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    p AS (SELECT vec_id AS eid, v AS pv FROM c WHERE vec_id < 64),
    sims AS (
        SELECT c.vec_id, p.eid,
               {round_sql(_SDE_COS_SQL, 6)} AS cos_r
        FROM c, p WHERE c.vec_id >= 64
    ),
    best AS (
        SELECT vec_id,
               min({{'nc': -cos_r, 'eid': eid}}) AS b
        FROM sims GROUP BY vec_id
    ),
    flat AS (
        SELECT vec_id, -(b).nc AS max_cos_r, (b).eid AS nearest_eval_id
        FROM best
    )
    SELECT vec_id, CAST(nearest_eval_id AS BIGINT) AS nearest_eval_id,
           {stable_render_sql("max_cos_r", 6)} AS max_cos
    FROM flat
    ORDER BY max_cos_r DESC, vec_id
    LIMIT 50
    """,
)
def semantic_decontaminate_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space benchmark decontamination: rank corpus vectors
    by their maximum cosine similarity to a FIXED held-out eval panel
    (vec_id < 64, standing in for an embedded benchmark suite) — the
    semantic complement of `decontaminate_ngram_overlap`, which only
    catches verbatim n-gram carryover; paraphrased or re-templated
    eval leakage survives lexical checks but not this one. Top-50
    closest corpus/eval pairs, each with its nearest panel member.

    Shape: the panel is a fixed-size broadcast (|panel| is a property
    of the benchmark suite, NOT of the corpus), so the scan is one
    corpus-parallel pass costing O(N * |panel|) with NO corpus-sized
    shuffle: the per-vector argmax folds into a map-side-combinable
    min(struct(-cos, eid)) aggregate — only (vec_id, best) pairs
    shuffle, and the TakeOrdered top-50 cut merges per-partition
    heaps. Ranking orders by the 6-dp ROUNDED cosine with vec_id
    tie-break so the cut agrees across engines. At 100 TB the panel
    grows to the full eval registry (thousands of vectors), still
    broadcastable; docs flagged here are dropped or routed to the
    n-gram verifier before training."""
    e = load_table(spark, sf_dir, "embeddings")
    c = e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"))
    # r13 second pass (per-task work): cosine(v, pv)
    # re-evaluated sqrt(dot(v, v)) once per (vector, panel) pair —
    # 64 redundant self-norm folds per corpus vector, across rows
    # where codegen subexpression elimination cannot help. Hoist both
    # self-norms to projected columns BEFORE the crossJoin; the
    # quotient evaluates the exact same IEEE expression
    # dot/(sqrt(aa)·sqrt(bb)), each factor just computed once.
    panel = c.filter(F.col("vec_id") < 64).select(
        F.col("vec_id").alias("eid"),
        F.col("v").alias("pv"),
        F.sqrt(dot(F.col("v"), F.col("v"))).alias("np"),
    )
    cos_r = round_col(
        dot(F.col("v"), F.col("pv")) / (F.col("nv") * F.col("np")), 6
    )
    best = (
        c.filter(F.col("vec_id") >= 64)
        .select(
            "vec_id", "v", F.sqrt(dot(F.col("v"), F.col("v"))).alias("nv")
        )
        .crossJoin(F.broadcast(panel))
        .select("vec_id", F.col("eid"), (-cos_r).alias("neg_cos"))
        .groupBy("vec_id")
        .agg(F.min(F.struct("neg_cos", "eid")).alias("b"))
        .select(
            "vec_id",
            (-F.col("b.neg_cos")).alias("max_cos_r"),
            F.col("b.eid").cast("long").alias("nearest_eval_id"),
        )
    )
    return (
        best.orderBy(F.desc("max_cos_r"), "vec_id")
        .limit(50)
        .select(
            "vec_id",
            "nearest_eval_id",
            stable_render(F.col("max_cos_r"), 6).alias("max_cos"),
        )
    )
