"""Streaming near-duplicate dedup against a persisted corpus index —
the continuous face of ``queries/llm.incremental_dedup_lsh_batch``
(which covers the daily-batch shape): newly crawled documents arrive
as a stream, each micro-batch computes its own MinHash band
signatures, probes the STATIC corpus band index by (band, bucket),
exact-verifies candidates by trigram Jaccard (integer-form threshold
2·inter ≥ union), and commits per-batch verdict files.

The corpus side is written ONCE by ``build_corpus_index`` — band
membership capped at BAND_BUCKET_CAP per (band, bucket) at write time
(hot-bucket guard), plus the per-doc shingle sets and sizes the
verify stage probes. The stream side never rescans it; a micro-batch
costs O(batch) + candidate-bounded verify regardless of corpus size.

Sink idempotence: verdicts are written to ``batch=<id>`` partition
directories with overwrite, so foreachBatch's at-least-once replay
re-delivers a byte-identical no-op (the `cdc_apply` discipline).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import swap_in
from ..exprs import minhash_bands, shingle_hashes
from ..queries.llm import band_probe, cap_bands

N_HASHES = 8
N_BANDS = 4


def doc_shingles(docs: DataFrame) -> DataFrame:
    """Distinct (doc_id, shingle) rows for a (doc_id, text) relation
    (trigram md5 shingles)."""
    toks = docs.select("doc_id", F.split("text", " ").alias("tokens")).filter(
        F.size("tokens") >= 3
    )
    return toks.select(
        "doc_id", F.explode(shingle_hashes("tokens", 3)).alias("shingle")
    ).distinct()


def bands_from_shingles(sh: DataFrame) -> DataFrame:
    """Band rows from a (doc_id, shingle) relation — the same
    8-hash/4-band construction as the batch operator (lexicographic
    min over salted md5 hex). Split from `doc_shingles` so a
    materialized (localCheckpointed) shingle relation feeds BOTH
    artifacts without re-deriving the shingle pipeline (r13: each
    extra lineage paid tokenize+explode+distinct again)."""
    sig, bb = minhash_bands(lambda h: F.min(h(F.col("shingle"))), N_HASHES, N_BANDS)
    return (
        sh.groupBy("doc_id")
        .agg(*sig)
        .select("doc_id", bb)
        .select("doc_id", "bb.band", "bb.bucket")
    )


def build_corpus_index(spark: SparkSession, corpus: DataFrame, index_dir: str) -> None:
    """Persist the probe-side artifacts: capped band index, shingle
    sets, and shingle-set sizes. In production this is the corpus
    pipeline's side output, bucketed by (band, bucket) / doc_id."""
    # r13: the shingles table is written ANYWAY, so write
    # it FIRST and derive bands + sizes from reading it back — one
    # shingle pipeline pass instead of three (each write is its own
    # job, so the tokenize+explode+distinct lineage re-ran per
    # artifact). Reading the compressed parquet back costs far less
    # than either the recompute or a block-manager localCheckpoint of
    # the exploded rows (the checkpoint variant measured 31.4 s vs
    # 28.4 baseline at sf1 — memory pressure; this shape wins).
    doc_shingles(corpus).write.mode("overwrite").parquet(
        os.path.join(index_dir, "shingles")
    )
    sh = spark.read.parquet(os.path.join(index_dir, "shingles"))
    cap_bands(bands_from_shingles(sh)).write.mode("overwrite").parquet(
        os.path.join(index_dir, "bands")
    )
    sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")).write.mode(
        "overwrite"
    ).parquet(os.path.join(index_dir, "sizes"))


def flag_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_dir: str,
    signatures: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Per-doc verdicts for one batch: (doc_id, n_candidates, is_dup).
    is_dup = some corpus doc's trigram Jaccard clears 0.5, compared in
    integer form. Docs too short to shingle have no candidates and
    are kept. Pass ``signatures=(shingles, bands)`` to reuse a
    precomputed signature pass (the append path needs the same one)."""
    idx = spark.read.parquet(os.path.join(index_dir, "bands"))
    corpus_sh = spark.read.parquet(os.path.join(index_dir, "shingles"))
    corpus_sizes = spark.read.parquet(os.path.join(index_dir, "sizes"))
    if signatures:
        sh, bands = signatures
    else:
        # Materialize once: sh feeds the verify join AND sizes, bands
        # the probe — without the checkpoint each consumer re-ran the
        # batch shingle pipeline (r13).
        sh = doc_shingles(batch_docs).localCheckpoint()
        bands = bands_from_shingles(sh)
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    cand = band_probe(bands, idx)
    sb, sc = sh.alias("sb"), corpus_sh.alias("sc")
    inter = (
        cand.join(sb, F.col("b_doc") == F.col("sb.doc_id"))
        .join(
            sc,
            (F.col("c_doc") == F.col("sc.doc_id"))
            & (F.col("sb.shingle") == F.col("sc.shingle")),
        )
        .groupBy("b_doc", "c_doc")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    zb = sizes.alias("zb")
    zc = corpus_sizes.alias("zc")
    dup = (
        inter.join(zb, F.col("b_doc") == F.col("zb.doc_id"))
        .join(zc, F.col("c_doc") == F.col("zc.doc_id"))
        .filter(
            2 * F.col("inter")
            >= F.col("zb.n_sh") + F.col("zc.n_sh") - F.col("inter")
        )
        .select("b_doc")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    n_cand = cand.groupBy("b_doc").agg(F.count(F.lit(1)).alias("n_candidates"))
    return (
        batch_docs.select("doc_id")
        .join(n_cand, F.col("doc_id") == n_cand["b_doc"], "left")
        .drop(n_cand["b_doc"])
        .join(dup, F.col("doc_id") == dup["b_doc"], "left")
        .drop(dup["b_doc"])
        .select(
            "doc_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias("n_candidates"),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


def streaming_lsh_dedup(
    spark: SparkSession,
    stream_docs: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Drain *stream_docs* with availableNow, flagging each micro-batch
    against the corpus index and committing verdicts to a
    ``batch=<id>`` partition (overwrite → replay-idempotent)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        flags = flag_batch(spark, batch, index_dir)
        flags.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return (
        stream_docs.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def append_to_corpus_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    signatures: tuple[DataFrame, DataFrame] | None = None,
) -> None:
    """APPEND a batch of (verified-unique, previously unseen doc_id)
    documents to a persisted corpus index — the day-N side of the
    crawl loop, so tomorrow's batch dedups against everything through
    today without ever rebuilding the corpus side.

    LSM-style append-only segments: the batch's band rows are capped
    per (band, bucket) WITHIN the batch and appended; shingles and
    sizes append uncapped (they are per-doc, the verify stage probes
    them by candidate doc_id). Until the next compaction the bands
    table is therefore a per-segment-capped SUPERSET of the canonical
    one-shot index: probes see every candidate the canonical index
    would surface (no false negatives) with fan-out bounded by
    CAP x n_segments per bucket. `compact_corpus_index` restores the
    canonical form exactly.

    The batch-local cap is LOSSLESS w.r.t. the canonical rule: a row
    dropped here ranks > CAP among its own batch's bucket members, so
    it ranks > CAP in any union containing that batch — the global
    re-cap at compaction could never have kept it."""
    if signatures:
        sh, bands = signatures
    else:
        sh = doc_shingles(docs).localCheckpoint()
        bands = bands_from_shingles(sh)
    cap_bands(bands).write.mode("append").parquet(
        os.path.join(index_dir, "bands")
    )
    sh.write.mode("append").parquet(os.path.join(index_dir, "shingles"))
    sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh")).write.mode(
        "append"
    ).parquet(os.path.join(index_dir, "sizes"))


def compact_corpus_index(
    spark: SparkSession, index_dir: str, full: bool = False
) -> None:
    """Rewrite the index into canonical one-shot form. Only the BANDS
    table carries append-time divergence (per-segment caps), so the
    default pass re-caps and rewrites bands alone — after it the
    whole index is row-identical to `build_corpus_index` over the
    union of every appended corpus (shingles/sizes appends are
    already row-canonical; the parity `tests/test_streaming.py`
    pins all three tables). ``full=True`` additionally rewrites
    shingles and sizes to coalesce accumulated small segment files —
    a file-layout optimization, not a semantics change. Rewrites go
    through a staging directory and an atomic rename, so a probe
    racing the compaction reads either the old or the new layout,
    never a partial one."""
    tables = [("bands", cap_bands)]
    if full:
        tables += [("shingles", None), ("sizes", None)]
    for name, transform in tables:
        path = os.path.join(index_dir, name)
        df = spark.read.parquet(path)
        if transform is not None:
            df = transform(df)
        swap_in(df, path)


def dedup_and_append_batch(
    spark: SparkSession, batch_docs: DataFrame, index_dir: str
) -> DataFrame:
    """The full day-N crawl-loop step: flag the batch against the
    index (day 1..N-1), append only the verified-unique survivors,
    and return the materialized per-doc verdicts. In-batch duplicates
    of a flagged doc are still appended (in-batch dedup is
    `incremental_dedup_lsh_batch`'s keep-first stage — compose them
    for the complete pipeline)."""
    # One signature pass serves BOTH the probe and the append
    # (localCheckpoint materializes the batch-sized relations so the
    # second use does not recompute shingling); bands derive FROM the
    # checkpointed shingles, so their own checkpoint materializes only
    # the groupBy+explode, not a second shingle pipeline (r13).
    # Verdicts materialize BEFORE the index mutates: the flags plan
    # lazily scans the index directories, so a post-append
    # re-execution would race its own appended rows. All relations
    # stay distributed (never a driver collect).
    sh = doc_shingles(batch_docs).localCheckpoint()
    bands = bands_from_shingles(sh).localCheckpoint()
    flags = flag_batch(
        spark, batch_docs, index_dir, signatures=(sh, bands)
    ).localCheckpoint()
    kept_ids = flags.filter(~F.col("is_dup")).select("doc_id")
    append_to_corpus_index(
        spark,
        batch_docs.join(kept_ids, "doc_id"),
        index_dir,
        signatures=(sh.join(kept_ids, "doc_id"), bands.join(kept_ids, "doc_id")),
    )
    return flags
