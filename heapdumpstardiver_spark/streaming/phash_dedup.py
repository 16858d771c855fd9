"""Streaming IMAGE near-duplicate dedup against a persisted pHash
index — the image twin of ``streaming/lsh_dedup.py``, proving that
the persisted-index lifecycle (build once → probe per micro-batch →
append survivors → compact) applies verbatim to the multimodal
columns: newly crawled images arrive as a stream of media rows, each
micro-batch pHashes its payloads (``queries.media.phash_hashes`` —
decode + integer DCT in one Arrow stage), probes the STATIC band
index by (k, bv), exact-verifies candidates by full 63-bit Hamming
distance, and commits per-batch verdict files.

Index layout (``index_dir``): ``bands`` — (media_id, k, bv) rows,
membership capped at BAND_BUCKET_CAP per (k, bv) at write time;
``hashes`` — (media_id, h) for the verify stage. Appends are
LSM-style segment-capped (the lsh_dedup lossless-cap lemma applies
unchanged: a batch-dropped band row can never survive the global
smallest-media_id re-cap), ``compact_phash_index`` restores the
canonical one-shot form.

Sink idempotence: verdicts land in ``batch=<id>`` partitions with
overwrite, so foreachBatch's at-least-once replay re-delivers a
byte-identical no-op."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import swap_in
from ..queries.llm import BAND_BUCKET_CAP
from ..queries.media import _PHASH_HAM_T, phash_bands, phash_hashes


def _capped_phash_bands(bands: DataFrame) -> DataFrame:
    from pyspark.sql import Window

    wcap = Window.partitionBy("k", "bv").orderBy("media_id")
    return (
        bands.select("media_id", "k", "bv")
        .withColumn("rnb", F.row_number().over(wcap))
        .filter(F.col("rnb") <= BAND_BUCKET_CAP)
        .drop("rnb")
    )


def build_phash_index(
    spark: SparkSession, corpus: DataFrame, index_dir: str
) -> None:
    """Persist the probe-side artifacts for a media corpus: capped
    band index + per-image hashes. The hashes table is written FIRST
    and the band index derives from reading it back (r13, the
    lsh_dedup build discipline): the write is the materialization, so
    the decode+DCT pass runs once instead of once per artifact."""
    phash_hashes(corpus).write.mode("overwrite").parquet(
        os.path.join(index_dir, "hashes")
    )
    hashes = spark.read.parquet(os.path.join(index_dir, "hashes"))
    _capped_phash_bands(phash_bands(hashes)).write.mode("overwrite").parquet(
        os.path.join(index_dir, "bands")
    )


def append_to_phash_index(
    spark: SparkSession,
    docs: DataFrame,
    index_dir: str,
    hashes: DataFrame | None = None,
) -> None:
    """Segment-capped append (see lsh_dedup.append_to_corpus_index —
    the same lossless-cap argument). Pass ``hashes`` to reuse a
    precomputed decode+hash pass."""
    # checkpoint the fallback so the two appends share one decode+DCT
    # pass (append mode cannot use the build's write-then-read-back)
    h = hashes if hashes is not None else phash_hashes(docs).localCheckpoint()
    _capped_phash_bands(phash_bands(h)).write.mode("append").parquet(
        os.path.join(index_dir, "bands")
    )
    h.write.mode("append").parquet(os.path.join(index_dir, "hashes"))


def compact_phash_index(spark: SparkSession, index_dir: str) -> None:
    """Globally re-cap the band index (canonical smallest-media_id
    rule) via staging + atomic rename; hashes appends are already
    row-canonical."""
    path = os.path.join(index_dir, "bands")
    swap_in(_capped_phash_bands(spark.read.parquet(path)), path)


def flag_batch_images(
    spark: SparkSession,
    batch_media: DataFrame,
    index_dir: str,
    hashes: DataFrame | None = None,
) -> DataFrame:
    """Per-image verdicts for one batch: (media_id, n_candidates,
    is_dup). is_dup = some corpus image within Hamming <=
    _PHASH_HAM_T of the batch image's pHash; candidates come from the
    capped band index, so a micro-batch costs O(batch) + candidate-
    bounded verify regardless of corpus size."""
    idx = spark.read.parquet(os.path.join(index_dir, "bands"))
    corpus_h = spark.read.parquet(os.path.join(index_dir, "hashes"))
    # fallback checkpoint: h feeds the band probe AND the verify join —
    # uncheckpointed, each consumer re-ran the decode+DCT pass (r13)
    h = (
        hashes
        if hashes is not None
        else phash_hashes(batch_media).localCheckpoint()
    )
    bands = phash_bands(h)
    b, c = bands.alias("b"), idx.alias("c")
    cand = (
        b.join(
            c,
            (F.col("b.k") == F.col("c.k")) & (F.col("b.bv") == F.col("c.bv")),
        )
        .select(
            F.col("b.media_id").alias("b_id"), F.col("c.media_id").alias("c_id")
        )
        .distinct()
    )
    hb = h.select(F.col("media_id").alias("b_id"), F.col("h").alias("h_b"))
    hc = corpus_h.select(
        F.col("media_id").alias("c_id"), F.col("h").alias("h_c")
    )
    ham = F.bit_count(F.col("h_b").bitwiseXOR(F.col("h_c")))
    dup = (
        cand.join(hb, "b_id")
        .join(hc, "c_id")
        .filter(ham <= _PHASH_HAM_T)
        .select("b_id")
        .distinct()
        .withColumn("is_dup", F.lit(True))
    )
    n_cand = cand.groupBy("b_id").agg(F.count(F.lit(1)).alias("n_candidates"))
    base = batch_media.select(F.col("media_id").cast("int").alias("media_id"))
    return (
        base.join(n_cand, base.media_id == n_cand["b_id"], "left")
        .drop(n_cand["b_id"])
        .join(dup, base.media_id == dup["b_id"], "left")
        .drop(dup["b_id"])
        .select(
            "media_id",
            F.coalesce("n_candidates", F.lit(0)).cast("long").alias(
                "n_candidates"
            ),
            F.coalesce("is_dup", F.lit(False)).alias("is_dup"),
        )
    )


def dedup_and_append_image_batch(
    spark: SparkSession, batch_media: DataFrame, index_dir: str
) -> DataFrame:
    """The day-N crawl-loop step for images: flag, append verified-
    unique survivors (one shared decode+hash pass), return the
    materialized verdicts."""
    h = phash_hashes(batch_media).localCheckpoint()
    flags = flag_batch_images(
        spark, batch_media, index_dir, hashes=h
    ).localCheckpoint()
    kept_ids = flags.filter(~F.col("is_dup")).select("media_id")
    append_to_phash_index(
        spark,
        batch_media.join(kept_ids, "media_id"),
        index_dir,
        hashes=h.join(kept_ids, "media_id"),
    )
    return flags


def streaming_phash_dedup(
    spark: SparkSession,
    stream_media: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
):
    """Drain *stream_media* with availableNow, flagging each
    micro-batch against the pHash index and committing verdicts to a
    ``batch=<id>`` partition (overwrite → replay-idempotent)."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        flags = flag_batch_images(spark, batch, index_dir)
        flags.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return (
        stream_media.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
