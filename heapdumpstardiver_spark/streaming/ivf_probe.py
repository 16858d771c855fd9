"""Streaming ANN probes against the persisted IVF index — the vector
twin of the text-band (``streaming/lsh_dedup.py``) and image-pHash
(``streaming/phash_dedup.py``) streaming faces: a stream of QUERY
vectors drains in micro-batches, each batch probing the frozen,
partition-pruned index built by ``ann_index.build_ivf_index`` and
committing per-query top-k verdicts pinned row-identical to the batch
``probe_ivf_index``.

Batched probe shape (the part worth copying at 100 TB): centroid
ranking stays pure driver arithmetic on the k-row index METADATA
(k·d floats per query — never data), but the inverted-list scan is
shared across the whole micro-batch — the union of every query's
nprobe cluster ids becomes ONE ``cid IN (...)`` read (Hive partition
pruning, same plan the batch probe pins in ``tests/test_ann_index.py``),
and per-query candidate filtering + exact cosine ranking run as a
single broadcast-join + window over that one scan. A micro-batch of
q queries costs one pruned scan + O(q · list) ranking, not q scans.

Sink idempotence: verdicts land in ``batch=<id>`` partitions with
overwrite, so foreachBatch's at-least-once replay re-delivers a
byte-identical no-op (the contract ``test_streaming.py`` pins for
every streaming twin).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ann_index import read_centroids
from ..exprs import dot, round_col, self_dot

#: query-vector stream schema: an id plus the embedding to probe with
QUERY_SCHEMA = "qid long, qv array<double>"


def _chosen_cids(
    centroids: list[tuple[int, list[float]]], qv: list[float], nprobe: int
) -> list[int]:
    """The batch probe's centroid selection, verbatim
    (``ann_index.probe_ivf_index``): squared euclidean on driver-side
    metadata, ties to the smaller cid."""
    qd = {
        cid: self_dot(cv)
        - 2.0 * sum(a * b for a, b in zip(qv, cv))
        + self_dot(qv)
        for cid, cv in centroids
    }
    return [cid for cid, _d in sorted(qd.items(), key=lambda kv: (kv[1], kv[0]))][
        :nprobe
    ]


def probe_ivf_index_batch(
    spark: SparkSession,
    queries: list[tuple[int, list[float]]],
    index_dir: str,
    nprobe: int = 2,
    topk: int = 10,
) -> DataFrame:
    """Top-k verdicts for a batch of (qid, vector) probes:
    (qid, vec_id, cid, cos_sim), each qid's rows exactly the rows
    ``probe_ivf_index`` returns for that vector (pinned in
    ``tests/test_streaming.py``).

    One pruned scan serves the whole batch: assignments are read once
    with the UNION of all chosen cluster ids, per-query candidacy is
    a broadcast (qid, cid) join, and the exact cosine top-k is one
    window per qid with the batch probe's ordering (cos desc, vec_id).
    """
    centroids = read_centroids(spark, index_dir)
    chosen = {qid: _chosen_cids(centroids, qv, nprobe) for qid, qv in queries}
    all_cids = sorted({cid for cids in chosen.values() for cid in cids})
    asg = spark.read.parquet(os.path.join(index_dir, "assignments")).filter(
        F.col("cid").isin(all_cids)
    )
    cand_meta = spark.createDataFrame(
        [(qid, cid) for qid, cids in chosen.items() for cid in cids],
        "qid long, cid int",
    )
    qdf = spark.createDataFrame(
        [(qid, qv, float(self_dot(qv)) ** 0.5) for qid, qv in queries],
        "qid long, qv array<double>, qn double",
    )
    from pyspark.sql import Window

    cos = round_col(dot(F.col("v"), F.col("qv")) / (F.col("nrm") * F.col("qn")), 4)
    w = Window.partitionBy("qid").orderBy(F.desc("cos_sim"), "vec_id")
    return (
        asg.join(F.broadcast(cand_meta), "cid")
        .join(F.broadcast(qdf), "qid")
        .select(
            "qid",
            "vec_id",
            F.col("cid").cast("int").alias("cid"),
            cos.alias("cos_sim"),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= topk)
        .drop("rk")
    )


def streaming_ivf_probe(
    spark: SparkSession,
    stream_queries: DataFrame,
    index_dir: str,
    out_dir: str,
    checkpoint_dir: str,
    nprobe: int = 2,
    topk: int = 10,
):
    """Drain *stream_queries* (QUERY_SCHEMA rows) with availableNow,
    probing each micro-batch against the persisted IVF index and
    committing verdicts to a ``batch=<id>`` partition (overwrite →
    replay-idempotent). The index stays frozen under the stream —
    appends/rebuilds are the batch lifecycle's job
    (``ann_index.append_to_ivf_index``), exactly like the corpus band
    index under ``streaming_lsh_dedup``."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        rows = [
            (int(r["qid"]), [float(x) for x in r["qv"]])
            for r in batch.select("qid", "qv").collect()
        ]
        if not rows:
            return
        verdicts = probe_ivf_index_batch(
            spark, rows, index_dir, nprobe=nprobe, topk=topk
        )
        verdicts.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return (
        stream_queries.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
