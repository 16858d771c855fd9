"""Persisted IVF vector index: build / probe / append lifecycle.

The ANN-index twin of the persisted dedup indexes
(``streaming/lsh_dedup.py`` for text bands, ``streaming/phash_dedup.py``
for image hashes): the expensive corpus pass happens ONCE at build
time, and every later operation touches only what it must.

- ``build_ivf_index`` trains k centroids (exact Lloyd rounds with the
  deterministic init and 6-dp portably-rounded updates of
  ``kmeans_embedding_clusters``) and writes two parquet artifacts:
  ``centroids`` (k rows — index METADATA) and ``assignments``
  partitioned by ``cid`` — so a probe's cluster selection becomes
  Hive partition pruning, the physical realization of "IVF visits
  nprobe inverted lists".
- ``probe_ivf_index`` ranks the k centroid rows DRIVER-side (k·d
  floats — metadata, not data), then scans ONLY the nprobe chosen
  partitions for the exact cosine top-k. At 100 TB the unchosen
  partitions are never read; the plan shows ``PartitionFilters``
  (pinned in ``tests/test_ann_index.py``).
- ``append_to_ivf_index`` assigns new vectors against the FROZEN
  centroids and appends their partitions — the standard IVF append
  (centroids drift only at the next rebuild). N appends followed by a
  probe are row-identical to a one-shot build of the union under the
  same centroids (parity-pinned), so a crawl loop can grow the store
  daily without rescanning it.

Per-vector norms are materialized at write time, so probes never
recompute corpus-side norms.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .exprs import dot, fold_dot, lit_vec, nearest_centroid, round_col, self_dot

IVF_K = 4
IVF_ROUNDS = 2


def _assign(vecs: DataFrame, centroids: list[tuple[int, list[float]]]) -> DataFrame:
    """Argmin-centroid assignment via one greatest() projection —
    ties break toward the smaller cid (negated-cid struct field)."""
    return vecs.withColumn(
        "cid", nearest_centroid(F.col("v"), centroids).getField("cid")
    )


def train_centroids(
    emb: DataFrame, k: int = IVF_K, rounds: int = IVF_ROUNDS
) -> list[tuple[int, list[float]]]:
    """Exact Lloyd training with deterministic init (the k smallest
    vec_ids) and 6-dp portably-rounded mean updates. Returns k·d
    driver metadata. ``emb`` must have (vec_id, embedding)."""
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).localCheckpoint()
    return train_centroids_on_v(v, k, rounds)


def train_centroids_on_v(
    v: DataFrame, k: int = IVF_K, rounds: int = IVF_ROUNDS
) -> list[tuple[int, list[float]]]:
    """`train_centroids` on an already cast-and-checkpointed
    (vec_id, v) relation — lets composed builds (IVF+PQ) reuse one
    checkpoint for coarse and codebook training."""
    # ONE TakeOrdered pass fetches the k init rows with their vectors
    # (r13: the previous ids-then-isin shape cost a second corpus
    # pass per build for data the first pass already ranked).
    cents = sorted(
        (int(r["vec_id"]), list(r["v"]))
        for r in v.orderBy("vec_id").limit(k).collect()
    )
    cents = [(i, cv) for i, (_vid, cv) in enumerate(cents)]
    for _ in range(rounds):
        rows = (
            _assign(v, cents)
            .select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(round_col(F.avg("val"), 6).alias("val"))
            .collect()
        )
        by: dict[int, dict[int, float]] = {}
        for r in rows:
            by.setdefault(r["cid"], {})[r["pos"]] = r["val"]
        # a cluster that empties during a round is absent from the
        # aggregate: carry its previous centroid forward so k is
        # invariant across rounds (the index always has exactly k
        # inverted lists, matching probe_ivf_index's nprobe contract)
        prev = dict(cents)
        cents = sorted(
            (cid, [dims[p] for p in range(len(dims))] if dims else prev[cid])
            for cid, dims in ((cid, by.get(cid, {})) for cid, _ in cents)
        )
    return cents


def build_ivf_index(
    spark: SparkSession,
    emb: DataFrame,
    index_dir: str,
    centroids: list[tuple[int, list[float]]] | None = None,
) -> list[tuple[int, list[float]]]:
    """Train (unless given frozen centroids) and persist the index."""
    if centroids is None:
        centroids = train_centroids(emb)
    spark.createDataFrame(
        [(cid, cv) for cid, cv in centroids], "cid int, cv array<double>"
    ).repartition(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids")
    )
    vecs = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    asg = _assign(vecs, centroids).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    asg.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(index_dir, "assignments")
    )
    return centroids


def read_centroids(spark: SparkSession, index_dir: str) -> list[tuple[int, list[float]]]:
    rows = spark.read.parquet(os.path.join(index_dir, "centroids")).collect()
    return sorted((int(r["cid"]), list(r["cv"])) for r in rows)


def append_to_ivf_index(
    spark: SparkSession, new_emb: DataFrame, index_dir: str
) -> None:
    """Assign new vectors against the frozen centroids and append
    their partitions — O(batch), the store is never rescanned."""
    centroids = read_centroids(spark, index_dir)
    vecs = new_emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    asg = _assign(vecs, centroids).withColumn(
        "nrm", F.sqrt(dot(F.col("v"), F.col("v")))
    )
    asg.write.mode("append").partitionBy("cid").parquet(
        os.path.join(index_dir, "assignments")
    )


PQ_M = 4  # subspaces
PQ_DSUB = 16  # dims per subspace (4 x 16 = the 64-dim corpus)
PQ_K = 4  # codebook entries per subspace


def train_pq_codebooks(v: DataFrame) -> list[list[tuple[int, list[float]]]]:
    """Per-subspace product-quantization codebooks: one exact Lloyd
    update from deterministic init (the vectors with vec_id < PQ_K,
    cid = vec_id) with 6-dp portably-rounded means — the
    `similarity_pq_adc` training conventions, so a DuckDB oracle can
    replay the codebooks bit-for-bit. ``v`` must have (vec_id, v).
    Returns PQ_M sorted (cid, centroid) lists of driver metadata
    (m x k x dsub floats)."""
    # one collect covers all PQ_M inits (the init vectors are shared,
    # sliced driver-side), and one wide aggregation computes every
    # subspace's means — 2 Spark jobs total instead of 2 per subspace
    init_full = sorted(
        (int(r["vec_id"]), list(r["v"]))
        for r in v.filter(F.col("vec_id") < PQ_K).collect()
    )
    inits = [
        [(vid, fv[PQ_DSUB * s : PQ_DSUB * (s + 1)]) for vid, fv in init_full]
        for s in range(PQ_M)
    ]
    assigned = v.select(
        "v",
        *[
            nearest_centroid(
                F.slice("v", PQ_DSUB * s + 1, PQ_DSUB), inits[s]
            ).getField("cid").alias(f"cid{s}")
            for s in range(PQ_M)
        ],
    )
    # full-vector posexplode, then pos → (subspace, sub-position) and
    # the matching subspace's cid; identical means to the per-subspace
    # formulation, grouped once
    exploded = assigned.select(
        *[f"cid{s}" for s in range(PQ_M)],
        F.posexplode("v").alias("pos", "val"),
    ).select(
        (F.col("pos") / PQ_DSUB).cast("int").alias("s"),
        (F.col("pos") % PQ_DSUB).alias("subpos"),
        F.coalesce(
            *[
                F.when(
                    (F.col("pos") / PQ_DSUB).cast("int") == s, F.col(f"cid{s}")
                )
                for s in range(PQ_M)
            ]
        ).alias("cid"),
        "val",
    )
    rows = (
        exploded.groupBy("s", "cid", "subpos")
        .agg(round_col(F.avg("val"), 6).alias("val"))
        .collect()
    )
    by: list[dict[int, dict[int, float]]] = [{} for _ in range(PQ_M)]
    for r in rows:
        by[int(r["s"])].setdefault(int(r["cid"]), {})[int(r["subpos"])] = r[
            "val"
        ]
    return [
        sorted(
            (cid, [dims[p] for p in range(len(dims))])
            for cid, dims in by[s].items()
        )
        for s in range(PQ_M)
    ]


def build_ivfpq_index(
    spark: SparkSession, emb: DataFrame, index_dir: str
) -> None:
    """Build the composed IVF+PQ index (the FAISS IVFPQ layout,
    Jégou et al. 2011, without residual encoding): coarse IVF
    centroids pick the inverted list exactly as `build_ivf_index`,
    and each row of the cid-partitioned assignments ALSO carries its
    PQ codes (m small ints) — so an ADC probe scores candidates from
    the pruned partitions alone, without ever touching a raw-vector
    corpus table. Raw vector + norm are kept in-list for the exact
    re-rank stage (at 100 TB the codes column is the scan payload —
    8 bits/subspace — and v/nrm are late-materialized by parquet
    column pruning only for the shortlist)."""
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    ).localCheckpoint()
    cents = train_centroids_on_v(v)
    books = train_pq_codebooks(v)
    spark.createDataFrame(
        [(cid, cv) for cid, cv in cents], "cid int, cv array<double>"
    ).repartition(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "centroids")
    )
    spark.createDataFrame(
        [(s, cid, cv) for s, book in enumerate(books) for cid, cv in book],
        "s int, cid int, cv array<double>",
    ).repartition(1).write.mode("overwrite").parquet(
        os.path.join(index_dir, "codebooks")
    )
    enc = (
        _assign(v, cents)
        .withColumn("nrm", F.sqrt(dot(F.col("v"), F.col("v"))))
        .select(
            "vec_id",
            "v",
            "nrm",
            "cid",
            *[
                nearest_centroid(
                    F.slice("v", PQ_DSUB * s + 1, PQ_DSUB), books[s]
                ).getField("cid").alias(f"c{s}")
                for s in range(PQ_M)
            ],
        )
    )
    enc.write.mode("overwrite").partitionBy("cid").parquet(
        os.path.join(index_dir, "assignments")
    )


def read_pq_codebooks(
    spark: SparkSession, index_dir: str
) -> list[list[tuple[int, list[float]]]]:
    rows = spark.read.parquet(os.path.join(index_dir, "codebooks")).collect()
    books: list[list[tuple[int, list[float]]]] = [[] for _ in range(PQ_M)]
    for r in rows:
        books[int(r["s"])].append((int(r["cid"]), list(r["cv"])))
    return [sorted(b) for b in books]


def probe_ivfpq_index(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    nprobe: int = 2,
    shortlist: int = 20,
    topk: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """ADC probe over the IVFPQ index: (1) rank the k coarse
    centroids driver-side and choose nprobe inverted lists — the
    scan's ``cid IN (...)`` becomes Hive partition pruning; (2) score
    every candidate with the asymmetric-distance LOOKUP TABLE (per
    subspace, distance from the query subvector to each codebook
    entry — k x m floats computed driver-side, applied as a chained
    CASE on the stored code, no vector math per row); (3) shortlist
    the best ``shortlist`` by ADC distance; (4) exact cosine re-rank
    of the shortlist against the raw vectors stored IN the same
    pruned rows — no second corpus scan anywhere.

    Distance expressions keep the `similarity_pq_adc` IEEE shapes
    (qq - 2*qc + cc per subspace, left-assoc 4-term sum) so a DuckDB
    oracle ranks identically; output cosines/adists are 4-dp rounded
    with vec_id tie-breaks."""
    books = read_pq_codebooks(spark, index_dir)
    centroids = read_centroids(spark, index_dir)
    qq_full = self_dot(query_vec)
    qd = {
        cid: qq_full - 2 * fold_dot(query_vec, cv) + self_dot(cv)
        for cid, cv in centroids
    }
    chosen = [
        cid for cid, _d in sorted(qd.items(), key=lambda kv: (kv[1], kv[0]))
    ][:nprobe]
    asg = spark.read.parquet(os.path.join(index_dir, "assignments")).filter(
        F.col("cid").isin(chosen)
    )
    if exclude_vec_id is not None:
        asg = asg.filter(F.col("vec_id") != exclude_vec_id)
    subdists = []
    for s in range(PQ_M):
        qsub = query_vec[PQ_DSUB * s : PQ_DSUB * (s + 1)]
        qq = fold_dot(qsub, qsub)
        # chained CASE keyed on the stored code: robust to a codebook
        # that lost an empty cluster (element_at positions would shift)
        expr = F.lit(None).cast("double")
        for cid, cv in books[s]:
            d = qq - 2 * fold_dot(qsub, cv) + fold_dot(cv, cv)
            expr = F.when(F.col(f"c{s}") == cid, F.lit(float(d))).otherwise(
                expr
            )
        subdists.append(expr)
    adist = ((subdists[0] + subdists[1]) + subdists[2]) + subdists[3]
    short = (
        asg.select("vec_id", "cid", "v", "nrm", adist.alias("adist"))
        .orderBy("adist", "vec_id")
        .limit(shortlist)
    )
    qv = lit_vec(query_vec)
    qn = float(qq_full) ** 0.5
    cos = round_col(dot(F.col("v"), qv) / (F.col("nrm") * F.lit(qn)), 4)
    return (
        short.select(
            "vec_id",
            F.col("cid").cast("int").alias("cid"),
            round_col(F.col("adist"), 4).alias("adist"),
            cos.alias("cos_sim"),
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(topk)
    )


def probe_ivf_index(
    spark: SparkSession,
    index_dir: str,
    query_vec: list[float],
    nprobe: int = 2,
    topk: int = 10,
    exclude_vec_id: int | None = None,
) -> DataFrame:
    """Exact cosine top-k over the nprobe nearest inverted lists.

    Centroid ranking is pure driver arithmetic on k metadata rows
    (squared euclidean, ties to smaller cid); the scan carries a
    ``cid IN (...)`` predicate that Spark turns into partition
    pruning. Returned cosines are 4-dp portably rounded with vec_id
    tie-breaks, so rankings are engine-stable."""
    centroids = read_centroids(spark, index_dir)
    qd = {
        cid: self_dot(cv)
        - 2.0 * sum(a * b for a, b in zip(query_vec, cv))
        + self_dot(query_vec)
        for cid, cv in centroids
    }
    chosen = [cid for cid, _d in sorted(qd.items(), key=lambda kv: (kv[1], kv[0]))][
        :nprobe
    ]
    asg = spark.read.parquet(os.path.join(index_dir, "assignments")).filter(
        F.col("cid").isin(chosen)
    )
    if exclude_vec_id is not None:
        asg = asg.filter(F.col("vec_id") != exclude_vec_id)
    qv = lit_vec(query_vec)
    qn = float(self_dot(query_vec)) ** 0.5
    cos = round_col(dot(F.col("v"), qv) / (F.col("nrm") * F.lit(qn)), 4)
    return (
        asg.select(
            "vec_id", F.col("cid").cast("int").alias("cid"), cos.alias("cos_sim")
        )
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(topk)
    )
