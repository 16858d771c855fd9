"""Streaming embedding-drift monitor: the streaming face of
``queries/llm.embedding_mean_shift_drift``.

A reference cohort fixes the per-dimension baseline means ONCE
(64-float metadata, safe to close over / broadcast); the embedding
stream is then reduced to per-dimension (sum, count) sufficient
statistics — the ONLY streaming state, d rows regardless of stream
length, and exactly mergeable so complete-mode aggregation or a
foreachBatch running merge both work. The mean-shift MMD² statistic
is recomputed per drain from the d-row state with the same ordered
fold as the batch query, never from raw vectors.

This is the production shape for vector-space drift at 100 TB/day:
the corpus-sized work (one pass over arriving vectors) is incremental
and stateless beyond d accumulator rows; re-embeds or model swaps
show up as a step change in mmd_sq between drains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..exprs import round_col, stable_render
from ..queries.llm import mean_shift_fold

EMB_SCHEMA = "vec_id long, embedding array<float>, label int"


def stream_embeddings(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of embedding parquet files (schema pinned —
    streaming sources cannot infer)."""
    return spark.readStream.schema(EMB_SCHEMA).parquet(input_dir)


def baseline_dim_means(batch_embeddings: DataFrame) -> list[float]:
    """Per-dimension portably-rounded means of the reference cohort
    (d floats — index metadata, the `reference_cuts` discipline)."""
    rows = (
        batch_embeddings.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x")
        )
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(round_col(F.avg("x"), 6).alias("m"))
        .orderBy("i")
        .collect()
    )
    return [float(r["m"]) for r in rows]


def streaming_dim_sums(stream_embeddings_df: DataFrame) -> DataFrame:
    """Reduce the vector stream to per-dimension (sum, count) — the
    d-row mergeable sufficient statistic for the mean. No watermark is
    needed: state is dimension-keyed, bounded by d, not by time."""
    return (
        stream_embeddings_df.select(
            F.posexplode(F.col("embedding").cast("array<double>")).alias("i0", "x")
        )
        .groupBy((F.col("i0") + 1).alias("i"))
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
    )


def mean_shift_from_sums(
    dim_sums: DataFrame, baseline: list[float], n_baseline: int
) -> DataFrame:
    """Mean-shift MMD² from the d-row state vs the baseline means —
    the identical arithmetic as the batch query (rounded current
    means, ordered Σd² fold, top-dimension by |shift| with dim
    tie-break), runnable on the drained sink table or in foreachBatch."""
    base = F.lit([float(m) for m in baseline])
    cur = dim_sums.select(
        "i",
        round_col(F.col("s") / F.col("n"), 6).alias("m"),
        "n",
    )
    # baseline − current, matching the batch query's (label 0 − label 1)
    # orientation so top_shift signs agree
    diffs = cur.select(
        "i",
        (F.element_at(base, F.col("i").cast("int")) - F.col("m")).alias("d"),
        "n",
    )
    folded, top = mean_shift_fold(diffs, F.max("n").cast("long").alias("n_b"))
    return (
        folded.crossJoin(F.broadcast(top))
        .select(
            F.lit(int(n_baseline)).cast("long").alias("n_a"),
            "n_b",
            stable_render(F.col("mmd_sq"), 8).alias("mmd_sq"),
            "top_dim",
            stable_render(F.col("top_shift"), 6).alias("top_shift"),
        )
    )
