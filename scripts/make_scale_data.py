"""Deterministic sfN scale-up of the driver's sf0.1 fixture tables,
the sf1 input of the all-query scale sweep (scripts/scale_sweep.py).

The driver ships sf0.001/0.01/0.1 only; scale evidence beyond that
needs bigger inputs with the same shape. This derives them from sf0.1
(never synthesizing distributions from scratch): each table is
replicated REPLICAS times with every key column offset by
``replica * 100_000_000`` so referential integrity (orders⋈lineitem,
part/supplier/customer FKs) holds exactly, while

- ``region``/``nation`` stay fixed (dimension tables don't grow with
  scale factor, as in TPC-H — broadcast joins must stay broadcasts),
- ``documents.text`` gets a per-replica vowel rotation so replicas are
  shingle-distinct variants (5 rotations over 10 replicas also leaves
  realistic cross-replica near-duplicates for the dedup family),
- ``embeddings.embedding`` gets a per-replica epsilon on one dimension
  so ANN buckets spread instead of stacking identical vectors,
- timestamps are left alone: the same event-time windows simply get
  10x denser, which is exactly the per-bucket growth a bigger corpus
  produces.

Correctness at sfN is NOT claimed — the DuckDB oracle gate runs at
sf0.01; this data exists to measure how query wall time scales.
Everything is derived via one crossJoin with a replica-id range, so
generation is a handful of narrow Spark jobs; output is cached under
.bench/sf1 behind a _SCALE_OK marker.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

REPLICAS = 10
OFFSET = 100_000_000

# key columns to offset per table; absent tables copy verbatim
_KEYS = {
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "events": ["event_id", "user_id"],
    "documents": ["doc_id"],
    "embeddings": ["vec_id"],
}
_COPY = ("region", "nation")
# output file counts sized so partitions stay in the tens of MB
# documents gets 16 files although it is small: the explode-heavy
# queries (frame sampling, shingles) parallelize by input split, and
# 4 files starved them 8x at sf1 (r4 sweep).
_FILES = {"lineitem": 16, "orders": 8, "events": 8, "documents": 16,
          "embeddings": 4, "customer": 2, "part": 2, "supplier": 1}

_VOWELS = "aeiou"


def _rotated(text_col, k_col):
    """translate(text, 'aeiou', rot_k) with rot chosen by replica id —
    rewrites most tokens, so replica shingles don't collide."""
    expr = None
    for r in range(len(_VOWELS)):
        rot = _VOWELS[r:] + _VOWELS[:r]
        branch = F.translate(text_col, _VOWELS, rot)
        cond = (k_col % len(_VOWELS)) == r
        expr = F.when(cond, branch) if expr is None else expr.when(cond, branch)
    return expr


def build_scale_dir(spark: SparkSession, src_dir: str, out_dir: str,
                    replicas: int = REPLICAS) -> str:
    """Materialize the scaled tables under *out_dir* (idempotent:
    returns immediately if the _SCALE_OK marker exists)."""
    marker = os.path.join(out_dir, "_SCALE_OK")
    if os.path.exists(marker):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    from heapdumpstardiver_spark.catalog import load_table

    ks = spark.range(replicas).withColumnRenamed("id", "_k")
    for name in _COPY:
        df = load_table(spark, src_dir, name)
        df.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    for name, keys in _KEYS.items():
        df = load_table(spark, src_dir, name).crossJoin(ks)
        for key in keys:
            df = df.withColumn(key, F.col(key) + F.col("_k") * F.lit(OFFSET))
        if name == "documents":
            df = df.withColumn("text", _rotated(F.col("text"), F.col("_k")))
        if name == "embeddings":
            eps = (F.col("_k").cast("float") * F.lit(0.001)).cast("float")
            kmod = (F.col("_k") % 8).cast("int")
            df = df.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, i: (x + F.when(i == kmod, eps).otherwise(F.lit(0.0))).cast(
                        "float"
                    ),
                ),
            )
        out = df.drop("_k").repartition(_FILES.get(name, 4))
        out.write.mode("overwrite").parquet(os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(f"replicas={replicas} src={src_dir}\n")
    return out_dir


def main() -> None:
    import sys

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    from heapdumpstardiver_spark.session import get_spark

    src = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out = os.environ.get(
        "SPARK_GRAFT_SF1_DIR",
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     ".bench", "sf1"),
    )
    spark = get_spark(app_name="make-scale-data")
    build_scale_dir(spark, src, out)
    spark.stop()


if __name__ == "__main__":
    main()
