"""Streaming CDC apply: maintain an SCD2 dimension from a change
stream with foreachBatch — the continuous face of
``queries/cdc.apply_scd2``.

Each micro-batch is rolled up to one change row per key, merged into
the current SCD2 state, and the new state is committed as a VERSIONED
parquet directory plus an atomically-swapped pointer file:

    state_dir/
      v3/...parquet        <- each version is immutable
      v7/...parquet
      _CURRENT             <- text file naming the live version

Versioning by batch_id makes the sink idempotent under foreachBatch's
at-least-once replay: a re-delivered batch recomputes FROM THE SAME
PARENT VERSION (the pointer still names the pre-batch state until the
pointer swap, which is an atomic os.replace) and overwrites its own
version directory — the second delivery is a byte-identical no-op.
This is the MERGE-by-batch-id pattern a Delta/Iceberg sink gives you
transactionally, built from primitives on plain parquet.

At 100 TB the state rewrite-per-batch becomes the bottleneck; the
documented swap is partitioning state by bucket(key) and rewriting
only buckets containing changed keys — same merge plan, same pointer
commit, per-bucket version dirs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..queries.cdc import apply_scd2, key_changes

STATE_SCHEMA = T.StructType(
    [
        T.StructField("key", T.LongType()),
        T.StructField("bal", T.DoubleType()),
        T.StructField("valid_from_us", T.LongType()),
        T.StructField("valid_to_us", T.LongType()),
        T.StructField("is_current", T.BooleanType()),
    ]
)


def _pointer(state_dir: str) -> str:
    return os.path.join(state_dir, "_CURRENT")


def read_state(spark: SparkSession, state_dir: str) -> DataFrame:
    """Current SCD2 state (empty-with-schema before the first commit)."""
    ptr = _pointer(state_dir)
    if not os.path.exists(ptr):
        return spark.createDataFrame([], STATE_SCHEMA)
    with open(ptr) as f:
        version = f.read().strip()
    return spark.read.schema(STATE_SCHEMA).parquet(
        os.path.join(state_dir, version)
    )


def batch_changes(batch: DataFrame) -> DataFrame:
    """Roll an event micro-batch up to one change per key (the same
    rollup as the batch query: summed value, latest event time)."""
    return key_changes(batch, F.col("user_id"))


def apply_batch(batch: DataFrame, batch_id: int, state_dir: str) -> None:
    """foreachBatch body: merge one micro-batch and commit a version."""
    spark = batch.sparkSession
    state = read_state(spark, state_dir)
    new_state = apply_scd2(state, batch_changes(batch))
    vdir = f"v{batch_id}"
    new_state.write.mode("overwrite").parquet(os.path.join(state_dir, vdir))
    tmp = _pointer(state_dir) + f".tmp.{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(vdir)
    os.replace(tmp, _pointer(state_dir))  # atomic pointer commit


def streaming_scd2_apply(
    stream_df: DataFrame,
    state_dir: str,
    checkpoint: str,
    query_name: str = "scd2_apply",
):
    """Drive the SCD2 maintenance from an event stream. One merge per
    micro-batch; state visible to readers via ``read_state`` after
    every epoch."""
    os.makedirs(state_dir, exist_ok=True)

    def _apply(df: DataFrame, batch_id: int) -> None:
        apply_batch(df, batch_id, state_dir)

    return (
        stream_df.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .queryName(query_name)
        .start()
    )
