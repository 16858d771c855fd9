"""Streaming percolation: the continuous face of
``queries/llm.reverse_search_percolate``.

Saved queries (alerting rules, routing filters, compliance triggers)
are a tiny broadcast relation; documents ARRIVE as a stream, and each
micro-batch evaluates the conjunctive term match for its own docs
only — percolation is per-document, so there is NO cross-batch
state: the foreachBatch body is the identical batch matcher, and the
verdict sink is replay-idempotent via ``batch=<id>`` partition
overwrite (the `cdc_apply` / `lsh_dedup` sink discipline).

At 100 TB/day this is the routing stage of an ingest pipeline: cost
is O(batch tokens matching any rule term) per micro-batch — the
broadcast join prunes the token stream before any shuffle — and rules
update by just replacing the broadcast table between batches.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..queries.llm import percolate_matches

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def stream_documents(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream of document parquet files (schema pinned)."""
    return spark.readStream.schema(DOC_SCHEMA).parquet(input_dir)


def streaming_percolate(
    stream_docs: DataFrame,
    rules: DataFrame,
    out_dir: str,
    checkpoint: str,
    query_name: str = "percolate_sink",
):
    """foreachBatch percolation with a replay-idempotent sink: each
    micro-batch's matches land in a ``batch=<id>`` partition with
    overwrite, so at-least-once redelivery rewrites byte-identical
    files instead of duplicating alerts."""

    def _apply(batch: DataFrame, batch_id: int) -> None:
        out = percolate_matches(batch, rules)
        out.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return (
        stream_docs.writeStream.foreachBatch(_apply)
        .queryName(query_name)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
