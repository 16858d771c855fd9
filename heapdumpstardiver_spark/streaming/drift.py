"""Streaming drift monitor: the streaming face of
``queries/diagnostics.psi_drift_by_decile``.

A reference period fixes the decile cut points ONCE (k-bounded batch
aggregate); the event stream is then binned against the broadcast cut
array and rolled up into per-window bin counts — the only stateful
streaming piece is a standard tumbling-window aggregation, so
watermarks bound state exactly as for any windowed count. The PSI
math itself runs on the k-bounded (window × bin) result, where
"batch" and "streaming" are the same 10-row arithmetic.

This split is the production drift-monitor shape: the expensive,
corpus-sized work (binning, counting) is incremental and
watermark-bounded; the statistic is recomputed per window from
mergeable counts, never from raw events.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..queries.diagnostics import decile_fractions, psi_share, psi_term


def reference_cuts(batch_events: DataFrame, col: str = "value") -> list[float]:
    """Decile cut points of the reference period (9 floats — index
    metadata, safe to close over / broadcast)."""
    cuts = F.percentile(col, decile_fractions()).alias("cs")
    row = batch_events.agg(cuts).collect()[0]
    return [float(x) for x in row["cs"]]


def binned_window_counts(
    stream_events: DataFrame,
    cuts: list[float],
    window: str = "1 day",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window bin counts of the stream against fixed cuts.

    The bin expression is a pure comparison chain over literal cut
    points (JVM-side, no state); the only streaming state is the
    windowed count aggregation, bounded by the watermark."""
    from functools import reduce

    bin_col = reduce(
        lambda acc, c: acc + F.when(F.col("value") > F.lit(c), 1).otherwise(0),
        cuts,
        F.lit(1),
    )
    return (
        stream_events.withWatermark("ts", watermark)
        .select(F.col("ts"), bin_col.cast("long").alias("bin"))
        .groupBy(F.window("ts", window).alias("w"), "bin")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("window_start"), "bin", "n")
    )


def psi_from_counts(window_counts: DataFrame, ref_counts: DataFrame) -> DataFrame:
    """PSI per window from (window, bin, n) vs reference (bin, n) —
    pure k-bounded arithmetic (Laplace-smoothed, same formula as the
    batch query), runnable on the drained sink table or inside a
    foreachBatch."""
    from pyspark.sql import Window

    ref_tot = ref_counts.agg(F.sum("n").alias("ta"))
    ref = ref_counts.select("bin", F.col("n").alias("n_ref")).crossJoin(
        F.broadcast(ref_tot)
    )
    # per-window totals via a partitioned window (bins-bounded input),
    # avoiding a self-join on the sink table's lineage
    cur = window_counts.withColumn(
        "tb", F.sum("n").over(Window.partitionBy("window_start"))
    )
    j = cur.join(F.broadcast(ref), "bin", "full_outer").fillna(
        0, subset=["n", "n_ref"]
    )
    p_ref = psi_share(F.col("n_ref"), F.col("ta"))
    p_cur = psi_share(F.col("n"), F.col("tb"))
    term = psi_term(p_cur, p_ref)
    return (
        j.filter(F.col("window_start").isNotNull())
        .groupBy("window_start")
        .agg(F.sum(term).alias("psi"))
        .orderBy("window_start")
    )
