"""Change-data-capture / lakehouse-maintenance operators.

The reference system rebuilds its Parquet warehouse from scratch per
heap dump (`/root/reference/src/commands/dump_to_parquet.rs` writes a
whole directory); its snapshot extension here (`ingest/snapshots.py`)
appends dumps as partitions. This module adds the third maintenance
shape a 100-TB warehouse needs: MERGE-style upserts expressed as pure
DataFrame plans — the Delta/Iceberg `MERGE INTO` semantics computed
engine-side, so they run on any Parquet store and stay inside the
driver's DuckDB-oracle correctness gate.

Scale notes: the change batch is aggregated FIRST (one shuffle on the
business key — at steady state the batch is orders of magnitude
smaller than the dimension), then joined once against the dimension
snapshot; row-version fan-out (close + reopen) happens AFTER the join
via an inline explode, so the join itself moves each key once.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..exprs import round_col, round_sql
from ..registry import query


def key_changes(events: DataFrame, key: Column) -> DataFrame:
    """Roll events up to one change per *key*: (key, new_bal, update_us)
    with the rounded summed value and the latest event time in epoch
    micros."""
    return events.groupBy(key.alias("key")).agg(
        round_col(F.sum("value")).alias("new_bal"),
        F.max(F.unix_micros("ts")).alias("update_us"),
    )


def apply_scd2(state: DataFrame, upd: DataFrame) -> DataFrame:
    """Apply one change batch to an SCD2 history table.

    *state* columns: (key, bal, valid_from_us, valid_to_us,
    is_current); *upd* columns: (key, new_bal, update_us). Closed
    history rows pass through untouched; only the CURRENT row per key
    joins the batch. All three merge paths are handled: unmatched /
    equal-value rows keep, changed rows close (valid_to = update_us)
    and reopen, unseen keys insert.

    Plan shape: one join on the current slice (AQE broadcasts the
    aggregated batch when small), close+reopen fan-out via inline
    explode AFTER the join, one union with the pass-through history —
    no key crosses the wire twice, and history volume never enters
    the join."""
    closed_hist = state.filter(~F.col("is_current"))
    cur = state.filter(F.col("is_current"))
    j = cur.join(upd, "key", "full_outer")
    null_us = F.lit(None).cast("long")
    keep = F.struct(
        F.col("bal").alias("v"),
        F.col("valid_from_us").alias("valid_from_us"),
        null_us.alias("valid_to_us"),
        F.lit(True).alias("is_current"),
    )
    close = F.struct(
        F.col("bal").alias("v"),
        F.col("valid_from_us").alias("valid_from_us"),
        F.col("update_us").alias("valid_to_us"),
        F.lit(False).alias("is_current"),
    )
    reopen = F.struct(
        F.col("new_bal").alias("v"),
        F.col("update_us").alias("valid_from_us"),
        null_us.alias("valid_to_us"),
        F.lit(True).alias("is_current"),
    )
    rows = (
        F.when(F.col("new_bal").isNull(), F.array(keep))  # no change arrived
        .when(F.col("bal").isNull(), F.array(reopen))  # brand-new key
        .when(F.col("bal") == F.col("new_bal"), F.array(keep))  # no-op change
        .otherwise(F.array(close, reopen))  # close + reopen
    )
    merged = j.select("key", F.explode(rows).alias("r")).select(
        "key",
        F.col("r.v").alias("bal"),
        F.col("r.valid_from_us").alias("valid_from_us"),
        F.col("r.valid_to_us").alias("valid_to_us"),
        F.col("r.is_current").alias("is_current"),
    )
    return closed_hist.unionByName(merged)


# Shared oracle text building the merged SCD2 chain — used by
# `scd2_merge_batch` (emits the chain) and `scd2_point_in_time_join`
# (consumes it as the versioned dimension).
_SCD2_CHAIN_CTES = f"""
    WITH upd AS (
        SELECT user_id + 1450 AS key,
               {round_sql("sum(value)")} AS new_bal,
               max(epoch_us(ts)) AS update_us
        FROM events GROUP BY user_id + 1450
    ),
    dim AS (
        SELECT c_custkey AS key, {round_sql("c_acctbal")} AS bal
        FROM customer
    ),
    merged AS (
        SELECT coalesce(d.key, u.key) AS key, d.bal, u.new_bal, u.update_us,
               CASE WHEN u.key IS NULL THEN 'keep'
                    WHEN d.key IS NULL THEN 'insert'
                    WHEN d.bal = u.new_bal THEN 'keep'
                    ELSE 'change' END AS op
        FROM dim d FULL OUTER JOIN upd u ON d.key = u.key
    ),
    chain AS (
        SELECT key, bal, CAST(0 AS BIGINT) AS valid_from_us,
               CAST(NULL AS BIGINT) AS valid_to_us, true AS is_current
        FROM merged WHERE op = 'keep'
        UNION ALL
        SELECT key, bal, CAST(0 AS BIGINT), update_us, false
        FROM merged WHERE op = 'change'
        UNION ALL
        SELECT key, new_bal, update_us, CAST(NULL AS BIGINT), true
        FROM merged WHERE op IN ('insert', 'change')
    )
"""


@query(
    "scd2_merge_batch",
    oracle=f"""
    {_SCD2_CHAIN_CTES}
    SELECT key, bal, valid_from_us, valid_to_us, is_current
    FROM chain ORDER BY key, valid_from_us
    """,
)
def scd2_merge_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 MERGE: apply a change batch to
    a dimension snapshot, closing superseded versions (valid_to set to
    the change time) and opening new current rows — `MERGE INTO` with
    history, computed as one declarative plan.

    The change batch is the per-user event-value rollup keyed into the
    customer id space so the batch both UPDATES existing keys (the low
    range) and INSERTS unseen keys (the high range) — all three merge
    paths (keep / close+reopen / insert) are exercised and checked.

    Plan shape: ONE aggregation shuffle builds the batch, ONE
    full-outer join (AQE broadcasts the batch side when small — at
    steady state the batch is << dimension) classifies each key, and
    the close+reopen fan-out is an inline explode AFTER the join, so
    no key crosses the wire twice. Validity bounds travel as epoch
    micros (`unix_micros` ↔ DuckDB `epoch_us`), the engine-portable
    timestamp rendering used throughout the event queries."""
    return _scd2_chain(spark, sf_dir).orderBy("key", "valid_from_us")


@query(
    "incremental_view_merge",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
           count(*) AS n_orders,
           {round_sql("sum(o_totalprice)")} AS revenue,
           {round_sql("sum(o_totalprice) / count(*)", 4)} AS avg_price
    FROM orders
    GROUP BY o_orderstatus, date_trunc('month', o_orderdate)
    ORDER BY o_orderstatus, month
    """,
)
def incremental_view_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance: refresh a materialized aggregate
    by merging its SAVED state with a delta batch's partial aggregate
    — never rescanning the base. The implementation aggregates the
    pre-cutoff "state" and the post-cutoff "delta" SEPARATELY and
    merges them with a full-outer coalesce-sum; the ORACLE is the
    straightforward full GROUP BY over everything, so the hash gate
    PROVES the merge is lossless (the algebraic property IVM relies
    on: counts and sums are mergeable, avg re-derives from them —
    which is why avg itself must never be stored as state).

    At 100 TB this is the nightly-refresh shape: the delta is a day,
    the state is years; merge cost is O(|view| + |delta agg|),
    independent of base size. Same mergeable-state discipline as the
    sketch family, for exact aggregates."""
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("2000-01-01").cast("timestamp_ntz")
    month = F.date_trunc("month", "o_orderdate")

    def agg_part(df: DataFrame) -> DataFrame:
        return df.groupBy(
            "o_orderstatus", month.alias("month")
        ).agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("rev_sum"),
        )

    state = agg_part(o.filter(F.col("o_orderdate") < cut))
    delta = agg_part(o.filter(F.col("o_orderdate") >= cut))
    merged = (
        state.withColumnRenamed("n_orders", "n0")
        .withColumnRenamed("rev_sum", "s0")
        .join(delta, ["o_orderstatus", "month"], "full_outer")
        .select(
            "o_orderstatus",
            "month",
            (
                F.coalesce(F.col("n0"), F.lit(0))
                + F.coalesce(F.col("n_orders"), F.lit(0))
            ).alias("n_orders"),
            (
                F.coalesce(F.col("s0"), F.lit(0.0))
                + F.coalesce(F.col("rev_sum"), F.lit(0.0))
            ).alias("rev_sum"),
        )
    )
    return merged.select(
        "o_orderstatus",
        "month",
        "n_orders",
        round_col(F.col("rev_sum")).alias("revenue"),
        round_col(F.col("rev_sum") / F.col("n_orders"), 4).alias("avg_price"),
    ).orderBy("o_orderstatus", "month")


@query(
    "table_diff_audit",
    oracle=f"""
    WITH v1 AS (
        SELECT o_orderkey AS key, o_orderstatus, o_totalprice
        FROM orders WHERE o_orderdate < TIMESTAMP '2000-01-01'
    ),
    v2 AS (
        SELECT o_orderkey AS key, o_orderstatus,
               CASE WHEN o_orderdate < TIMESTAMP '2000-01-01'
                     AND o_orderstatus = 'F'
                    THEN o_totalprice * 1.1 ELSE o_totalprice END
                   AS o_totalprice
        FROM orders
    ),
    h1 AS (
        SELECT key, md5(o_orderstatus || '|' ||
                        CAST({round_sql("o_totalprice", 4)} AS VARCHAR)) AS h
        FROM v1
    ),
    h2 AS (
        SELECT key, md5(o_orderstatus || '|' ||
                        CAST({round_sql("o_totalprice", 4)} AS VARCHAR)) AS h
        FROM v2
    ),
    d AS (
        SELECT coalesce(h1.key, h2.key) AS key,
               CASE WHEN h1.key IS NULL THEN 'added'
                    WHEN h2.key IS NULL THEN 'removed'
                    WHEN h1.h <> h2.h THEN 'changed'
                    ELSE 'unchanged' END AS status
        FROM h1 FULL OUTER JOIN h2 ON h1.key = h2.key
    )
    SELECT status, count(*) AS n_rows
    FROM d GROUP BY status ORDER BY status
    """,
)
def table_diff_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyed content-hash diff between two table versions — the
    added / removed / changed / unchanged census a data-ops team runs
    after every pipeline change or backfill ("did the refactor alter
    rows it shouldn't have?"). Versions here are derived from one
    table (v2 = v1 plus post-cutoff rows, with finished orders
    repriced) so the expected diff is known and checked; pointing v1
    and v2 at two real snapshot directories is the same plan.

    Scale shape: each version reduces to (key, md5-of-normalized-row)
    — hashes computed scan-side, so the full-outer join moves 16-byte
    digests, never rows; doubles are rounded to a fixed scale before
    hashing (float re-serialization is NOT a stable identity across
    writers). One join on the key, a 4-group rollup."""
    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("2000-01-01").cast("timestamp_ntz")

    def hashed(df: DataFrame) -> DataFrame:
        return df.select(
            "key",
            F.md5(
                F.concat_ws(
                    "|",
                    F.col("o_orderstatus"),
                    round_col(F.col("o_totalprice"), 4).cast("string"),
                )
            ).alias("h"),
        )

    v1 = o.filter(F.col("o_orderdate") < cut).select(
        F.col("o_orderkey").alias("key"), "o_orderstatus", "o_totalprice"
    )
    v2 = o.select(
        F.col("o_orderkey").alias("key"),
        "o_orderstatus",
        F.when(
            (F.col("o_orderdate") < cut) & (F.col("o_orderstatus") == "F"),
            F.col("o_totalprice") * 1.1,
        )
        .otherwise(F.col("o_totalprice"))
        .alias("o_totalprice"),
    )
    h1 = hashed(v1).withColumnRenamed("h", "h1")
    h2 = hashed(v2).withColumnRenamed("h", "h2")
    status = (
        F.when(F.col("h1").isNull(), "added")
        .when(F.col("h2").isNull(), "removed")
        .when(F.col("h1") != F.col("h2"), "changed")
        .otherwise("unchanged")
    )
    return (
        h1.join(h2, "key", "full_outer")
        .select(status.alias("status"))
        .groupBy("status")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("status")
    )


def _scd2_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The merged SCD2 chain `scd2_merge_batch` emits, as a reusable
    relation (Spark twin of the `_SCD2_CHAIN_CTES` oracle text)."""
    e = load_table(spark, sf_dir, "events")
    upd = key_changes(e, F.col("user_id") + F.lit(1450))
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        round_col(F.col("c_acctbal")).alias("bal"),
    )
    state0 = dim.select(
        "key",
        "bal",
        F.lit(0).cast("long").alias("valid_from_us"),
        F.lit(None).cast("long").alias("valid_to_us"),
        F.lit(True).alias("is_current"),
    )
    return apply_scd2(state0, upd)


@query(
    "scd2_point_in_time_join",
    oracle=f"""
    {_SCD2_CHAIN_CTES},
    fact AS (
        SELECT event_type, user_id + 1450 AS key, epoch_us(ts) AS t_us
        FROM events
    ),
    pit AS (
        SELECT f.event_type, c.bal, c.is_current
        FROM fact f JOIN chain c
          ON f.key = c.key
         AND c.valid_from_us <= f.t_us
         AND (c.valid_to_us IS NULL OR f.t_us < c.valid_to_us)
    )
    SELECT event_type,
           count(*) AS n_events,
           CAST(sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
               AS n_on_current_version,
           CAST(sum(CASE WHEN is_current THEN 0 ELSE 1 END) AS BIGINT)
               AS n_on_closed_version,
           {round_sql("sum(bal)")} AS attributed_bal
    FROM pit GROUP BY event_type ORDER BY event_type
    """,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (as-of-version) join against the SCD2 history —
    the feature-store/time-travel read that makes SCD2 chains useful:
    each fact row joins the dimension VERSION that was valid at the
    fact's own timestamp (valid_from <= t < valid_to), never the
    current one — the leakage-free attribute lookup for training-data
    assembly and retroactive reporting. Over this fixture chain every
    user's final event lands exactly on the reopened version's
    valid_from boundary, so both the closed-version path and the
    half-open interval semantics are value-checked, not just typed.

    Plan shape: the chain is `apply_scd2`'s one-join plan; the PIT
    join is an equi-join on the business key with the interval
    predicate as a residual — each fact key meets only its own
    (typically 1-3) versions, so fan-out is version-count-bounded at
    any scale. Version counts per fact and attributed balances are
    the audit output."""
    e = load_table(spark, sf_dir, "events")
    chain = _scd2_chain(spark, sf_dir)
    fact = e.select(
        "event_type",
        (F.col("user_id") + F.lit(1450)).alias("fkey"),
        F.unix_micros("ts").alias("t_us"),
    )
    j = fact.join(
        chain,
        (F.col("fkey") == F.col("key"))
        & (F.col("valid_from_us") <= F.col("t_us"))
        & (F.col("valid_to_us").isNull() | (F.col("t_us") < F.col("valid_to_us"))),
    )
    return (
        j.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("is_current"), 1).otherwise(0))
            .cast("long")
            .alias("n_on_current_version"),
            F.sum(F.when(F.col("is_current"), 0).otherwise(1))
            .cast("long")
            .alias("n_on_closed_version"),
            round_col(F.sum("bal"), 2).alias("attributed_bal"),
        )
        .orderBy("event_type")
    )
