"""Pre-flight data-engineering diagnostics: the profiling queries an
operator runs against a 100-TB table BEFORE committing to a plan —
per-column statistics (the input to partition/bucket/sort-key choices)
and join-key skew measurement (the input to salting / AQE-skew-join
decisions).

Mirrors the reference's warehouse-introspection surface
(`heap_state.py` table listing / `analyze_heap_parquet.py`'s
pre-check row-count probes) generalized into reusable operators.
Both queries are single-scan aggregations: the profile is one
wide aggregate unpivoted driver-free, the skew probe is one
groupBy plus a broadcast scalar join — nothing here collects
per-row data.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..exprs import round_col, round_sql, stable_render, stable_render_sql, total_rows
from ..registry import query
from .windows import DAILY_REV_CENTS_SQL



# Shared cores of the paired and two-sample tests below, each with its
# oracle CTE twin.
# click vs purchase value stats: (n, mean, var_samp) as n1/m1/v1 and
# n2/m2/v2 in one row.
_AB_STATS_SQL = """g AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n,
               avg(value) AS m,
               var_samp(value) AS v
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY event_type
    ),
    ab AS (
        SELECT
            max(CASE WHEN event_type = 'click' THEN n END) AS n1,
            max(CASE WHEN event_type = 'click' THEN m END) AS m1,
            max(CASE WHEN event_type = 'click' THEN v END) AS v1,
            max(CASE WHEN event_type = 'purchase' THEN n END) AS n2,
            max(CASE WHEN event_type = 'purchase' THEN m END) AS m2,
            max(CASE WHEN event_type = 'purchase' THEN v END) AS v2
        FROM g
    )"""
# Per-user value in cents before and after the 2024-01-16 cut.
_PRE_POST_SQL = """per_user AS (
        SELECT user_id,
               CAST(floor(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
                                   THEN value ELSE 0 END) * 100 + 0.5)
                    AS BIGINT) AS pre_c,
               CAST(floor(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                   THEN value ELSE 0 END) * 100 + 0.5)
                    AS BIGINT) AS post_c
        FROM events GROUP BY user_id
    )"""


def _ab_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row: click (n1, m1, v1) and purchase (n2, m2, v2) count,
    mean and var_samp of `value` — one grouped aggregate, then a
    pivot of the two triples."""
    e = load_table(spark, sf_dir, "events")
    g = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("value").alias("m"),
            F.var_samp("value").alias("v"),
        )
    )
    pick = lambda t, c: F.max(F.when(F.col("event_type") == t, F.col(c)))  # noqa: E731
    return g.agg(
        pick("click", "n").alias("n1"),
        pick("click", "m").alias("m1"),
        pick("click", "v").alias("v1"),
        pick("purchase", "n").alias("n2"),
        pick("purchase", "m").alias("m2"),
        pick("purchase", "v").alias("v2"),
    )


def _pre_post_cents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user_id, pre_c, post_c): each user's value in exact cents
    before and at/after the 2024-01-16 cut."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    return e.groupBy("user_id").agg(
        F.floor(
            F.sum(F.when(F.col("ts") < cut, F.col("value")).otherwise(0.0))
            * 100
            + F.lit(0.5)
        )
        .cast("long")
        .alias("pre_c"),
        F.floor(
            F.sum(F.when(F.col("ts") >= cut, F.col("value")).otherwise(0.0))
            * 100
            + F.lit(0.5)
        )
        .cast("long")
        .alias("post_c"),
    )


def _order_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(w): each order's week number since 1970-01-01."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        F.floor(
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            / 7
        ).alias("w")
    )


def _chi2_crit_95(dof: Column) -> Column:
    """χ² critical value at 5% for *dof* 1–6. dof > 6 yields NULL (the
    ladder ends at 6) rather than silently reusing the dof=6 value: a
    too-lenient reject bit is statistically wrong and parity would not
    flag it. Current fixtures have ≤5 event types."""
    return (
        F.when(dof == 1, 3.841)
        .when(dof == 2, 5.991)
        .when(dof == 3, 7.815)
        .when(dof == 4, 9.488)
        .when(dof == 5, 11.07)
        .when(dof == 6, 12.592)
    )


# ---------------------------------------------------------------------------
# table_profile — per-column stats in ONE scan
# ---------------------------------------------------------------------------

# (column, kind) pairs for the profiled table. Kind selects the
# engine-portable string rendering of min/max: bigints and varchars
# cast exactly; doubles go through the portable half-up rounding then
# DECIMAL(18,2) (exact decimal → identical string in both engines, no
# scientific-notation divergence); timestamps through an explicit
# format string (Spark and DuckDB default timestamp→string renderings
# disagree on fractional seconds).
_PROFILE_COLS = [
    ("o_orderkey", "int"),
    ("o_custkey", "int"),
    ("o_orderstatus", "str"),
    ("o_totalprice", "dbl"),
    ("o_orderdate", "ts"),
    ("o_orderpriority", "str"),
]


def _profile_oracle() -> str:
    parts = []
    for col, kind in _PROFILE_COLS:
        if kind == "int":
            mn, mx = f"CAST(min({col}) AS VARCHAR)", f"CAST(max({col}) AS VARCHAR)"
        elif kind == "str":
            mn, mx = f"min({col})", f"max({col})"
        elif kind == "dbl":
            mn = f"CAST(CAST({round_sql(f'min({col})')} AS DECIMAL(18,2)) AS VARCHAR)"
            mx = f"CAST(CAST({round_sql(f'max({col})')} AS DECIMAL(18,2)) AS VARCHAR)"
        else:  # ts
            mn = f"strftime(min({col}), '%Y-%m-%d %H:%M:%S')"
            mx = f"strftime(max({col}), '%Y-%m-%d %H:%M:%S')"
        parts.append(
            f"""
    SELECT '{col}' AS col_name, count(*) AS n_rows,
           count(*) - count({col}) AS n_nulls,
           count(DISTINCT {col}) AS n_distinct,
           {mn} AS min_val, {mx} AS max_val
    FROM orders"""
        )
    return "\nUNION ALL".join(parts) + "\nORDER BY col_name"


@query("table_profile", oracle=_profile_oracle())
def table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile — rows, nulls, distinct count, min/max
    — in a single scan of the fact table (the oracle's UNION-ALL of
    per-column scans is the semantic spec, not the plan). The
    reference's `list_tables` reports schema + row counts
    (heap_state.py ≙ service.list_tables); this is that surface
    deepened to the stats a partition/sort-key choice needs.

    Plan shape: each row unpivots into one typed slot-struct per
    column (JVM explode), then TWO hash aggregations: level 1 groups
    by (column, value) — the exact-distinct reduction, partial-agg'd
    before its one data-sized exchange — and level 2 rolls the
    distinct-value relation up to one row per column (counts come from
    summing level-1 multiplicities, min/max from the typed slots, so
    no separate pass). The naive alternative — one wide aggregate
    with six COUNT(DISTINCT)s — plans as Expand(×7) into a
    SortAggregate over 13 grouping keys (a double key disables hash
    aggregation): measured 3-4x slower at sf0.1 and strictly worse at
    scale, where sorting corpus×7 wide rows replaces hash-combining
    narrow ones. At 100 TB swap level 1 for per-column
    approx_count_distinct sketches (service.profile_table's
    max_distinct_cols knob); exact is kept here because the oracle
    must hash-match."""
    o = load_table(spark, sf_dir, "orders")

    slots = []
    for col, kind in _PROFILE_COLS:
        lv = F.col(col) if kind == "int" else F.lit(None).cast("long")
        sv = F.col(col) if kind == "str" else F.lit(None).cast("string")
        dv = F.col(col) if kind == "dbl" else F.lit(None).cast("double")
        tv = F.col(col) if kind == "ts" else F.lit(None).cast("timestamp_ntz")
        slots.append(
            F.struct(
                F.lit(col).alias("c"),
                lv.alias("lv"),
                sv.alias("sv"),
                dv.alias("dv"),
                tv.alias("tv"),
            )
        )
    pairs = o.select(F.explode(F.array(*slots)).alias("p")).select("p.*")
    lvl1 = pairs.groupBy("c", "lv", "sv", "dv", "tv").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    is_null_row = (
        F.col("lv").isNull()
        & F.col("sv").isNull()
        & F.col("dv").isNull()
        & F.col("tv").isNull()
    )
    prof = lvl1.groupBy("c").agg(
        F.sum("cnt").cast("long").alias("n_rows"),
        F.sum(F.when(is_null_row, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n_nulls"),
        F.count(F.when(~is_null_row, 1)).alias("n_distinct"),
        F.min("lv").alias("mn_l"),
        F.max("lv").alias("mx_l"),
        F.min("sv").alias("mn_s"),
        F.max("sv").alias("mx_s"),
        F.min("dv").alias("mn_d"),
        F.max("dv").alias("mx_d"),
        F.min("tv").alias("mn_t"),
        F.max("tv").alias("mx_t"),
    )

    # Per-kind string rendering of min/max (same formats as the oracle).
    mn_val, mx_val = F.lit(None).cast("string"), F.lit(None).cast("string")
    for col, kind in _PROFILE_COLS:
        if kind == "int":
            mn, mx = F.col("mn_l").cast("string"), F.col("mx_l").cast("string")
        elif kind == "str":
            mn, mx = F.col("mn_s"), F.col("mx_s")
        elif kind == "dbl":
            mn = round_col(F.col("mn_d")).cast("decimal(18,2)").cast("string")
            mx = round_col(F.col("mx_d")).cast("decimal(18,2)").cast("string")
        else:  # ts
            mn = F.date_format("mn_t", "yyyy-MM-dd HH:mm:ss")
            mx = F.date_format("mx_t", "yyyy-MM-dd HH:mm:ss")
        mn_val = F.when(F.col("c") == col, mn).otherwise(mn_val)
        mx_val = F.when(F.col("c") == col, mx).otherwise(mx_val)

    return prof.select(
        F.col("c").alias("col_name"),
        "n_rows",
        "n_nulls",
        "n_distinct",
        mn_val.alias("min_val"),
        mx_val.alias("max_val"),
    ).orderBy("col_name")


# ---------------------------------------------------------------------------
# join_key_skew_profile — hot-key detection before a big join
# ---------------------------------------------------------------------------


@query(
    "join_key_skew_profile",
    oracle=f"""
    WITH per_key AS (
        SELECT l_suppkey AS key, count(*) AS cnt
        FROM lineitem GROUP BY l_suppkey
    ),
    stats AS (
        SELECT count(*) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS total_rows,
               sum(cnt) / count(*) AS avg_cnt
        FROM per_key
    )
    SELECT key, cnt, n_keys, total_rows,
           {round_sql("100.0 * cnt / total_rows", 4)} AS share_pct,
           {round_sql("cnt / avg_cnt", 4)} AS ratio_vs_avg
    FROM per_key, stats
    ORDER BY cnt DESC, key LIMIT 5
    """,
)
def join_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew pre-flight: per-key row counts on the proposed
    shuffle key, the 5 hottest keys with their share of the table and
    ratio over the mean key. This is the measurement that decides
    between a plain shuffle join, salting (`salted_heavy_hitter_agg`),
    and AQE's skew-join splitting — run it BEFORE the 100-TB join, on
    the key you are about to shuffle on.

    Plan: one scan → partial-agg'd groupBy(key); the global stats row
    aggregates the (already tiny) per-key table and broadcasts back
    over it (1-row crossJoin); top-5 via TakeOrdered — no global
    sort, no driver-side data."""
    li = load_table(spark, sf_dir, "lineitem")
    per_key = li.groupBy(F.col("l_suppkey").alias("key")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").cast("long").alias("total_rows"),
        (F.sum("cnt") / F.count(F.lit(1))).alias("avg_cnt"),
    )
    return (
        per_key.crossJoin(F.broadcast(stats))
        .select(
            "key",
            "cnt",
            "n_keys",
            "total_rows",
            round_col(100.0 * F.col("cnt") / F.col("total_rows"), 4).alias(
                "share_pct"
            ),
            round_col(F.col("cnt") / F.col("avg_cnt"), 4).alias("ratio_vs_avg"),
        )
        .orderBy(F.desc("cnt"), "key")
        .limit(5)
    )


@query(
    "constraint_audit",
    oracle="""
    SELECT constraint_name, n_violations FROM (
        SELECT 'lineitem_bulk_quantity' AS constraint_name,
               (SELECT count(*) FROM lineitem WHERE l_quantity > 49) AS n_violations
        UNION ALL SELECT 'lineitem_discount_range',
               (SELECT count(*) FROM lineitem WHERE l_discount < 0 OR l_discount > 1)
        UNION ALL SELECT 'customer_negative_acctbal',
               (SELECT count(*) FROM customer WHERE c_acctbal < 0)
        UNION ALL SELECT 'customer_null_name',
               (SELECT count(*) FROM customer WHERE c_name IS NULL)
        UNION ALL SELECT 'orders_date_out_of_range',
               (SELECT count(*) FROM orders
                WHERE o_orderdate < TIMESTAMP '1990-01-01'
                   OR o_orderdate >= TIMESTAMP '2005-01-01')
        UNION ALL SELECT 'lineitem_orphan_orderkey',
               (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
                  (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        UNION ALL SELECT 'events_orphan_user',
               (SELECT count(*) FROM events e WHERE NOT EXISTS
                  (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
        UNION ALL SELECT 'orders_duplicate_pk',
               (SELECT count(*) FROM
                  (SELECT o_orderkey FROM orders
                   GROUP BY o_orderkey HAVING count(*) > 1))
        UNION ALL SELECT 'lineitem_ship_before_order',
               (SELECT count(*) FROM lineitem l
                JOIN orders o ON l.l_orderkey = o.o_orderkey
                WHERE l.l_shipdate < o.o_orderdate)
    ) ORDER BY constraint_name
    """,
)
def constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-shot data-quality audit over the warehouse: every contract
    a downstream pipeline assumes (PK uniqueness, FK closure, value
    ranges, cross-table temporal ordering) counted in a single
    result — the dbt-test / Great-Expectations shape as one plan.

    Pass structure is what scales, not the check list:
    - VALUE rules share ONE conditional-aggregate scan per table
      (pruned to the checked columns), unpivoted via `stack` — adding
      a rule to a table adds a column to its agg, never a scan;
    - FK checks are LEFT ANTI joins that count survivors — Spark
      builds the key hash set once, and a clean table short-circuits
      at the join, no violation rows materialize;
    - the PK check is a groupBy-HAVING on the key only;
    - the temporal rule joins the two fact tables on their join key
      pruned to (key, date) columns.
    All branches union into one 9-row result, so the audit is one
    action and the scheduler interleaves the scans."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    e = load_table(spark, sf_dir, "events")

    def flag(cond) -> F.Column:
        # coalesce: sum over an EMPTY table is NULL, the oracle's
        # count(*) is 0 — an audit of an empty table must agree
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)), F.lit(0)).cast(
            "long"
        )

    def unpivot(df: DataFrame) -> DataFrame:
        pairs = ", ".join(f"'{c}', {c}" for c in df.columns)
        return df.selectExpr(
            f"stack({len(df.columns)}, {pairs}) AS (constraint_name, n_violations)"
        )

    li_vals = unpivot(
        li.agg(
            flag(F.col("l_quantity") > 49).alias("lineitem_bulk_quantity"),
            flag(
                (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
            ).alias("lineitem_discount_range"),
        )
    )
    c_vals = unpivot(
        c.agg(
            flag(F.col("c_acctbal") < 0).alias("customer_negative_acctbal"),
            flag(F.col("c_name").isNull()).alias("customer_null_name"),
        )
    )
    o_vals = unpivot(
        o.agg(
            flag(
                (F.col("o_orderdate") < F.lit("1990-01-01").cast("timestamp_ntz"))
                | (F.col("o_orderdate") >= F.lit("2005-01-01").cast("timestamp_ntz"))
            ).alias("orders_date_out_of_range"),
        )
    )

    def counted(name: str, df: DataFrame) -> DataFrame:
        return df.agg(
            F.lit(name).alias("constraint_name"),
            F.count(F.lit(1)).alias("n_violations"),
        )

    orphan_li = counted(
        "lineitem_orphan_orderkey",
        li.select("l_orderkey").join(
            o.select("o_orderkey"),
            F.col("l_orderkey") == F.col("o_orderkey"),
            "left_anti",
        ),
    )
    orphan_ev = counted(
        "events_orphan_user",
        e.select("user_id").join(
            c.select("c_custkey"),
            F.col("user_id") == F.col("c_custkey"),
            "left_anti",
        ),
    )
    dup_pk = counted(
        "orders_duplicate_pk",
        o.groupBy("o_orderkey").count().filter(F.col("count") > 1),
    )
    ship_before = counted(
        "lineitem_ship_before_order",
        li.select("l_orderkey", "l_shipdate").join(
            o.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).filter(F.col("l_shipdate") < F.col("o_orderdate")),
    )
    out = li_vals
    for part in (c_vals, o_vals, orphan_li, orphan_ev, dup_pk, ship_before):
        out = out.unionByName(part)
    return out.orderBy("constraint_name")


@query(
    "benford_digit_audit",
    oracle=f"""
    WITH digits AS (
        SELECT substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR),
                      1, 1) AS digit
        FROM orders WHERE o_totalprice >= 1.0
    ),
    counts AS (
        SELECT digit, count(*) AS n FROM digits GROUP BY digit
    ),
    tot AS (SELECT sum(n) AS t FROM counts)
    SELECT digit, n,
           {round_sql("n * 1.0 / t", 6)} AS obs_frac,
           {stable_render_sql("ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0)", 6)}
               AS benford_frac,
           {stable_render_sql(
               "t * power(n * 1.0 / t - ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0), 2)"
               " / (ln(1.0 + 1.0 / CAST(digit AS DOUBLE)) / ln(10.0))", 4)}
               AS chi2_term
    FROM counts, tot ORDER BY digit
    """,
)
def benford_digit_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of a monetary column — the
    forensic screen for fabricated/duplicated numeric data (synthetic
    injections skew the leading-digit distribution long before
    summary stats move). Emits per-digit observed vs expected
    frequency and the chi-square contribution; a healthy organic
    column keeps every term small.

    The leading digit comes from floor → BIGINT → string → substr:
    floor on a double is EXACT, so no rounding enters anywhere —
    unlike floor(log10(x)) (libm boundary behavior at powers of ten
    differs between engines) or printf('%.2f') (Java rounds half-up,
    C half-even: 9.995 would flip its leading digit between engines).
    One conditional scan, a 9-row
    aggregate, a 1-row total broadcast: nothing here scales with
    anything but the scan."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1.0)
    counts = (
        o.select(
            F.substring(
                F.floor("o_totalprice").cast("string"), 1, 1
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = counts.agg(F.sum("n").alias("t"))
    benford = F.log(F.lit(1.0) + F.lit(1.0) / F.col("digit").cast("double")) / F.log(
        F.lit(10.0)
    )
    obs = F.col("n") * F.lit(1.0) / F.col("t")
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            round_col(obs, 6).alias("obs_frac"),
            stable_render(benford, 6).alias("benford_frac"),
            stable_render(
                F.col("t") * F.pow(obs - benford, F.lit(2.0)) / benford, 4
            ).alias("chi2_term"),
        )
        .orderBy("digit")
    )


def decile_fractions() -> Column:
    """The nine decile fractions 0.1 .. 0.9 as an array literal."""
    return F.array(*[F.lit(x / 10.0) for x in range(1, 10)])


def psi_share(n: Column, total: Column) -> Column:
    """A bin's Laplace-smoothed share (+0.5 per bin over 10 bins), which
    keeps the PSI log finite when a bin empties."""
    return (n + F.lit(0.5)) / (total + F.lit(5.0))


def psi_term(p_cur: Column, p_ref: Column) -> Column:
    """One bin's PSI contribution (p_cur − p_ref)·ln(p_cur / p_ref)."""
    return (p_cur - p_ref) * F.log(p_cur / p_ref)


@query(
    "psi_drift_by_decile",
    oracle=f"""
    WITH a AS (
        SELECT value FROM events WHERE ts < TIMESTAMP '2024-01-16'
    ),
    b AS (
        SELECT value FROM events WHERE ts >= TIMESTAMP '2024-01-16'
    ),
    cuts AS (
        SELECT quantile_cont(value, [x * 0.1 FOR x IN range(1, 10)]) AS cs
        FROM a
    ),
    binned_a AS (
        SELECT 1 + len(list_filter(c.cs, x -> x < a.value)) AS bin
        FROM a, cuts c
    ),
    binned_b AS (
        SELECT 1 + len(list_filter(c.cs, x -> x < b.value)) AS bin
        FROM b, cuts c
    ),
    counts AS (
        SELECT bin,
               count(*) FILTER (WHERE src = 'a') AS n_a,
               count(*) FILTER (WHERE src = 'b') AS n_b
        FROM (
            SELECT bin, 'a' AS src FROM binned_a
            UNION ALL SELECT bin, 'b' AS src FROM binned_b
        ) GROUP BY bin
    ),
    tot AS (SELECT sum(n_a) AS ta, sum(n_b) AS tb FROM counts)
    SELECT CAST(bin AS BIGINT) AS bin,
           CAST(n_a AS BIGINT) AS n_ref, CAST(n_b AS BIGINT) AS n_cur,
           {round_sql("(n_a + 0.5) / (ta + 5.0)", 6)} AS p_ref,
           {round_sql("(n_b + 0.5) / (tb + 5.0)", 6)} AS p_cur,
           {stable_render_sql(
               "((n_b + 0.5) / (tb + 5.0) - (n_a + 0.5) / (ta + 5.0))"
               " * ln(((n_b + 0.5) / (tb + 5.0)) / ((n_a + 0.5) / (ta + 5.0)))",
               6)} AS psi_term
    FROM counts, tot ORDER BY bin
    """,
)
def psi_drift_by_decile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between a reference and a current
    period — the ML-ops drift gate (PSI > 0.2 = retrain/alert) run
    before every model refresh and every training-data epoch: bin by
    the REFERENCE period's deciles, compare bin mass, sum
    (p_cur - p_ref)·ln(p_cur/p_ref).

    Grid-native like `decile_binning_broadcast_cuts`: the reference
    deciles are ONE percentile aggregate (k-bounded), bin assignment
    is a broadcast cut-array probe on both periods' scans, counts are
    one shuffle over ≤10 bins. Laplace smoothing (+0.5 per bin)
    keeps the log finite when a bin empties — deterministic on both
    engines, no epsilon hacks. Emits per-bin terms so the drifting
    bins are visible, not just the headline sum."""
    e = load_table(spark, sf_dir, "events")
    cut_ts = F.lit("2024-01-16").cast("timestamp_ntz")
    a = e.filter(F.col("ts") < cut_ts).select("value")
    b = e.filter(F.col("ts") >= cut_ts).select("value")
    cuts = a.agg(F.percentile("value", decile_fractions()).alias("cs"))
    bin_of = (
        F.lit(1)
        + F.size(F.filter(F.col("cs"), lambda x: x < F.col("value")))
    ).cast("long")
    binned = (
        a.withColumn("src", F.lit("a"))
        .unionByName(b.withColumn("src", F.lit("b")))
        .crossJoin(F.broadcast(cuts))
        .select(bin_of.alias("bin"), "src")
    )
    counts = binned.groupBy("bin").agg(
        F.sum(F.when(F.col("src") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("src") == "b", 1).otherwise(0)).alias("n_b"),
    )
    tot = counts.agg(F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb"))
    p_ref = psi_share(F.col("n_a"), F.col("ta"))
    p_cur = psi_share(F.col("n_b"), F.col("tb"))
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            F.col("bin").cast("long").alias("bin"),
            F.col("n_a").cast("long").alias("n_ref"),
            F.col("n_b").cast("long").alias("n_cur"),
            round_col(p_ref, 6).alias("p_ref"),
            round_col(p_cur, 6).alias("p_cur"),
            stable_render(psi_term(p_cur, p_ref), 6).alias(
                "psi_term"
            ),
        )
        .orderBy("bin")
    )


@query(
    "ks_test_two_sample",
    oracle=f"""
    WITH a AS (SELECT value FROM events WHERE event_type = 'click'),
    b AS (SELECT value FROM events WHERE event_type = 'purchase'),
    grid AS (
        SELECT quantile_cont(value, [x * 0.01 FOR x IN range(0, 101)]) AS gs
        FROM (SELECT value FROM a UNION ALL SELECT value FROM b)
    ),
    bins AS (
        SELECT src, 1 + len(list_filter(g.gs, x -> x < s.value)) AS bin
        FROM (
            SELECT 'a' AS src, value FROM a
            UNION ALL SELECT 'b' AS src, value FROM b
        ) s, grid g
    ),
    counts AS (
        SELECT bin,
               count(*) FILTER (WHERE src = 'a') AS ca,
               count(*) FILTER (WHERE src = 'b') AS cb
        FROM bins GROUP BY bin
    ),
    tot AS (SELECT sum(ca) AS na, sum(cb) AS nb FROM counts),
    ecdf AS (
        SELECT sum(ca) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) * 1.0 / na AS fa,
               sum(cb) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) * 1.0 / nb AS fb
        FROM counts, tot
    )
    SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
           {round_sql("max(abs(fa - fb))", 6)} AS d_stat,
           {round_sql("1.358 * sqrt((na + nb) * 1.0 / (na * nb))", 6)}
               AS crit_05,
           {round_sql("max(abs(fa - fb))", 6)} >
               {round_sql("1.358 * sqrt((na + nb) * 1.0 / (na * nb))", 6)}
               AS reject_05
    FROM ecdf, tot GROUP BY na, nb
    """,
)
def ks_test_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov test (grid-native): are two
    segments' value distributions the same? D = sup|F_A - F_B|
    evaluated on the pooled distribution's 101-point quantile grid,
    against the α=0.05 critical value 1.358·√((n_a+n_b)/(n_a·n_b)) —
    the distribution-shift companion to `psi_drift_by_decile` (PSI
    is binned mass, KS is worst-case CDF gap).

    The textbook KS sorts the pooled sample globally; the grid
    formulation needs only ONE percentile aggregate + a broadcast
    cut-array probe per row + a 101-row cumulative window — nothing
    global-ordered ever touches the corpus. The reject decision
    compares the ROUNDED statistic to the ROUNDED critical value, so
    the boolean can never diverge at an engine's last ulp."""
    e = load_table(spark, sf_dir, "events")
    a = e.filter(F.col("event_type") == "click").select("value")
    b = e.filter(F.col("event_type") == "purchase").select("value")
    pooled = a.unionByName(b)
    fracs = F.array(*[F.lit(x / 100.0) for x in range(101)])
    grid = pooled.agg(F.percentile("value", fracs).alias("gs"))
    bin_of = (
        F.lit(1) + F.size(F.filter(F.col("gs"), lambda x: x < F.col("value")))
    ).alias("bin")
    bins = (
        a.withColumn("src", F.lit("a"))
        .unionByName(b.withColumn("src", F.lit("b")))
        .crossJoin(F.broadcast(grid))
        .select("src", bin_of)
    )
    counts = bins.groupBy("bin").agg(
        F.sum(F.when(F.col("src") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("src") == "b", 1).otherwise(0)).alias("cb"),
    )
    tot = counts.agg(F.sum("ca").alias("na"), F.sum("cb").alias("nb"))
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    ecdf = counts.crossJoin(F.broadcast(tot)).select(
        (F.sum("ca").over(w) * F.lit(1.0) / F.col("na")).alias("fa"),
        (F.sum("cb").over(w) * F.lit(1.0) / F.col("nb")).alias("fb"),
        "na",
        "nb",
    )
    d_stat = round_col(F.max(F.abs(F.col("fa") - F.col("fb"))), 6)
    crit = round_col(
        F.lit(1.358)
        * F.sqrt((F.col("na") + F.col("nb")) * F.lit(1.0) / (F.col("na") * F.col("nb"))),
        6,
    )
    return ecdf.groupBy("na", "nb").agg(
        d_stat.alias("d_stat"), crit.alias("crit_05")
    ).select(
        F.col("na").cast("long").alias("n_a"),
        F.col("nb").cast("long").alias("n_b"),
        "d_stat",
        "crit_05",
        (F.col("d_stat") > F.col("crit_05")).alias("reject_05"),
    )


# Candidate partition keys for the advisor: (label, DuckDB value
# expression, granularity note). The Spark side mirrors each
# expression exactly.
_PARTITION_CANDIDATES = [
    ("o_orderstatus", "o_orderstatus"),
    ("o_orderpriority", "o_orderpriority"),
    ("month(o_orderdate)", "CAST(date_trunc('month', o_orderdate) AS TIMESTAMP)"),
    ("o_custkey_mod_64", "CAST(o_custkey % 64 AS VARCHAR)"),
]


def _advisor_oracle() -> str:
    parts = []
    for label, expr in _PARTITION_CANDIDATES:
        parts.append(f"""
    SELECT '{label}' AS candidate,
           count(*) AS n_partitions,
           CAST(max(c) AS BIGINT) AS max_rows,
           CAST(min(c) AS BIGINT) AS min_rows,
           {round_sql("100.0 * max(c) / sum(c)", 4)} AS max_share_pct,
           {stable_render_sql("ln(count(*)) * sum(c) / (count(*) * max(c))", 4)}
               AS balance_score
    FROM (SELECT {expr} AS k, count(*) AS c FROM orders GROUP BY 1)""")
    return "\nUNION ALL".join(parts) + "\nORDER BY candidate"


@query("partition_key_advisor", oracle=_advisor_oracle())
def partition_key_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-key advisor: for each candidate layout key, the
    partition count, worst-partition share, and a balance score
    (ln(partitions) x mean/max ratio — rewards many EVEN partitions,
    punishes both too-few and skewed) — the quantified version of the
    layout decision every 100-TB table commits to once and lives
    with. Composes with `join_key_skew_profile` (which judges a
    SHUFFLE key; this judges a STORAGE key, where file-count and
    pruning granularity dominate).

    Each candidate costs one groupBy over its key expression rolled
    into a 1-row summary; candidates union into one action, so the
    scheduler interleaves the scans like `constraint_audit`."""
    o = load_table(spark, sf_dir, "orders")
    exprs = {
        "o_orderstatus": F.col("o_orderstatus"),
        "o_orderpriority": F.col("o_orderpriority"),
        "month(o_orderdate)": F.date_trunc("month", "o_orderdate"),
        "o_custkey_mod_64": (F.col("o_custkey") % 64).cast("string"),
    }
    out = None
    for label, key in exprs.items():
        per = o.groupBy(key.alias("k")).agg(F.count(F.lit(1)).alias("c"))
        summ = per.agg(
            F.lit(label).alias("candidate"),
            F.count(F.lit(1)).alias("n_partitions"),
            F.max("c").cast("long").alias("max_rows"),
            F.min("c").cast("long").alias("min_rows"),
            round_col(
                F.lit(100.0) * F.max("c") / F.sum("c"), 4
            ).alias("max_share_pct"),
            stable_render(
                F.log(F.count(F.lit(1)).cast("double"))
                * F.sum("c")
                / (F.count(F.lit(1)) * F.max("c")),
                4,
            ).alias("balance_score"),
        )
        out = summ if out is None else out.unionByName(summ)
    return out.orderBy("candidate")


# ---------------------------------------------------------------------------
# Classical statistical tests (r8): Mann-Whitney U, chi-square
# independence, Theil-Sen robust trend — the nonparametric companions
# to ks_test_two_sample / price_trend_regression.
# ---------------------------------------------------------------------------


@query(
    "mann_whitney_u_test",
    oracle=f"""
    WITH samples AS (
        SELECT CASE WHEN event_type = 'click' THEN 'a' ELSE 'b' END AS src,
               count(*) AS x
        FROM events WHERE event_type IN ('click', 'purchase')
        GROUP BY user_id, event_type
    ),
    by_x AS (
        SELECT x, count(*) AS n_all,
               count(*) FILTER (WHERE src = 'a') AS ca,
               count(*) FILTER (WHERE src = 'b') AS cb
        FROM samples GROUP BY x
    ),
    ranked AS (
        SELECT ca, cb, n_all,
               coalesce(sum(n_all) OVER (
                   ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) + (n_all + 1) / 2.0 AS avg_rank
        FROM by_x
    ),
    agg AS (
        SELECT CAST(sum(ca) AS BIGINT) AS n_a,
               CAST(sum(cb) AS BIGINT) AS n_b,
               sum(ca * avg_rank) AS r_a,
               CAST(sum(n_all * n_all * n_all - n_all) AS BIGINT) AS tie_t
        FROM ranked
    ),
    stat AS (
        SELECT n_a, n_b, n_a + n_b AS n,
               r_a - n_a * (n_a + 1) / 2.0 AS u_a,
               sqrt(n_a * n_b / 12.0 *
                    ((n_a + n_b + 1) - CAST(tie_t AS DOUBLE) /
                     ((n_a + n_b) * (n_a + n_b - 1)))) AS sigma
        FROM agg
    )
    SELECT n_a, n_b,
           {round_sql("u_a", 2)} AS u_stat,
           {round_sql("(u_a - n_a * n_b / 2.0) / sigma", 4)} AS z_score,
           abs({round_sql("(u_a - n_a * n_b / 2.0) / sigma", 4)}) > 1.96
               AS reject_05
    FROM stat
    """,
)
def mann_whitney_u_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test: do users' per-user
    click counts and purchase counts come from the same distribution?
    Tie-aware average ranks with the standard tie-corrected normal
    approximation; the reject decision compares the ROUNDED |z| to
    1.96 so the boolean can't flip on an engine's last ulp.

    Scale shape: the textbook test ranks the pooled sample globally;
    this formulation aggregates the corpus to per-(user, type) counts
    (one shuffle), then to per-VALUE counts — the rank window runs
    over distinct integer counts (dozens of rows), never the corpus.
    Per-user counts are exact integers, so ranks carry no float
    nondeterminism into the U statistic."""
    e = load_table(spark, sf_dir, "events")
    samples = (
        e.filter(F.col("event_type").isin("click", "purchase"))
        .groupBy("user_id", "event_type")
        .agg(F.count(F.lit(1)).alias("x"))
        .select(
            F.when(F.col("event_type") == "click", "a").otherwise("b").alias("src"),
            "x",
        )
    )
    by_x = samples.groupBy("x").agg(
        F.count(F.lit(1)).alias("n_all"),
        F.sum(F.when(F.col("src") == "a", 1).otherwise(0)).alias("ca"),
        F.sum(F.when(F.col("src") == "b", 1).otherwise(0)).alias("cb"),
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_x.select(
        "ca",
        "cb",
        "n_all",
        (
            F.coalesce(F.sum("n_all").over(w), F.lit(0))
            + (F.col("n_all") + 1) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    agg = ranked.agg(
        F.sum("ca").cast("long").alias("n_a"),
        F.sum("cb").cast("long").alias("n_b"),
        F.sum(F.col("ca") * F.col("avg_rank")).alias("r_a"),
        F.sum(
            F.col("n_all") * F.col("n_all") * F.col("n_all") - F.col("n_all")
        ).cast("long").alias("tie_t"),
    )
    n = F.col("n_a") + F.col("n_b")
    u_a = F.col("r_a") - F.col("n_a") * (F.col("n_a") + 1) / F.lit(2.0)
    sigma = F.sqrt(
        F.col("n_a") * F.col("n_b") / F.lit(12.0)
        * ((n + 1) - F.col("tie_t").cast("double") / (n * (n - 1)))
    )
    z = round_col((u_a - F.col("n_a") * F.col("n_b") / F.lit(2.0)) / sigma, 4)
    return agg.select(
        "n_a",
        "n_b",
        round_col(u_a, 2).alias("u_stat"),
        z.alias("z_score"),
        (F.abs(z) > F.lit(1.96)).alias("reject_05"),
    )


@query(
    "chi_square_independence",
    oracle=f"""
    WITH cells AS (
        SELECT lang, source, count(*) AS obs
        FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, sum(obs) AS row_tot FROM cells GROUP BY lang),
    ct AS (SELECT source, sum(obs) AS col_tot FROM cells GROUP BY source),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS total,
                 CAST(count(DISTINCT lang) AS BIGINT) AS r,
                 CAST(count(DISTINCT source) AS BIGINT) AS c
          FROM cells),
    contrib AS (
        SELECT pow(obs - CAST(row_tot * col_tot AS DOUBLE) / total, 2)
               / (CAST(row_tot * col_tot AS DOUBLE) / total) AS x2
        FROM cells JOIN rt USING (lang) JOIN ct USING (source), n
    )
    SELECT n.r AS n_langs, n.c AS n_sources, n.total AS n_docs,
           (n.r - 1) * (n.c - 1) AS dof,
           {round_sql("sum(x2)", 4)} AS chi2,
           {round_sql(
               "sqrt(sum(x2) / (n.total * least(n.r - 1, n.c - 1)))", 4
           )} AS cramers_v
    FROM contrib, n GROUP BY n.r, n.c, n.total
    """,
)
def chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence on the lang × source
    contingency table, with Cramér's V effect size — the
    composition-drift check a curation pipeline runs to ask "does
    document language depend on source?" before stratifying a mix.

    Scale shape: ONE groupBy collapses the corpus to R×C cells;
    row/column totals and the chi-square sum all run over that
    ~100-row cell table. The expected-count math happens on exact
    integer products cast to double once, so the only float work is
    the final bounded reduction."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(F.count(F.lit(1)).alias("obs"))
    rt = cells.groupBy("lang").agg(F.sum("obs").alias("row_tot"))
    ct = cells.groupBy("source").agg(F.sum("obs").alias("col_tot"))
    n = cells.agg(
        F.sum("obs").cast("long").alias("total"),
        F.countDistinct("lang").cast("long").alias("r"),
        F.countDistinct("source").cast("long").alias("c"),
    )
    exp = (F.col("row_tot") * F.col("col_tot")).cast("double") / F.col("total")
    contrib = (
        cells.join(F.broadcast(rt), "lang")
        .join(F.broadcast(ct), "source")
        .crossJoin(F.broadcast(n))
        .select(
            "r",
            "c",
            "total",
            (F.pow(F.col("obs") - exp, F.lit(2)) / exp).alias("x2"),
        )
    )
    return contrib.groupBy("r", "c", "total").agg(
        round_col(F.sum("x2"), 4).alias("chi2"),
        round_col(
            F.sqrt(F.sum("x2") / (F.col("total") * F.least(F.col("r") - 1, F.col("c") - 1))),
            4,
        ).alias("cramers_v"),
    ).select(
        F.col("r").alias("n_langs"),
        F.col("c").alias("n_sources"),
        F.col("total").alias("n_docs"),
        ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
        "chi2",
        "cramers_v",
    )


@query(
    "theil_sen_trend",
    oracle=f"""
    WITH weekly AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS w,
               count(*) AS y
        FROM orders GROUP BY 1
    ),
    slopes AS (
        SELECT CAST(b.y - a.y AS DOUBLE) / (b.w - a.w) AS slope
        FROM weekly a JOIN weekly b ON a.w < b.w
    ),
    ranked AS (
        SELECT slope, row_number() OVER (ORDER BY slope) AS rn,
               count(*) OVER () AS np
        FROM slopes
    ),
    ts AS (
        SELECT avg(slope) AS ts_slope FROM ranked
        WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
    ),
    ols AS (
        SELECT CAST(count(*) AS BIGINT) AS n_weeks,
               (count(*) * sum(CAST(w * y AS DOUBLE))
                - CAST(sum(w) AS DOUBLE) * sum(y))
               / (count(*) * sum(CAST(w * w AS DOUBLE))
                  - CAST(sum(w) AS DOUBLE) * sum(w)) AS ols_slope
        FROM weekly
    )
    SELECT n_weeks,
           {round_sql("ts_slope", 6)} AS ts_slope,
           {round_sql("ols_slope", 6)} AS ols_slope
    FROM ts, ols
    """,
)
def theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend estimator on weekly order volume: the
    median of all pairwise slopes (outlier-resistant, 29% breakdown
    point), next to the OLS slope it robustifies — the
    trend-monitoring companion to `price_trend_regression`.

    Scale shape: the corpus collapses to ONE row per week (bounded by
    the observation window, not the data volume), so the pairwise
    slope relation is weeks²/2 ≈ 60k rows — constant as data grows.
    The median is taken by exact rank selection (row_number over the
    bounded slope set, average the two middle values), which both
    engines evaluate bit-identically — no reliance on
    percentile-interpolation arithmetic agreeing across engines.
    Weekly y is an exact integer count, so each slope is a single
    float division — deterministic on both sides."""
    weekly = (
        _order_weeks(spark, sf_dir)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    a, b = weekly.alias("a"), weekly.alias("b")
    slopes = a.join(
        F.broadcast(b), F.col("a.w") < F.col("b.w")
    ).select(
        (
            (F.col("b.y") - F.col("a.y")).cast("double")
            / (F.col("b.w") - F.col("a.w"))
        ).alias("slope")
    )
    wr = Window.orderBy("slope")
    ranked = slopes.select(
        "slope",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("np"),
    )
    ts = ranked.filter(
        (F.col("rn") == F.floor((F.col("np") + 1) / 2))
        | (F.col("rn") == F.floor((F.col("np") + 2) / 2))
    ).agg(F.avg("slope").alias("ts_slope"))
    ols = weekly.agg(
        F.count(F.lit(1)).cast("long").alias("n_weeks"),
        (
            (
                F.count(F.lit(1)) * F.sum((F.col("w") * F.col("y")).cast("double"))
                - F.sum("w").cast("double") * F.sum("y")
            )
            / (
                F.count(F.lit(1)) * F.sum((F.col("w") * F.col("w")).cast("double"))
                - F.sum("w").cast("double") * F.sum("w")
            )
        ).alias("ols_slope"),
    )
    return ts.crossJoin(F.broadcast(ols)).select(
        "n_weeks",
        round_col(F.col("ts_slope"), 6).alias("ts_slope"),
        round_col(F.col("ols_slope"), 6).alias("ols_slope"),
    )


@query(
    "spearman_rank_correlation",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               CAST(count(*) AS BIGINT) AS n_orders,
               max(o_totalprice) AS max_price
        FROM orders GROUP BY o_custkey
    ),
    ranked AS (
        SELECT
            rank() OVER (ORDER BY n_orders)
              + (count(*) OVER (PARTITION BY n_orders) - 1) / 2.0 AS rx,
            rank() OVER (ORDER BY max_price)
              + (count(*) OVER (PARTITION BY max_price) - 1) / 2.0 AS ry
        FROM per_cust
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               sum(rx) AS sx, sum(ry) AS sy,
               sum(rx * ry) AS sxy,
               sum(rx * rx) AS sxx, sum(ry * ry) AS syy
        FROM ranked
    )
    SELECT n,
           {round_sql(
               "(n * sxy - sx * sy) / "
               "sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))", 6
           )} AS spearman_rho
    FROM agg
    """,
)
def spearman_rank_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between per-customer order count and
    largest single-order price — the monotone-association companion
    to Pearson (`price_trend_regression`'s corr): robust to outliers
    and nonlinearity, the standard screen before trusting a linear
    fit.

    Exactness: both metrics avoid float accumulation (COUNT is
    integer; MAX picks an existing double, no arithmetic), tie-aware
    average ranks are k+0.5 multiples, and every sum of
    rank-products is a multiple of 0.25 far below 2^53 — so all the
    correlation sums are EXACT in IEEE double on both engines,
    order-independent, and only the final divide/sqrt needs the
    6-decimal rendering.

    Scale shape: one groupBy collapses orders to the customer-bounded
    relation; rank windows run over that reduced relation (the
    adjudicated pattern — `decile_binning_broadcast_cuts` documents
    the broadcast-cuts swap for unbounded group counts)."""
    o = load_table(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.max("o_totalprice").alias("max_price"),
    )
    rx = (
        F.rank().over(Window.orderBy("n_orders"))
        + (F.count(F.lit(1)).over(Window.partitionBy("n_orders")) - 1) / F.lit(2.0)
    ).alias("rx")
    ry = (
        F.rank().over(Window.orderBy("max_price"))
        + (F.count(F.lit(1)).over(Window.partitionBy("max_price")) - 1) / F.lit(2.0)
    ).alias("ry")
    ranked = per_cust.select(rx, ry)
    agg = ranked.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    rho = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return agg.select("n", round_col(rho, 6).alias("spearman_rho"))


@query(
    "welch_t_test",
    oracle=f"""
    WITH {_AB_STATS_SQL}
    SELECT n1, n2,
           {round_sql("m1 - m2", 4)} AS mean_diff,
           {round_sql("(m1 - m2) / sqrt(v1 / n1 + v2 / n2)", 4)} AS t_stat,
           {round_sql(
               "pow(v1 / n1 + v2 / n2, 2) / "
               "(pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1))",
               2
           )} AS welch_df,
           abs({round_sql("(m1 - m2) / sqrt(v1 / n1 + v2 / n2)", 4)}) > 1.96
               AS reject_05
    FROM ab
    """,
)
def welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on event values between the
    click and purchase segments, with the Welch-Satterthwaite degrees
    of freedom — the parametric member of the two-sample family
    (`mann_whitney_u_test` is the rank twin, `ks_test_two_sample` the
    distribution-shape twin). The reject decision compares the
    ROUNDED |t| to the normal critical value (df is in the thousands
    here, where t ≈ z), so the boolean can't flip on a last ulp.

    Scale shape: ONE grouped aggregate collapses the corpus to two
    (n, mean, variance) triples; everything after is scalar
    arithmetic on a 1-row relation. The t statistic is
    sufficient-statistics arithmetic, so no second pass and no
    per-row work beyond the single scan."""
    ab = _ab_stats(spark, sf_dir)
    se2 = F.col("v1") / F.col("n1") + F.col("v2") / F.col("n2")
    t_stat = round_col((F.col("m1") - F.col("m2")) / F.sqrt(se2), 4)
    df_w = round_col(
        F.pow(se2, F.lit(2))
        / (
            F.pow(F.col("v1") / F.col("n1"), F.lit(2)) / (F.col("n1") - 1)
            + F.pow(F.col("v2") / F.col("n2"), F.lit(2)) / (F.col("n2") - 1)
        ),
        2,
    )
    return ab.select(
        "n1",
        "n2",
        round_col(F.col("m1") - F.col("m2"), 4).alias("mean_diff"),
        t_stat.alias("t_stat"),
        df_w.alias("welch_df"),
        (F.abs(t_stat) > F.lit(1.96)).alias("reject_05"),
    )


@query(
    "anova_oneway_f",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               avg(o_totalprice) AS m,
               var_samp(o_totalprice) AS v
        FROM orders GROUP BY o_orderpriority
    ),
    grand AS (
        SELECT CAST(sum(n) AS BIGINT) AS n_all,
               sum(n * m) / sum(n) AS m_all,
               CAST(count(*) AS BIGINT) AS k
        FROM g
    ),
    ss AS (
        SELECT k, n_all,
               sum(n * (m - m_all) * (m - m_all)) AS ssb,
               sum((n - 1) * v) AS ssw
        FROM g CROSS JOIN grand
        GROUP BY k, n_all
    )
    SELECT k, n_all AS n,
           {round_sql("(ssb / (k - 1)) / (ssw / (n_all - k))", 4)} AS f_stat,
           {round_sql("ssb / (ssb + ssw)", 6)} AS eta_sq,
           {round_sql("(ssb / (k - 1)) / (ssw / (n_all - k))", 4)} > 2.372
               AS reject_05
    FROM ss
    """,
)
def anova_oneway_f(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F-test of order value across the five order
    priorities — the k-group generalization of `welch_t_test`
    (equal-variance form): F = (SSB/(k−1))/(SSW/(N−k)), with η² =
    SSB/(SSB+SSW) as the effect size. The reject decision compares
    the ROUNDED F to the df1=4, df2=∞ critical value 2.372, so the
    boolean can't flip on an engine's last ulp.

    Determinism: SSB is computed as Σn_g(m_g − m)² — the means are
    differenced BEFORE squaring, so the catastrophic-cancellation form
    Σn_g·m_g² − N·m² (whose ulp noise scales with the uncentered
    second moment) never appears; remaining cross-engine accumulation
    noise is ~1e−10 relative and the outputs are O(1)-magnitude
    ratios rounded at 4-6dp. Scale shape: ONE grouped aggregate
    collapses the corpus to k=5 sufficient-statistic rows; everything
    after is arithmetic on a broadcast scalar."""
    o = load_table(spark, sf_dir, "orders")
    g = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.avg("o_totalprice").alias("m"),
        F.var_samp("o_totalprice").alias("v"),
    )
    # grand totals via a partitionless window over the k=5 group rows
    # (NOT a second aggregate of g — that re-derives g's lineage and
    # scans orders twice; the single-partition window is over 5 rows,
    # so the WindowExec everything-to-one-partition caveat is moot)
    w_all = Window.partitionBy()
    gg = g.select(
        "n",
        "m",
        "v",
        F.sum("n").over(w_all).cast("long").alias("n_all"),
        (F.sum(F.col("n") * F.col("m")).over(w_all) / F.sum("n").over(w_all))
        .alias("m_all"),
        F.count(F.lit(1)).over(w_all).cast("long").alias("k"),
    )
    dm = F.col("m") - F.col("m_all")
    ss = gg.groupBy("k", "n_all").agg(
        F.sum(F.col("n") * dm * dm).alias("ssb"),
        F.sum((F.col("n") - 1) * F.col("v")).alias("ssw"),
    )
    f_stat = round_col(
        (F.col("ssb") / (F.col("k") - 1)) / (F.col("ssw") / (F.col("n_all") - F.col("k"))),
        4,
    )
    return ss.select(
        "k",
        F.col("n_all").alias("n"),
        f_stat.alias("f_stat"),
        round_col(F.col("ssb") / (F.col("ssb") + F.col("ssw")), 6).alias("eta_sq"),
        (f_stat > F.lit(2.372)).alias("reject_05"),
    )


@query(
    "kendall_tau_daily",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS n_orders,
               CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS rev_cents
        FROM orders GROUP BY CAST(o_orderdate AS DATE)
    ),
    pairs AS (
        SELECT a.n_orders AS xa, a.rev_cents AS ya,
               b.n_orders AS xb, b.rev_cents AS yb
        FROM daily a JOIN daily b ON a.day < b.day
    ),
    counts AS (
        SELECT
            CAST(sum(CASE WHEN (xa - xb) * (ya - yb) > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS concordant,
            CAST(sum(CASE WHEN (xa - xb) * (ya - yb) < 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS discordant,
            CAST(sum(CASE WHEN xa = xb AND ya <> yb THEN 1 ELSE 0 END)
                 AS BIGINT) AS ties_x,
            CAST(sum(CASE WHEN ya = yb AND xa <> xb THEN 1 ELSE 0 END)
                 AS BIGINT) AS ties_y,
            CAST(count(*) AS BIGINT) AS n_pairs
        FROM pairs
    )
    SELECT n_pairs, concordant, discordant, ties_x, ties_y,
           {round_sql(
               "(concordant - discordant) / "
               "(sqrt(CAST(n_pairs - ties_x AS DOUBLE)) * "
               " sqrt(CAST(n_pairs - ties_y AS DOUBLE)))",
               6
           )} AS tau_b
    FROM counts
    """,
)
def kendall_tau_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b rank correlation between daily order count and
    daily revenue — the concordance-based member of the correlation
    family (`spearman_rank_correlation` is the rank-moment member):
    τ-b = (C − D)/√((n₀−t_x)(n₀−t_y)) with tie corrections.

    Determinism: revenue is fixed to integer cents BEFORE pairing, so
    every concordance comparison is exact BIGINT sign arithmetic —
    doubles appear only in the final single-row √ ratio (sqrt is
    IEEE-correctly-rounded, identical across engines), rounded 6dp.

    Scale shape: the corpus collapses to CALENDAR-BOUNDED daily rows
    first (one shuffle), and the O(days²) pair join runs over that
    bounded relation — ~2.4k days even at 100 TB keeps pairs under
    3M forever, while a per-customer pairing would go quadratic in
    the corpus. The O(n log n) merge-sort tau exists for unbounded
    keys; on a calendar-bounded axis the simple pair join is the
    faster plan (no sort, no driver state)."""
    o = load_table(spark, sf_dir, "orders")
    # materialize the calendar-bounded daily rollup before the pair
    # self-join — without this the self-join's two branches each
    # replay the full orders scan+aggregate lineage
    daily = (
        o.groupBy(F.col("o_orderdate").cast("date").alias("day"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("rev_cents"),
        )
        .localCheckpoint()
    )
    a = daily.select(
        F.col("day").alias("day_a"),
        F.col("n_orders").alias("xa"),
        F.col("rev_cents").alias("ya"),
    )
    b = daily.select(
        F.col("day").alias("day_b"),
        F.col("n_orders").alias("xb"),
        F.col("rev_cents").alias("yb"),
    )
    pairs = a.join(b, F.col("day_a") < F.col("day_b"))
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    counts = pairs.agg(
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long").alias("concordant"),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long").alias("discordant"),
        F.sum(
            F.when((F.col("xa") == F.col("xb")) & (F.col("ya") != F.col("yb")), 1)
            .otherwise(0)
        ).cast("long").alias("ties_x"),
        F.sum(
            F.when((F.col("ya") == F.col("yb")) & (F.col("xa") != F.col("xb")), 1)
            .otherwise(0)
        ).cast("long").alias("ties_y"),
        F.count(F.lit(1)).cast("long").alias("n_pairs"),
    )
    tau = (F.col("concordant") - F.col("discordant")) / (
        F.sqrt((F.col("n_pairs") - F.col("ties_x")).cast("double"))
        * F.sqrt((F.col("n_pairs") - F.col("ties_y")).cast("double"))
    )
    return counts.select(
        "n_pairs",
        "concordant",
        "discordant",
        "ties_x",
        "ties_y",
        round_col(tau, 6).alias("tau_b"),
    )


@query(
    "tukey_hsd_pairwise",
    oracle=f"""
    WITH g AS (
        SELECT o_orderpriority AS grp,
               CAST(count(*) AS BIGINT) AS n,
               avg(o_totalprice) AS m,
               var_samp(o_totalprice) AS v
        FROM orders GROUP BY o_orderpriority
    ),
    msw AS (
        SELECT sum((n - 1) * v) / sum(n - 1) AS s2 FROM g
    ),
    pairs AS (
        SELECT a.grp AS grp_a, b.grp AS grp_b,
               a.n AS na, b.n AS nb, a.m AS ma, b.m AS mb, s2
        FROM g a JOIN g b ON a.grp < b.grp CROSS JOIN msw
    )
    SELECT grp_a, grp_b, na, nb,
           {round_sql("ma - mb", 4)} AS mean_diff,
           {round_sql(
               "abs(ma - mb) / sqrt(s2 / 2 * (1.0 / na + 1.0 / nb))", 4
           )} AS q_stat,
           {round_sql(
               "abs(ma - mb) / sqrt(s2 / 2 * (1.0 / na + 1.0 / nb))", 4
           )} > 3.858 AS reject_05
    FROM pairs ORDER BY grp_a, grp_b
    """,
)
def tukey_hsd_pairwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tukey's HSD post-hoc test: all 10 pairwise order-priority mean
    comparisons after `anova_oneway_f`, on the studentized-range
    scale q = |mᵢ−mⱼ|/√(MSW/2·(1/nᵢ+1/nⱼ)) against the k=5, df=∞
    critical value 3.858 — the multiple-comparisons follow-up every
    ANOVA needs (10 naive t-tests at α=.05 would inflate the
    family-wise error to ~40%). Reject decisions compare the ROUNDED
    q, so no boolean flips on a last ulp.

    Scale shape: ONE grouped scan collapses the corpus to k=5
    sufficient-statistic rows (materialized before pairing so the
    k² self-join can't replay the corpus scan); the pair set is
    k(k−1)/2 = 10 rows of scalar arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    g = (
        o.groupBy(F.col("o_orderpriority").alias("grp"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.avg("o_totalprice").alias("m"),
            F.var_samp("o_totalprice").alias("v"),
        )
        .localCheckpoint()
    )
    msw = g.agg(
        (F.sum((F.col("n") - 1) * F.col("v")) / F.sum(F.col("n") - 1)).alias("s2")
    )
    a = g.select(
        F.col("grp").alias("grp_a"), F.col("n").alias("na"), F.col("m").alias("ma")
    )
    b = g.select(
        F.col("grp").alias("grp_b"), F.col("n").alias("nb"), F.col("m").alias("mb")
    )
    pairs = a.join(b, F.col("grp_a") < F.col("grp_b")).crossJoin(F.broadcast(msw))
    q_stat = round_col(
        F.abs(F.col("ma") - F.col("mb"))
        / F.sqrt(
            F.col("s2") / 2 * (1.0 / F.col("na") + 1.0 / F.col("nb"))
        ),
        4,
    )
    return pairs.select(
        "grp_a",
        "grp_b",
        "na",
        "nb",
        round_col(F.col("ma") - F.col("mb"), 4).alias("mean_diff"),
        q_stat.alias("q_stat"),
        (q_stat > F.lit(3.858)).alias("reject_05"),
    ).orderBy("grp_a", "grp_b")


@query(
    "fano_burstiness",
    oracle=f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               CAST(count(*) AS BIGINT) AS c
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    stats AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_days,
               CAST(sum(c) AS BIGINT) AS s1,
               CAST(sum(c * c) AS BIGINT) AS s2
        FROM daily GROUP BY event_type
    )
    SELECT event_type, n_days, s1 AS n_events,
           {round_sql("CAST(s1 AS DOUBLE) / n_days", 4)} AS mean_daily,
           {round_sql(
               "(CAST(n_days AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)"
               " / (CAST(n_days AS DOUBLE) * (n_days - 1))"
               " / (CAST(s1 AS DOUBLE) / n_days)",
               4
           )} AS fano_factor
    FROM stats ORDER BY event_type
    """,
)
def fano_burstiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness of the event stream per event type: the Fano factor
    var(daily count)/mean(daily count) — 1 for a Poisson process,
    >1 for bursty arrival (flash crowds, bot storms), <1 for
    regularized traffic. The dispersion diagnostic that decides
    whether rate-based anomaly thresholds (`anomaly_zscore_daily`)
    can assume Poisson noise.

    Determinism: daily counts are exact BIGINTs, and the variance is
    computed from BIGINT sufficient statistics (n·Σc²−(Σc)²) — both
    engines do exact integer arithmetic until the final divisions,
    rounded 4dp. Scale shape: one (type, day) aggregate bounded by
    types × calendar days, then a k-row rollup."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    stats = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.sum("c").cast("long").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("s2"),
    )
    nd = F.col("n_days").cast("double")
    var = (nd * F.col("s2") - F.col("s1").cast("double") * F.col("s1")) / (
        nd * (F.col("n_days") - 1)
    )
    mean = F.col("s1").cast("double") / F.col("n_days")
    return stats.select(
        "event_type",
        "n_days",
        F.col("s1").alias("n_events"),
        round_col(mean, 4).alias("mean_daily"),
        round_col(var / mean, 4).alias("fano_factor"),
    ).orderBy("event_type")


@query(
    "wilcoxon_signed_rank",
    oracle=f"""
    WITH {_PRE_POST_SQL},
    diffs AS (
        SELECT post_c - pre_c AS d, abs(post_c - pre_c) AS ad
        FROM per_user WHERE post_c <> pre_c
    ),
    by_val AS (
        SELECT ad, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_pos
        FROM diffs GROUP BY ad
    ),
    ranked AS (
        SELECT ad, t, n_pos,
               CAST(coalesce(sum(t) OVER (
                   ORDER BY ad ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
        FROM by_val
    ),
    agg AS (
        SELECT CAST(sum(t) AS BIGINT) AS n,
               CAST(sum((2 * cum_prev + t + 1) * n_pos) AS BIGINT) AS w2,
               CAST(sum(t * t * t - t) AS BIGINT) AS tie3
        FROM ranked
    )
    SELECT n, w2 AS w_plus_x2,
           {round_sql(
               "(w2 / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4)"
               " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24"
               "        - CAST(tie3 AS DOUBLE) / 48)",
               4
           )} AS z_stat,
           abs({round_sql(
               "(w2 / 2.0 - CAST(n AS DOUBLE) * (n + 1) / 4)"
               " / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24"
               "        - CAST(tie3 AS DOUBLE) / 48)",
               4
           )}) > 1.96 AS reject_05
    FROM agg
    """,
)
def wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test of per-user pre- vs post-period event
    value (split at the house 2024-01-16 boundary) — the PAIRED member
    completing the two-sample family (`welch_t_test` parametric
    unpaired, `mann_whitney_u_test` rank unpaired, `ks_test_two_sample`
    shape): zero-diff users drop per the standard procedure, |diffs|
    get tie-averaged ranks, W⁺ sums the positive-diff ranks, and the
    normal approximation with tie correction gives
    z = (W⁺−n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48).

    Determinism: period sums fix to integer cents, so diffs and
    |diffs| are exact BIGINTs; ranks follow the `mann_whitney_u_test`
    discipline — averaged over per-VALUE counts (the rank window runs
    over distinct |diff| values, never the corpus), and doubled
    (2·cum_prev+t+1) so W⁺×2 is an exact BIGINT; doubles appear only
    in the final z, rounded 4dp with the reject taken on the rounded
    value. Scale shape: one user-keyed aggregate, one value-keyed
    aggregate, then scalar arithmetic."""
    per_user = _pre_post_cents(spark, sf_dir)
    diffs = per_user.filter(F.col("post_c") != F.col("pre_c")).select(
        (F.col("post_c") - F.col("pre_c")).alias("d"),
        F.abs(F.col("post_c") - F.col("pre_c")).alias("ad"),
    )
    by_val = diffs.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias(
            "n_pos"
        ),
    )
    w_prev = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_val.select(
        "ad",
        "t",
        "n_pos",
        F.coalesce(F.sum("t").over(w_prev), F.lit(0)).cast("long").alias(
            "cum_prev"
        ),
    )
    agg = ranked.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum((2 * F.col("cum_prev") + F.col("t") + 1) * F.col("n_pos"))
        .cast("long")
        .alias("w2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3"),
    )
    nd = F.col("n").cast("double")
    z = round_col(
        (F.col("w2") / 2.0 - nd * (F.col("n") + 1) / 4)
        / F.sqrt(
            nd * (F.col("n") + 1) * (2 * F.col("n") + 1) / 24
            - F.col("tie3").cast("double") / 48
        ),
        4,
    )
    return agg.select(
        "n",
        F.col("w2").alias("w_plus_x2"),
        z.alias("z_stat"),
        (F.abs(z) > F.lit(1.96)).alias("reject_05"),
    )


@query(
    "kruskal_wallis_h",
    oracle=f"""
    WITH samples AS (
        SELECT event_type AS g, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY user_id, event_type
    ),
    by_x AS (
        SELECT x, CAST(count(*) AS BIGINT) AS n_all
        FROM samples GROUP BY x
    ),
    ranked AS (
        SELECT x,
               n_all,
               coalesce(sum(n_all) OVER (
                   ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) + (n_all + 1) / 2.0 AS avg_rank
        FROM by_x
    ),
    cells AS (
        SELECT g, x, CAST(count(*) AS BIGINT) AS c
        FROM samples GROUP BY g, x
    ),
    grp AS (
        SELECT cells.g, CAST(sum(c) AS BIGINT) AS n_g,
               sum(c * avg_rank) AS r_g
        FROM cells JOIN ranked USING (x) GROUP BY cells.g
    ),
    tot AS (
        SELECT CAST(sum(n_g) AS BIGINT) AS n,
               CAST(count(*) AS BIGINT) AS k
        FROM grp
    ),
    tie AS (
        SELECT CAST(sum(n_all * n_all * n_all - n_all) AS BIGINT) AS t3
        FROM by_x
    ),
    h AS (
        SELECT k, n,
               12.0 / (CAST(n AS DOUBLE) * (n + 1))
               * sum(n_g * (r_g / n_g - (n + 1) / 2.0)
                         * (r_g / n_g - (n + 1) / 2.0)) AS h_raw,
               1.0 - CAST(t3 AS DOUBLE)
                     / (CAST(n AS DOUBLE) * n * n - n) AS corr
        FROM grp CROSS JOIN tot CROSS JOIN tie
        GROUP BY k, n, t3
    )
    SELECT k AS k_groups, n AS n_samples, k - 1 AS dof,
           {round_sql("h_raw", 4)} AS h_stat,
           {round_sql("h_raw / corr", 4)} AS h_tied,
           {round_sql("h_raw / corr", 4)} > CASE k - 1
               WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
               WHEN 4 THEN 9.488 WHEN 5 THEN 11.07 WHEN 6 THEN 12.592
           END AS reject_05
    FROM h
    """,
)
def kruskal_wallis_h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H: the k-sample generalization of
    `mann_whitney_u_test` — do users' per-user event counts differ in
    distribution ACROSS ALL event types at once? Tie-averaged ranks
    over pooled samples, deviation-form H (no large-term
    cancellation), the standard tie correction H/(1−Σ(t³−t)/(N³−N)),
    and a broadcast χ² critical-value lookup keyed by k−1 so the
    reject bit is reproducible.

    Determinism: samples are exact integer counts, so the rank table
    is exact (ranks are integer halves); each group's rank sum
    accumulates exact halves; the only cross-engine float sums run
    over the k-row group table in deviation form — positive,
    similar-magnitude terms whose 1-ulp order sensitivity sits ~10
    orders below the 4dp rounding. Scale shape: corpus → per-(user,
    type) counts (one shuffle) → per-VALUE rank table (distinct
    integer counts, dozens of rows, broadcast back) → k-row group
    table; no corpus-sized window anywhere."""
    e = load_table(spark, sf_dir, "events")
    samples = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    ).select(F.col("event_type").alias("g"), "x")
    by_x = samples.groupBy("x").agg(
        F.count(F.lit(1)).cast("long").alias("n_all")
    )
    w = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_x.select(
        "x",
        "n_all",
        (
            F.coalesce(F.sum("n_all").over(w), F.lit(0))
            + (F.col("n_all") + 1) / F.lit(2.0)
        ).alias("avg_rank"),
    )
    cells = samples.groupBy("g", "x").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    grp = (
        cells.join(F.broadcast(ranked), "x")
        .groupBy("g")
        .agg(
            F.sum("c").cast("long").alias("n_g"),
            F.sum(F.col("c") * F.col("avg_rank")).alias("r_g"),
        )
    )
    tot = grp.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
    )
    tie = by_x.agg(
        F.sum(
            F.col("n_all") * F.col("n_all") * F.col("n_all") - F.col("n_all")
        ).cast("long").alias("t3")
    )
    nd = F.col("n").cast("double")
    dev = F.col("r_g") / F.col("n_g") - (F.col("n") + 1) / F.lit(2.0)
    h = (
        grp.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(tie))
        .groupBy("k", "n", "t3")
        .agg(
            (
                F.lit(12.0) / (nd * (F.col("n") + 1))
                * F.sum(F.col("n_g") * dev * dev)
            ).alias("h_raw")
        )
        .select(
            "k",
            "n",
            "h_raw",
            (
                F.lit(1.0)
                - F.col("t3").cast("double") / (nd * F.col("n") * F.col("n") - F.col("n"))
            ).alias("corr"),
        )
    )
    crit = _chi2_crit_95(F.col("k") - 1)
    h_tied = round_col(F.col("h_raw") / F.col("corr"), 4)
    return h.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_samples"),
        (F.col("k") - 1).alias("dof"),
        round_col(F.col("h_raw"), 4).alias("h_stat"),
        h_tied.alias("h_tied"),
        (h_tied > crit).alias("reject_05"),
    )


@query(
    "mcnemar_paired_test",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               max(CASE WHEN event_type = 'purchase'
                        AND ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END) AS pre,
               max(CASE WHEN event_type = 'purchase'
                        AND ts >= TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END) AS post
        FROM events GROUP BY user_id
    ),
    cells AS (
        SELECT CAST(sum(CASE WHEN pre = 1 AND post = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n11,
               CAST(sum(CASE WHEN pre = 1 AND post = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS b,
               CAST(sum(CASE WHEN pre = 0 AND post = 1 THEN 1 ELSE 0 END)
                    AS BIGINT) AS c,
               CAST(sum(CASE WHEN pre = 0 AND post = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n00
        FROM per_user
    )
    SELECT n11, b AS pre_only, c AS post_only, n00,
           CASE WHEN b + c = 0 THEN 0.0 ELSE
               {round_sql(
                   "(abs(b - c) - 1) * (abs(b - c) - 1)"
                   " / CAST(b + c AS DOUBLE)",
                   4
               )}
           END AS chi2_cc,
           CASE WHEN b + c = 0 THEN FALSE ELSE
               {round_sql(
                   "(abs(b - c) - 1) * (abs(b - c) - 1)"
                   " / CAST(b + c AS DOUBLE)",
                   4
               )} > 3.841
           END AS reject_05
    FROM cells
    """,
)
def mcnemar_paired_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's test on paired binary outcomes: did each user's
    'makes a purchase' bit change between the pre- and post-period
    (the house 2024-01-16 split)? Only the discordant cells matter —
    χ² = (|b−c|−1)²/(b+c) with Edwards' continuity correction against
    χ²₁ = 3.841 — the paired-binary member closing the test family
    (`welch_t_test` paired-free means, `wilcoxon_signed_rank` paired
    ordinal, this one paired binary).

    Determinism: the whole statistic is integer arithmetic over four
    exact cells until ONE final division, rounded 4dp with the reject
    taken on the rounded value; b+c=0 degenerates to 0/false rather
    than NULL. Scale shape: one user-keyed aggregate collapses the
    corpus; everything after is a 1-row scalar frame."""
    e = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16").cast("timestamp_ntz")
    is_p = F.col("event_type") == "purchase"
    per_user = e.groupBy("user_id").agg(
        F.max(F.when(is_p & (F.col("ts") < cut), 1).otherwise(0)).alias("pre"),
        F.max(F.when(is_p & (F.col("ts") >= cut), 1).otherwise(0)).alias(
            "post"
        ),
    )
    cells = per_user.agg(
        F.sum(F.when((F.col("pre") == 1) & (F.col("post") == 1), 1).otherwise(0))
        .cast("long")
        .alias("n11"),
        F.sum(F.when((F.col("pre") == 1) & (F.col("post") == 0), 1).otherwise(0))
        .cast("long")
        .alias("b"),
        F.sum(F.when((F.col("pre") == 0) & (F.col("post") == 1), 1).otherwise(0))
        .cast("long")
        .alias("c"),
        F.sum(F.when((F.col("pre") == 0) & (F.col("post") == 0), 1).otherwise(0))
        .cast("long")
        .alias("n00"),
    )
    d = F.abs(F.col("b") - F.col("c"))
    chi2 = round_col(
        ((d - 1) * (d - 1)).cast("double") / (F.col("b") + F.col("c")), 4
    )
    zero = (F.col("b") + F.col("c")) == 0
    chi2_cc = F.when(zero, F.lit(0.0)).otherwise(chi2)
    return cells.select(
        "n11",
        F.col("b").alias("pre_only"),
        F.col("c").alias("post_only"),
        "n00",
        chi2_cc.alias("chi2_cc"),
        F.when(zero, F.lit(False)).otherwise(chi2 > 3.841).alias("reject_05"),
    )


@query(
    "brown_forsythe_levene",
    oracle=f"""
    WITH cells AS (
        SELECT event_type AS g,
               CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
               CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY 1, 2
    ),
    grp_n AS (
        SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g FROM cells GROUP BY g
    ),
    cum AS (
        SELECT g, cents, cnt,
               CAST(sum(cnt) OVER (
                   PARTITION BY g ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS c
        FROM cells
    ),
    med AS (
        SELECT cum.g,
               min(CASE WHEN c >= (n_g + 1) // 2 THEN cents END)
               + min(CASE WHEN c >= n_g // 2 + 1 THEN cents END) AS med2
        FROM cum JOIN grp_n ON cum.g = grp_n.g
        GROUP BY cum.g
    ),
    dev AS (
        SELECT cells.g, cnt, abs(2 * cents - med2) AS ad2
        FROM cells JOIN med ON cells.g = med.g
    ),
    grp AS (
        SELECT g, CAST(sum(cnt) AS BIGINT) AS n_g,
               CAST(sum(cnt * ad2) AS BIGINT) AS r_g,
               CAST(sum(cnt * ad2 * ad2) AS BIGINT) AS s_g
        FROM dev GROUP BY g
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_g) AS BIGINT) AS n,
               CAST(sum(r_g) AS BIGINT) AS r,
               CAST(sum(s_g) AS BIGINT) AS s,
               sum(CAST(r_g AS DOUBLE) * r_g / n_g) AS ssb_sum
        FROM grp
    )
    SELECT k AS k_groups, n AS n_samples,
           k - 1 AS dof1, n - k AS dof2,
           {round_sql(
               "((ssb_sum - CAST(r AS DOUBLE) * r / n) / (k - 1))"
               " / ((s - ssb_sum) / (n - k))",
               4
           )} AS f_stat
    FROM tot
    """,
)
def brown_forsythe_levene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown-Forsythe (median-based Levene) test of variance
    homogeneity across event types: one-way ANOVA F on |x − median_g|
    — the robust 'are the spreads equal' gate that decides between
    `anova_oneway_f` (pooled variance assumed) and `welch_t_test`
    (unequal variances) machinery.

    Determinism: values fix to integer cents; each group's median is
    exact rank selection over the per-(group, value) count table
    (avg of the two middle order statistics, kept ×2 so med2 is an
    exact BIGINT); deviations |2x − med2| are exact BIGINTs whose
    scale factor cancels in F; Σcnt·ad2 and Σcnt·ad2² stay in exact
    BIGINT range (~1e15 at sf1); the only float work is the k-row
    ssb reduction and one final division, rounded 4dp. Scale shape:
    corpus → (group, value)-count cells in one shuffle; the median
    window partitions BY GROUP over the bounded distinct-value
    relation; everything after is k rows."""
    e = load_table(spark, sf_dir, "events")
    cells = e.groupBy(
        F.col("event_type").alias("g"),
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    ).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cells = cells.localCheckpoint()
    grp_n = cells.groupBy("g").agg(F.sum("cnt").cast("long").alias("n_g"))
    w = (
        Window.partitionBy("g")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = cells.select(
        "g", "cents", F.sum("cnt").over(w).cast("long").alias("c")
    )
    med = (
        cum.join(F.broadcast(grp_n), "g")
        .groupBy("g")
        .agg(
            (
                F.min(
                    F.when(
                        F.col("c") >= F.floor((F.col("n_g") + 1) / 2),
                        F.col("cents"),
                    )
                )
                + F.min(
                    F.when(
                        F.col("c") >= F.floor(F.col("n_g") / 2) + 1,
                        F.col("cents"),
                    )
                )
            ).alias("med2")
        )
    )
    dev = cells.join(F.broadcast(med), "g").select(
        "g",
        "cnt",
        F.abs(F.lit(2) * F.col("cents") - F.col("med2")).alias("ad2"),
    )
    grp = dev.groupBy("g").agg(
        F.sum("cnt").cast("long").alias("n_g"),
        F.sum(F.col("cnt") * F.col("ad2")).cast("long").alias("r_g"),
        F.sum(F.col("cnt") * F.col("ad2") * F.col("ad2"))
        .cast("long")
        .alias("s_g"),
    )
    tot = grp.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_g").cast("long").alias("n"),
        F.sum("r_g").cast("long").alias("r"),
        F.sum("s_g").cast("long").alias("s"),
        F.sum(
            F.col("r_g").cast("double") * F.col("r_g") / F.col("n_g")
        ).alias("ssb_sum"),
    )
    ssb = F.col("ssb_sum") - F.col("r").cast("double") * F.col("r") / F.col("n")
    ssw = F.col("s") - F.col("ssb_sum")
    f_stat = round_col(
        (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 4
    )
    return tot.select(
        F.col("k").alias("k_groups"),
        F.col("n").alias("n_samples"),
        (F.col("k") - 1).alias("dof1"),
        (F.col("n") - F.col("k")).alias("dof2"),
        f_stat.alias("f_stat"),
    )


# ---------------------------------------------------------------------------
# jarque_bera_normality — moment-based normality test on exact counts
# ---------------------------------------------------------------------------


@query(
    "jarque_bera_normality",
    oracle=f"""
    WITH samples AS (
        SELECT CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY user_id
    ),
    pows AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS s1,
               CAST(sum(x * x) AS BIGINT) AS s2,
               CAST(sum(x * x * x) AS BIGINT) AS s3,
               CAST(sum(x * x * x * x) AS BIGINT) AS s4
        FROM samples
    ),
    mom AS (
        SELECT n,
               CAST(s1 AS DOUBLE) / n AS m,
               CAST(s2 AS DOUBLE) / n AS r2,
               CAST(s3 AS DOUBLE) / n AS r3,
               CAST(s4 AS DOUBLE) / n AS r4
        FROM pows
    ),
    cm AS (
        SELECT n, m,
               r2 - m * m AS m2,
               r3 - 3 * m * r2 + 2 * m * m * m AS m3,
               r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m AS m4
        FROM mom
    ),
    jb AS (
        SELECT n,
               m3 / (m2 * sqrt(m2)) AS skew,
               m4 / (m2 * m2) - 3 AS kurt_x,
               n / 6.0 * (m3 / (m2 * sqrt(m2)) * (m3 / (m2 * sqrt(m2)))
                          + (m4 / (m2 * m2) - 3) * (m4 / (m2 * m2) - 3) / 4.0)
                   AS jb_stat
        FROM cm
    )
    SELECT n AS n_samples,
           {round_sql("skew", 4)} AS skewness,
           {round_sql("kurt_x", 4)} AS excess_kurtosis,
           {round_sql("jb_stat", 4)} AS jb_stat,
           {round_sql("jb_stat", 4)} > 5.991 AS reject_05
    FROM jb
    """,
)
def jarque_bera_normality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality test on the per-user activity-count
    distribution — the moment-based screen (skewness + excess
    kurtosis vs the chi-square-2 null) an analyst runs before
    trusting z-based tests like `welch_t_test` on the same samples.

    Determinism: samples are exact BIGINT counts, so the four raw
    power sums S1..S4 are exact integers in both engines (DuckDB's
    HUGEINT sums are cast back to BIGINT, per the r7 type-guard
    rule); every float op after that runs on one row with an
    identical expression tree — no cross-engine accumulation-order
    surface at all. sqrt is IEEE-exact. Scale shape: one count
    shuffle, then a single-row closed form; nothing holds state
    bigger than five BIGINTs per partial.

    Safe scale bound (r8 ADVICE): S4 = Σx⁴ accumulates in LONG, so
    the exact-parity guarantee holds while n_users · max(x)⁴ < 2⁶³
    — e.g. 10⁹ users at ≤1,500 events each, or 10⁶ users at ≤9,700.
    Beyond that Spark non-ANSI arithmetic would wrap silently while
    DuckDB's HUGEINT→BIGINT cast errors; for such corpora winsorize
    the counts first or move the S3/S4 accumulation to DOUBLE on
    BOTH sides (the 4dp rounding absorbs the float error)."""
    e = load_table(spark, sf_dir, "events")
    x = F.col("x")
    pows = (
        e.groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("x"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(x).cast("long").alias("s1"),
            F.sum(x * x).cast("long").alias("s2"),
            F.sum(x * x * x).cast("long").alias("s3"),
            F.sum(x * x * x * x).cast("long").alias("s4"),
        )
    )
    n = F.col("n").cast("double")
    m = F.col("s1") / n
    r2 = F.col("s2") / n
    r3 = F.col("s3") / n
    r4 = F.col("s4") / n
    m2 = r2 - m * m
    m3 = r3 - 3 * m * r2 + 2 * m * m * m
    m4 = r4 - 4 * m * r3 + 6 * m * m * r2 - 3 * m * m * m * m
    skew = m3 / (m2 * F.sqrt(m2))
    kurt = m4 / (m2 * m2) - 3
    jb = n / F.lit(6.0) * (skew * skew + kurt * kurt / F.lit(4.0))
    return pows.select(
        F.col("n").alias("n_samples"),
        round_col(skew, 4).alias("skewness"),
        round_col(kurt, 4).alias("excess_kurtosis"),
        round_col(jb, 4).alias("jb_stat"),
        (round_col(jb, 4) > F.lit(5.991)).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# durbin_watson_autocorr — serial correlation of trend residuals
# ---------------------------------------------------------------------------


@query(
    "durbin_watson_autocorr",
    oracle=f"""
    WITH daily AS ({DAILY_REV_CENTS_SQL}),
    seq AS (
        SELECT CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn,
               rev_cents AS y
        FROM daily
    ),
    sums AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(rn) AS BIGINT) AS sx,
               CAST(sum(rn * rn) AS BIGINT) AS sxx,
               CAST(sum(y) AS BIGINT) AS sy,
               CAST(sum(rn * y) AS BIGINT) AS sxy
        FROM seq
    ),
    fit AS (
        SELECT n,
               (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
               / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS b,
               (CAST(sy AS DOUBLE)
                - (n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                  / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                  * sx) / n AS a
        FROM sums
    ),
    resid AS (
        SELECT rn,
               CAST(y AS DOUBLE) - (a + b * rn) AS e
        FROM seq CROSS JOIN fit
    ),
    dw AS (
        SELECT sum((e - le) * (e - le)) AS num,
               sum(e * e) AS den
        FROM (
            SELECT e, lag(e) OVER (ORDER BY rn) AS le FROM resid
        ) WHERE le IS NOT NULL
    )
    SELECT (SELECT n FROM fit) AS n_days,
           {round_sql("(SELECT b FROM fit)", 4)} AS slope_cents_per_day,
           {round_sql("num / den", 4)} AS dw_stat,
           {round_sql("num / den", 4)} < 1.5 AS positive_autocorr
    FROM dw
    """,
)
def durbin_watson_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Durbin-Watson test for serial correlation in the residuals of
    the daily-revenue linear trend — the post-fit diagnostic that
    tells you whether `price_trend_regression`-style OLS standard
    errors can be trusted or an AR term is needed (DW ≈ 2(1−ρ̂₁);
    < 1.5 flags positive autocorrelation). Companion to `daily_acf`,
    which reads the raw series; this reads the DETRENDED one.

    Determinism: daily revenue is fixed to integer cents (the
    `holt_linear_forecast` recipe), so the five OLS power sums are
    exact BIGINTs and (a, b) derive from one identical closed form.
    Residual/DW sums run over the ~daily-count-sized series — the
    ±1-ulp accumulation-order surface sits ~10 orders below the 4dp
    rounding on a ratio in [0, 4]. Scale shape: corpus → calendar-
    bounded daily aggregate (one shuffle); the lag window and both
    quadratic sums run over that bounded series only.

    Safe scale bound (r8 ADVICE): Sxy = Σ rn·y accumulates in LONG
    — exact while n_days · max(rn) · max(|y|) < 2⁶³, i.e. ~40 years
    of daily data at up to ~$4B/day in cents (1.5e4² · 4e11 ≈ 9e19
    is the first breach point; a century of $100M/day is safe).
    Past that, Spark wraps silently while the oracle's HUGEINT→
    BIGINT cast errors; move Sxy to DOUBLE on both sides then."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("y")
    )
    seq = daily.select(
        F.row_number().over(Window.orderBy("day")).cast("long").alias("rn"),
        "y",
    )
    sums = seq.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("rn").cast("long").alias("sx"),
        F.sum(F.col("rn") * F.col("rn")).cast("long").alias("sxx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("rn") * F.col("y")).cast("long").alias("sxy"),
    )
    nd = F.col("n").cast("double")
    b = (nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy")) / (
        nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx")
    )
    fit = sums.select("n", b.alias("b"), ((F.col("sy").cast("double") - b * F.col("sx")) / nd).alias("a"))
    resid = seq.crossJoin(F.broadcast(fit)).select(
        "rn",
        "n",
        "b",
        (F.col("y").cast("double") - (F.col("a") + F.col("b") * F.col("rn"))).alias("e"),
    )
    lagged = resid.select(
        "n",
        "b",
        "e",
        F.lag("e").over(Window.orderBy("rn")).alias("le"),
    ).filter(F.col("le").isNotNull())
    dw = lagged.groupBy("n", "b").agg(
        F.sum((F.col("e") - F.col("le")) * (F.col("e") - F.col("le"))).alias("num"),
        F.sum(F.col("e") * F.col("e")).alias("den"),
    )
    stat = round_col(F.col("num") / F.col("den"), 4)
    return dw.select(
        F.col("n").alias("n_days"),
        round_col(F.col("b"), 4).alias("slope_cents_per_day"),
        stat.alias("dw_stat"),
        (stat < F.lit(1.5)).alias("positive_autocorr"),
    )


# ---------------------------------------------------------------------------
# two_proportion_z_test — conversion-rate comparison on exact counts
# ---------------------------------------------------------------------------


@query(
    "two_proportion_z_test",
    oracle=f"""
    WITH cohorts AS (
        SELECT user_id,
               user_id % 2 AS cohort,
               max(CASE WHEN event_type = 'purchase' AND value > 150
                        THEN 1 ELSE 0 END) AS converted
        FROM events GROUP BY user_id
    ),
    cnt AS (
        SELECT
            CAST(sum(CASE WHEN cohort = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
            CAST(sum(CASE WHEN cohort = 0 THEN converted ELSE 0 END)
                AS BIGINT) AS x1,
            CAST(sum(CASE WHEN cohort = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
            CAST(sum(CASE WHEN cohort = 1 THEN converted ELSE 0 END)
                AS BIGINT) AS x2
        FROM cohorts
    ),
    z AS (
        SELECT n1, x1, n2, x2,
               CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2 AS diff,
               (CAST(x1 AS DOUBLE) / n1 - CAST(x2 AS DOUBLE) / n2)
               / sqrt(
                   (CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                   * (1 - CAST(x1 + x2 AS DOUBLE) / (n1 + n2))
                   * (1.0 / n1 + 1.0 / n2)
               ) AS z_stat
        FROM cnt
    )
    SELECT n1, x1, n2, x2,
           {round_sql("diff", 4)} AS rate_diff,
           {round_sql("z_stat", 4)} AS z_stat,
           abs({round_sql("z_stat", 4)}) > 1.96 AS reject_05
    FROM z
    """,
)
def two_proportion_z_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pooled two-proportion z-test on HIGH-VALUE purchase
    conversion (any purchase with value > 150 — 'any purchase at
    all' is universal in this corpus, which degenerates the pooled
    variance to zero) between the even/odd user-id cohorts (the canonical deterministic A/B
    split, same convention as `ab_power_analysis`): did cohort A
    convert at a different rate than cohort B? Pooled-variance
    denominator, the standard form for H₀: p₁ = p₂.

    Determinism: every input to the closed form is an exact BIGINT
    count (per-user converted flags max-reduced, then summed), so
    both engines evaluate one identical single-row expression tree —
    zero accumulation-order surface. Scale shape: one per-user
    shuffle then a 4-integer global reduce; the test itself is
    driver-free arithmetic on one row."""
    e = load_table(spark, sf_dir, "events")
    cohorts = e.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                F.lit(1),
            ).otherwise(F.lit(0))
        ).alias("converted")
    )
    cnt = cohorts.agg(
        F.sum(F.when(F.col("user_id") % 2 == 0, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(F.when(F.col("user_id") % 2 == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x1"),
        F.sum(F.when(F.col("user_id") % 2 == 1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
        F.sum(F.when(F.col("user_id") % 2 == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("x2"),
    )
    p1 = F.col("x1").cast("double") / F.col("n1")
    p2 = F.col("x2").cast("double") / F.col("n2")
    pp = (F.col("x1") + F.col("x2")).cast("double") / (F.col("n1") + F.col("n2"))
    z = (p1 - p2) / F.sqrt(
        pp * (1 - pp) * (F.lit(1.0) / F.col("n1") + F.lit(1.0) / F.col("n2"))
    )
    return cnt.select(
        "n1",
        "x1",
        "n2",
        "x2",
        round_col(p1 - p2, 4).alias("rate_diff"),
        round_col(z, 4).alias("z_stat"),
        (F.abs(round_col(z, 4)) > F.lit(1.96)).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# benjamini_hochberg_fdr — multiple-testing correction over a test family
# ---------------------------------------------------------------------------

# Two-sided normal p-value via the Abramowitz-Stegun 7.1.26 erf
# polynomial (max abs error 1.5e-7, far below the 6dp p rounding):
# p = (a1·t + a2·t² + a3·t³ + a4·t⁴ + a5·t⁵)·exp(−x²) at x = |z|/√2,
# t = 1/(1 + 0.3275911·x). Both engines evaluate the identical
# literal polynomial; exp() is the one libm call, whose ±1-ulp
# cross-engine surface sits ~9 orders below the rounding.
_AS_ERF = (
    "((0.254829592 * (1.0 / (1.0 + 0.3275911 * ({x})))"
    " - 0.284496736 * pow(1.0 / (1.0 + 0.3275911 * ({x})), 2)"
    " + 1.421413741 * pow(1.0 / (1.0 + 0.3275911 * ({x})), 3)"
    " - 1.453152027 * pow(1.0 / (1.0 + 0.3275911 * ({x})), 4)"
    " + 1.061405429 * pow(1.0 / (1.0 + 0.3275911 * ({x})), 5))"
    " * exp(-(({x}) * ({x}))))"
)


def _p_two_sided_col(z: "F.Column") -> "F.Column":
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(0.3275911) * x)
    poly = (
        F.lit(0.254829592) * t
        - F.lit(0.284496736) * F.pow(t, 2)
        + F.lit(1.421413741) * F.pow(t, 3)
        - F.lit(1.453152027) * F.pow(t, 4)
        + F.lit(1.061405429) * F.pow(t, 5)
    )
    return poly * F.exp(-(x * x))


@query(
    "benjamini_hochberg_fdr",
    oracle=f"""
    WITH overall AS (
        SELECT avg(value) AS mu FROM events
    ),
    grp AS (
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_g,
               avg(value) AS m_g,
               var_samp(value) AS v_g
        FROM events GROUP BY event_type
    ),
    tests AS (
        SELECT event_type, n_g,
               (m_g - mu) / sqrt(v_g / n_g) AS z
        FROM grp CROSS JOIN overall
    ),
    pvals AS (
        SELECT event_type, n_g,
               {round_sql("z", 4)} AS z_stat,
               {round_sql(_AS_ERF.format(x="abs(z) / sqrt(2.0)"), 6)} AS p_value
        FROM tests
    ),
    ranked AS (
        SELECT *,
               CAST(row_number() OVER (ORDER BY p_value, event_type)
                    AS BIGINT) AS i,
               CAST(count(*) OVER () AS BIGINT) AS m
        FROM pvals
    ),
    cut AS (
        SELECT coalesce(max(CASE WHEN p_value <= i * 0.05 / m
                                 THEN i END), 0) AS k_star
        FROM ranked
    )
    SELECT event_type, n_g, z_stat, p_value, i AS p_rank,
           {round_sql("i * 0.05 / m", 6)} AS bh_threshold,
           i <= k_star AS reject_fdr05
    FROM ranked CROSS JOIN cut
    ORDER BY i
    """,
)
def benjamini_hochberg_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benjamini-Hochberg step-up FDR control over a FAMILY of tests
    — one z-test per event type (does this type's mean value differ
    from the corpus mean?), then the step-up rule: sort p ascending,
    find the largest i with p_(i) ≤ i·α/m, reject ranks 1..i. The
    multiple-comparisons layer every metric-screening pipeline needs
    on top of single tests like `welch_t_test` (α = 0.05).

    p-values come from the Abramowitz-Stegun 7.1.26 erf polynomial —
    identical literals in both engines, one exp() libm call whose
    ±1-ulp surface is ~9 orders below the 6dp p rounding; the BH
    comparison then runs on the ROUNDED p against exact-rational
    i·0.05/m thresholds, so the reject set is identical by
    construction. The step-up max is computed set-wide (not a running
    window) exactly as the rule states. Scale shape: corpus → k-row
    test family (one shuffle); ranking/threshold logic runs on k
    rows. Ties on p break by event_type for a total order."""
    e = load_table(spark, sf_dir, "events")
    overall = e.agg(F.avg("value").alias("mu"))
    grp = e.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.avg("value").alias("m_g"),
        F.var_samp("value").alias("v_g"),
    )
    z = (F.col("m_g") - F.col("mu")) / F.sqrt(F.col("v_g") / F.col("n_g"))
    pvals = grp.crossJoin(F.broadcast(overall)).select(
        "event_type",
        "n_g",
        round_col(z, 4).alias("z_stat"),
        round_col(_p_two_sided_col(z), 6).alias("p_value"),
    )
    w = Window.orderBy("p_value", "event_type")
    ranked = pvals.select(
        "*",
        F.row_number().over(w).cast("long").alias("i"),
        F.count(F.lit(1)).over(Window.partitionBy()).cast("long").alias("m"),
    )
    k_star = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("p_value") <= F.col("i") * 0.05 / F.col("m"), F.col("i")
                )
            ),
            F.lit(0),
        ).alias("k_star")
    )
    return (
        ranked.crossJoin(F.broadcast(k_star))
        .select(
            "event_type",
            "n_g",
            "z_stat",
            "p_value",
            F.col("i").alias("p_rank"),
            round_col(F.col("i") * 0.05 / F.col("m"), 6).alias("bh_threshold"),
            (F.col("i") <= F.col("k_star")).alias("reject_fdr05"),
        )
        .orderBy("p_rank")
    )


# ---------------------------------------------------------------------------
# mood_median_test — k-sample median test on exact above/below counts
# ---------------------------------------------------------------------------


@query(
    "mood_median_test",
    oracle=f"""
    WITH samples AS (
        SELECT event_type AS g, CAST(count(*) AS BIGINT) AS x
        FROM events GROUP BY user_id, event_type
    ),
    med2 AS (
        -- 2× the lower+upper median of the pooled samples, exactly
        SELECT CAST(min(CASE WHEN c >= (n + 1) // 2 THEN x END)
                    + min(CASE WHEN c >= n // 2 + 1 THEN x END)
                    AS BIGINT) AS m2
        FROM (
            SELECT x,
                   CAST(sum(count(*)) OVER (ORDER BY x) AS BIGINT) AS c,
                   CAST(sum(count(*)) OVER () AS BIGINT) AS n
            FROM samples GROUP BY x
        )
    ),
    cells AS (
        SELECT g,
               CAST(sum(CASE WHEN 2 * x > m2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS above,
               CAST(sum(CASE WHEN 2 * x < m2 THEN 1 ELSE 0 END)
                   AS BIGINT) AS below
        FROM samples CROSS JOIN med2
        GROUP BY g
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(above) AS BIGINT) AS ta,
               CAST(sum(below) AS BIGINT) AS tb
        FROM cells
    ),
    chi AS (
        SELECT k, ta + tb AS n_used,
               sum(
                   pow(above - CAST(ta AS DOUBLE) * (above + below)
                       / (ta + tb), 2)
                   / (CAST(ta AS DOUBLE) * (above + below) / (ta + tb))
                   + pow(below - CAST(tb AS DOUBLE) * (above + below)
                         / (ta + tb), 2)
                   / (CAST(tb AS DOUBLE) * (above + below) / (ta + tb))
               ) AS chi2
        FROM cells CROSS JOIN tot
        GROUP BY k, ta, tb
    )
    SELECT k AS k_groups, n_used,
           k - 1 AS dof,
           {round_sql("chi2", 4)} AS chi2_stat,
           {round_sql("chi2", 4)} > CASE k - 1
               WHEN 1 THEN 3.841 WHEN 2 THEN 5.991 WHEN 3 THEN 7.815
               WHEN 4 THEN 9.488 WHEN 5 THEN 11.07 WHEN 6 THEN 12.592
           END AS reject_05
    FROM chi
    """,
)
def mood_median_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's median test: do the k event-type groups share a common
    median of per-user activity counts? Counts above/below the POOLED
    median form a 2×k contingency table tested as chi-square with
    k−1 dof (ties at the median dropped, the standard convention).
    The cruder-but-more-robust cousin of `kruskal_wallis_h` — it
    only reads the sign of each sample against one global cut.

    Determinism: the pooled median is derived exactly from an
    integer value-histogram (2×median = lower+upper median, all
    BIGINT — no float percentile); the 2×k table is exact counts;
    expected-vs-observed chi-square arithmetic runs per-group on
    exact integers cast once. The only float sum spans k rows.
    Scale shape: corpus → per-(user,type) counts (one shuffle) →
    value histogram (dozens of rows) + k-row table; the median cut
    broadcasts back — no corpus-sized sort anywhere."""
    e = load_table(spark, sf_dir, "events")
    samples = e.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("long").alias("x")
    )
    hist = samples.groupBy("x").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    cum = hist.select(
        "x",
        F.sum("cnt").over(Window.orderBy("x")).cast("long").alias("c"),
        F.sum("cnt").over(Window.partitionBy()).cast("long").alias("n"),
    )
    med2 = cum.agg(
        (
            F.min(F.when(F.col("c") >= F.floor((F.col("n") + 1) / 2), F.col("x")))
            + F.min(F.when(F.col("c") >= F.floor(F.col("n") / 2) + 1, F.col("x")))
        )
        .cast("long")
        .alias("m2")
    )
    cells = (
        samples.crossJoin(F.broadcast(med2))
        .groupBy(F.col("event_type").alias("g"))
        .agg(
            F.sum(F.when(2 * F.col("x") > F.col("m2"), 1).otherwise(0))
            .cast("long")
            .alias("above"),
            F.sum(F.when(2 * F.col("x") < F.col("m2"), 1).otherwise(0))
            .cast("long")
            .alias("below"),
        )
    )
    tot = cells.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("above").cast("long").alias("ta"),
        F.sum("below").cast("long").alias("tb"),
    )
    joined = cells.crossJoin(F.broadcast(tot))
    row_n = (F.col("above") + F.col("below")).cast("double")
    ea = F.col("ta").cast("double") * row_n / (F.col("ta") + F.col("tb"))
    eb = F.col("tb").cast("double") * row_n / (F.col("ta") + F.col("tb"))
    term = (
        F.pow(F.col("above") - ea, 2) / ea + F.pow(F.col("below") - eb, 2) / eb
    )
    chi = joined.groupBy("k", "ta", "tb").agg(F.sum(term).alias("chi2"))
    crit = _chi2_crit_95(F.col("k") - 1)
    return chi.select(
        F.col("k").alias("k_groups"),
        (F.col("ta") + F.col("tb")).alias("n_used"),
        (F.col("k") - 1).alias("dof"),
        round_col(F.col("chi2"), 4).alias("chi2_stat"),
        (round_col(F.col("chi2"), 4) > crit).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# mann_kendall_trend — nonparametric monotone-trend test (r9)
# ---------------------------------------------------------------------------


@query(
    "mann_kendall_trend",
    oracle=f"""
    WITH weekly AS (
        SELECT CAST(date_diff('day', DATE '1970-01-01',
                    CAST(o_orderdate AS DATE)) // 7 AS BIGINT) AS w,
               CAST(count(*) AS BIGINT) AS y
        FROM orders GROUP BY 1
    ),
    s AS (
        SELECT CAST(sum(CASE WHEN b.y > a.y THEN 1
                             WHEN b.y < a.y THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat
        FROM weekly a JOIN weekly b ON a.w < b.w
    ),
    ties AS (
        SELECT CAST(coalesce(sum(t * (t - 1) * (2 * t + 5)), 0) AS BIGINT)
                   AS tie_term
        FROM (SELECT count(*) AS t FROM weekly GROUP BY y) WHERE t > 1
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM weekly),
    v AS (
        SELECT n, s_stat,
               n * (n - 1) * (2 * n + 5) - tie_term AS var18
        FROM nn, s, ties
    )
    SELECT n AS n_weeks, s_stat, var18,
           {round_sql(
               "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)"
               " WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)"
               " ELSE 0.0 END", 4
           )} AS z_stat,
           CASE WHEN {round_sql(
               "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)"
               " WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)"
               " ELSE 0.0 END", 4
           )} > 1.96 THEN 'increasing'
                WHEN {round_sql(
               "CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var18 / 18.0)"
               " WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var18 / 18.0)"
               " ELSE 0.0 END", 4
           )} < -1.96 THEN 'decreasing'
                ELSE 'no_trend' END AS trend
    FROM v
    """,
)
def mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test on weekly order volume — the HYPOTHESIS
    TEST companion to `theil_sen_trend`'s ESTIMATOR (same weekly
    series): S sums the signs of all pairwise time-ordered
    differences, Var(S) carries the standard tie correction
    n(n-1)(2n+5)−Σt(t-1)(2t+5) over 18, and the continuity-corrected
    z = (S∓1)/√Var(S) gives the monotone-trend verdict without any
    distributional assumption — the test a data-freshness monitor
    runs before believing a drift dashboard's "volume is trending
    down".

    Determinism: weekly y is an exact BIGINT count, so S, the tie
    term, and 18·Var(S) are ALL exact integers in both engines;
    doubles appear only in the final z (one sqrt + one division,
    rounded 4dp) and the trend label reads the ROUNDED z. Scale
    shape: the corpus collapses to one row per week
    (calendar-bounded), the pair join is weeks²/2 — constant as data
    grows, the `theil_sen_trend` discipline."""
    weekly = (
        _order_weeks(spark, sf_dir)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    a, b = weekly.alias("a"), weekly.alias("b")
    s = a.join(F.broadcast(b), F.col("a.w") < F.col("b.w")).agg(
        F.sum(
            F.when(F.col("b.y") > F.col("a.y"), 1)
            .when(F.col("b.y") < F.col("a.y"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat")
    )
    t = F.col("t")
    ties = (
        weekly.groupBy("y")
        .agg(F.count(F.lit(1)).alias("t"))
        .filter(t > 1)
        .agg(
            F.coalesce(F.sum(t * (t - 1) * (2 * t + 5)), F.lit(0))
            .cast("long")
            .alias("tie_term")
        )
    )
    nn = weekly.agg(F.count(F.lit(1)).cast("long").alias("n"))
    v = (
        nn.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(ties))
        .select(
            "n",
            "s_stat",
            (
                F.col("n") * (F.col("n") - 1) * (2 * F.col("n") + 5)
                - F.col("tie_term")
            ).alias("var18"),
        )
    )
    sd = F.sqrt(F.col("var18") / F.lit(18.0))
    z = round_col(
        F.when(F.col("s_stat") > 0, (F.col("s_stat") - 1) / sd)
        .when(F.col("s_stat") < 0, (F.col("s_stat") + 1) / sd)
        .otherwise(F.lit(0.0)),
        4,
    )
    return v.select(
        F.col("n").alias("n_weeks"),
        "s_stat",
        "var18",
        z.alias("z_stat"),
        F.when(z > 1.96, "increasing")
        .when(z < -1.96, "decreasing")
        .otherwise("no_trend")
        .alias("trend"),
    )


# ---------------------------------------------------------------------------
# runs_test_median — Wald-Wolfowitz randomness screen (r9)
# ---------------------------------------------------------------------------


@query(
    "runs_test_median",
    oracle=f"""
    WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS day,
               CAST(floor(sum(o_totalprice) * 100 + 0.5) AS BIGINT) AS c
        FROM orders GROUP BY 1
    ),
    ranked AS (
        SELECT day, c, row_number() OVER (ORDER BY c, day) AS rn,
               count(*) OVER () AS n
        FROM daily
    ),
    med2 AS (
        SELECT sum(CASE WHEN rn = (n + 1) // 2 THEN c ELSE 0 END)
               + sum(CASE WHEN rn = (n + 2) // 2 THEN c ELSE 0 END) AS m2
        FROM ranked
    ),
    seq AS (
        SELECT day,
               CASE WHEN 2 * c > m2 THEN 1 ELSE -1 END AS s
        FROM daily, med2 WHERE 2 * c <> m2
    ),
    runs AS (
        SELECT CAST(sum(CASE WHEN prev IS NOT NULL AND s <> prev
                             THEN 1 ELSE 0 END) + 1 AS BIGINT) AS r,
               CAST(sum(CASE WHEN s = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
               CAST(sum(CASE WHEN s = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        FROM (SELECT s, lag(s) OVER (ORDER BY day) AS prev FROM seq)
    )
    SELECT n1, n2, r AS n_runs,
           {round_sql(
               "(r - (2.0 * n1 * n2 / (n1 + n2) + 1))"
               " / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
               "   / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)))",
               4
           )} AS z_stat,
           abs({round_sql(
               "(r - (2.0 * n1 * n2 / (n1 + n2) + 1))"
               " / sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2)"
               "   / (CAST((n1 + n2) AS DOUBLE) * (n1 + n2) * (n1 + n2 - 1)))",
               4
           )}) > 1.96 AS reject_05
    FROM runs
    """,
)
def runs_test_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test of the daily-revenue series against
    randomness about its median: too FEW runs of consecutive
    above/below-median days means clustering (momentum, regime
    shifts), too MANY means oscillation — the model-free "is this
    series i.i.d. at all" screen run before `daily_acf`'s
    parametric lags, and the one that flags batch-arrival artifacts
    in an ingest monitor.

    Determinism: daily revenue fixes to integer cents; the median
    threshold is 2·median = the SUM of the two middle-ranked values
    (exact BIGINT rank selection, ties broken by day — identical in
    both engines; when n is odd the same rank is summed twice),
    days EQUAL to the median drop per the standard procedure, and
    R/n1/n2 are exact integers off a lag comparison over the
    day-ordered series. One sqrt at the end, 4dp, reject on the
    rounded z. Scale shape: corpus → calendar-bounded daily
    aggregate; every window runs over that bounded series."""
    o = load_table(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("day")).agg(
        F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c")
    )
    ranked = daily.select(
        "day",
        "c",
        F.row_number().over(Window.orderBy("c", "day")).alias("rn"),
        total_rows()
        .alias("n"),
    )
    lo = F.floor((F.col("n") + 1) / 2)
    hi = F.floor((F.col("n") + 2) / 2)
    med2 = ranked.agg(
        (
            F.sum(F.when(F.col("rn") == lo, F.col("c")).otherwise(0))
            + F.sum(F.when(F.col("rn") == hi, F.col("c")).otherwise(0))
        ).alias("m2")
    )
    seq = (
        daily.crossJoin(F.broadcast(med2))
        .filter(2 * F.col("c") != F.col("m2"))
        .select(
            "day",
            F.when(2 * F.col("c") > F.col("m2"), 1).otherwise(-1).alias("s"),
        )
    )
    lagged = seq.select(
        "s", F.lag("s").over(Window.orderBy("day")).alias("prev")
    )
    runs = lagged.agg(
        (
            F.sum(
                F.when(
                    F.col("prev").isNotNull() & (F.col("s") != F.col("prev")),
                    1,
                ).otherwise(0)
            )
            + 1
        )
        .cast("long")
        .alias("r"),
        F.sum(F.when(F.col("s") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("s") == -1, 1).otherwise(0))
        .cast("long")
        .alias("n2"),
    )
    n1, n2, r = F.col("n1"), F.col("n2"), F.col("r")
    mu = 2.0 * n1 * n2 / (n1 + n2) + 1
    var = (
        2.0
        * n1
        * n2
        * (2.0 * n1 * n2 - n1 - n2)
        / ((n1 + n2).cast("double") * (n1 + n2) * (n1 + n2 - 1))
    )
    z = round_col((r - mu) / F.sqrt(var), 4)
    return runs.select(
        "n1",
        "n2",
        r.alias("n_runs"),
        z.alias("z_stat"),
        (F.abs(z) > 1.96).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# sign_test_paired — distribution-free paired comparison (r9)
# ---------------------------------------------------------------------------


@query(
    "sign_test_paired",
    oracle=f"""
    WITH {_PRE_POST_SQL},
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CASE WHEN post_c > pre_c THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_pos
        FROM per_user WHERE post_c <> pre_c
    )
    SELECT n, n_pos,
           {round_sql(
               "CASE WHEN 2 * n_pos > n THEN (2.0 * n_pos - n - 1) / sqrt(n)"
               " WHEN 2 * n_pos < n THEN (2.0 * n_pos - n + 1) / sqrt(n)"
               " ELSE 0.0 END", 4
           )} AS z_stat,
           abs({round_sql(
               "CASE WHEN 2 * n_pos > n THEN (2.0 * n_pos - n - 1) / sqrt(n)"
               " WHEN 2 * n_pos < n THEN (2.0 * n_pos - n + 1) / sqrt(n)"
               " ELSE 0.0 END", 4
           )}) > 1.96 AS reject_05
    FROM agg
    """,
)
def sign_test_paired(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired sign test of per-user pre- vs post-period event value
    (same 2024-01-16 split and integer-cents pairing as
    `wilcoxon_signed_rank`) — the weakest-assumption member of the
    paired family: it reads ONLY the sign of each user's change, so
    it stays valid when the differences are asymmetric or heavy-
    tailed enough to break even Wilcoxon's symmetry assumption. Under
    H₀ positives are Binomial(n, ½); the continuity-corrected normal
    approximation z = (2·n⁺ − n ∓ 1)/√n gives the verdict.

    Determinism: period sums fix to integer cents, zero-change users
    drop, n and n⁺ are exact BIGINTs; the z numerator is exact
    integer arithmetic and the single sqrt + division round at 4dp
    with the reject bit on the rounded value. Scale shape: one
    user-keyed aggregate then a 1-row closed form — nothing after
    the shuffle is bigger than two integers."""
    per_user = _pre_post_cents(spark, sf_dir)
    agg = per_user.filter(F.col("post_c") != F.col("pre_c")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("post_c") > F.col("pre_c"), 1).otherwise(0))
        .cast("long")
        .alias("n_pos"),
    )
    n, b = F.col("n"), F.col("n_pos")
    z = round_col(
        F.when(2 * b > n, (2.0 * b - n - 1) / F.sqrt(n))
        .when(2 * b < n, (2.0 * b - n + 1) / F.sqrt(n))
        .otherwise(F.lit(0.0)),
        4,
    )
    return agg.select(
        "n",
        "n_pos",
        z.alias("z_stat"),
        (F.abs(z) > 1.96).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# cohens_d_effect — standardized effect size for the two-sample family (r9)
# ---------------------------------------------------------------------------


@query(
    "cohens_d_effect",
    oracle=f"""
    WITH {_AB_STATS_SQL},
    d AS (
        SELECT n1, n2,
               (m1 - m2) / sqrt(((n1 - 1) * v1 + (n2 - 1) * v2)
                                / (n1 + n2 - 2)) AS cd
        FROM ab
    )
    SELECT n1, n2,
           {round_sql("cd", 4)} AS cohens_d,
           {round_sql("cd * (1 - 3.0 / (4 * (n1 + n2) - 9))", 4)}
               AS hedges_g,
           CASE WHEN abs({round_sql("cd", 4)}) < 0.2 THEN 'negligible'
                WHEN abs({round_sql("cd", 4)}) < 0.5 THEN 'small'
                WHEN abs({round_sql("cd", 4)}) < 0.8 THEN 'medium'
                ELSE 'large' END AS magnitude
    FROM d
    """,
)
def cohens_d_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's d (pooled-SD standardized mean difference) with the
    Hedges small-sample correction for the click-vs-purchase value
    comparison — the EFFECT SIZE companion `welch_t_test` needs: at
    corpus scale every t-test rejects, and d is the number that says
    whether the difference matters (the same reason `ab_power_analysis`
    plans on an effect size, not a p-value). Same segments and
    sufficient statistics as the t-test, so the two queries read
    consistently.

    Determinism: one grouped aggregate collapses the corpus to two
    (n, mean, var_samp) triples (the `welch_t_test` discipline —
    var_samp over the same rows agrees across engines well inside
    4dp); everything after is scalar closed-form arithmetic on a
    1-row relation, with the magnitude label read from the ROUNDED
    d. Scale shape: one shuffle, then constants."""
    ab = _ab_stats(spark, sf_dir)
    n1, n2 = F.col("n1"), F.col("n2")
    cd = (F.col("m1") - F.col("m2")) / F.sqrt(
        ((n1 - 1) * F.col("v1") + (n2 - 1) * F.col("v2")) / (n1 + n2 - 2)
    )
    cdr = round_col(cd, 4)
    return ab.select(
        "n1",
        "n2",
        cdr.alias("cohens_d"),
        round_col(cd * (1 - 3.0 / (4 * (n1 + n2) - 9)), 4).alias("hedges_g"),
        F.when(F.abs(cdr) < 0.2, "negligible")
        .when(F.abs(cdr) < 0.5, "small")
        .when(F.abs(cdr) < 0.8, "medium")
        .otherwise("large")
        .alias("magnitude"),
    )


# ---------------------------------------------------------------------------
# cochran_armitage_trend — trend in proportions across ordered groups (r9)
# ---------------------------------------------------------------------------


@query(
    "cochran_armitage_trend",
    oracle=f"""
    WITH g AS (
        SELECT CAST(l_quantity AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n_j,
               CAST(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                    AS BIGINT) AS r_j
        FROM lineitem GROUP BY 1
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               CAST(sum(n_j) AS BIGINT) AS n,
               CAST(sum(r_j) AS BIGINT) AS r,
               CAST(sum(s * n_j) AS BIGINT) AS sn,
               CAST(sum(s * s * n_j) AS BIGINT) AS ssn,
               CAST(sum(s * r_j) AS BIGINT) AS sr
        FROM g
    ),
    stat AS (
        SELECT k, n, r,
               n * sr - r * sn AS t_num,
               (CAST(r AS DOUBLE) * (n - r) / n)
               * (n * CAST(ssn AS DOUBLE) - CAST(sn AS DOUBLE) * sn) AS var_t
        FROM tot
    )
    SELECT k AS n_groups, n AS n_rows, r AS n_returned,
           t_num,
           {round_sql("t_num / sqrt(var_t)", 4)} AS z_stat,
           abs({round_sql("t_num / sqrt(var_t)", 4)}) > 1.96 AS reject_05
    FROM stat
    """,
)
def cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran-Armitage test for a LINEAR TREND in the return rate
    across ordered quantity levels — the ordered-alternative upgrade
    of `chi_square_independence`: chi-square asks "are return rates
    different anywhere", this asks "do they rise (or fall) WITH
    quantity", gaining power exactly when the alternative is ordered
    (dose-response, decile-trend, severity-band questions). Scores
    s_j are the quantity levels themselves; T = NΣs_jr_j − RΣs_jn_j,
    Var(T) = R(N−R)/N · (NΣs_j²n_j − (Σs_jn_j)²), z = T/√Var(T).

    Determinism: levels, counts, and all five sufficient sums are
    exact BIGINTs, so T is an exact integer in both engines; Var(T)
    is one closed-form double expression off those integers, and z
    rounds at 4dp with the reject bit on the rounded value. LONG
    bound: Σs²n ≤ 2500·|lineitem| and N·Σsr ≤ N²·50 — safe through
    ~600M rows, far past any oracle scale. Scale shape: one grouped
    aggregate (≤50 groups), then a 1-row closed form."""
    li = load_table(spark, sf_dir, "lineitem")
    g = li.groupBy(F.col("l_quantity").cast("long").alias("s")).agg(
        F.count(F.lit(1)).cast("long").alias("n_j"),
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("long")
        .alias("r_j"),
    )
    tot = g.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n_j").cast("long").alias("n"),
        F.sum("r_j").cast("long").alias("r"),
        F.sum(F.col("s") * F.col("n_j")).cast("long").alias("sn"),
        F.sum(F.col("s") * F.col("s") * F.col("n_j")).cast("long").alias("ssn"),
        F.sum(F.col("s") * F.col("r_j")).cast("long").alias("sr"),
    )
    n, r = F.col("n"), F.col("r")
    t_num = n * F.col("sr") - r * F.col("sn")
    var_t = (r.cast("double") * (n - r) / n) * (
        n * F.col("ssn").cast("double") - F.col("sn").cast("double") * F.col("sn")
    )
    stat = tot.select(
        F.col("k").alias("n_groups"),
        n.alias("n_rows"),
        r.alias("n_returned"),
        t_num.alias("t_num"),
        round_col(t_num / F.sqrt(var_t), 4).alias("z_stat"),
    )
    return stat.select(
        "n_groups",
        "n_rows",
        "n_returned",
        "t_num",
        "z_stat",
        (F.abs(F.col("z_stat")) > 1.96).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# hill_tail_index — heavy-tail exponent from top order statistics (r9)
# ---------------------------------------------------------------------------


@query(
    "hill_tail_index",
    oracle=f"""
    WITH ranked AS (
        SELECT CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c,
               row_number() OVER (
                   ORDER BY floor(o_totalprice * 100 + 0.5) DESC, o_orderkey
               ) AS rk
        FROM orders
    ),
    topk AS (SELECT c, rk FROM ranked WHERE rk <= 101),
    piv AS (SELECT c AS ck1 FROM topk WHERE rk = 101),
    hill AS (
        SELECT CAST(count(*) AS BIGINT) AS k,
               avg(ln(CAST(t.c AS DOUBLE) / p.ck1)) AS h
        FROM topk t CROSS JOIN piv p
        WHERE t.rk <= 100
    )
    SELECT k, (SELECT ck1 FROM piv) AS x_k1_cents,
           {stable_render_sql("h", 6)} AS hill_h,
           {stable_render_sql("1.0 / h", 6)} AS tail_alpha
    FROM hill
    """,
)
def hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill estimator of the power-law tail index over the top-100
    order values: H = (1/k)Σln(x₍ᵢ₎/x₍ₖ₊₁₎), α̂ = 1/H — the standard
    heavy-tail diagnostic (Hill 1975) behind "is this metric
    fat-tailed enough that means/variances mislead" decisions:
    α̂ < 2 means infinite variance (use `trimmed_robust_stats` /
    medians), α̂ > 3 means z-based monitoring is safe. Companion to
    `benford_digit_audit` (digit-law shape) and
    `gini_revenue_concentration` (inequality) on the same column.

    Determinism: values fix to integer cents and the top-(k+1) set
    is EXACT rank selection (ties broken by orderkey, identical in
    both engines); each ln() argument is one exact-integer ratio,
    but ln itself is libm — so the two float outputs ship via
    stable_render (6dp decimal STRING), the `jsd_source_drift`
    discipline for transcendental chains. Scale shape: a global
    top-101 (TakeOrdered — no full sort materialization), then 100
    rows of scalar arithmetic."""
    o = load_table(spark, sf_dir, "orders")
    ranked = o.select(
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
        .cast("long")
        .alias("c"),
        "o_orderkey",
    ).select(
        "c",
        F.row_number()
        .over(Window.orderBy(F.desc("c"), "o_orderkey"))
        .alias("rk"),
    )
    topk = ranked.filter(F.col("rk") <= 101)
    pivot = topk.filter(F.col("rk") == 101).select(
        F.col("c").alias("ck1")
    )
    hill = (
        topk.filter(F.col("rk") <= 100)
        .crossJoin(F.broadcast(pivot))
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.avg(
                F.log(F.col("c").cast("double") / F.col("ck1"))
            ).alias("h"),
            F.max("ck1").alias("x_k1_cents"),
        )
    )
    return hill.select(
        "k",
        "x_k1_cents",
        stable_render(F.col("h"), 6).alias("hill_h"),
        stable_render(1.0 / F.col("h"), 6).alias("tail_alpha"),
    )


# ---------------------------------------------------------------------------
# cronbach_alpha — internal-consistency reliability (r9)
# ---------------------------------------------------------------------------


@query(
    "cronbach_alpha",
    oracle=f"""
    WITH per_user AS (
        SELECT user_id,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS i1,
               CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS i2,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS i3,
               CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS i4,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS i5
        FROM events GROUP BY user_id
    ),
    v AS (
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               var_samp(i1) + var_samp(i2) + var_samp(i3)
               + var_samp(i4) + var_samp(i5) AS sum_item_var,
               var_samp(i1 + i2 + i3 + i4 + i5) AS total_var
        FROM per_user
    )
    SELECT n_users, 5 AS k_items,
           {round_sql("sum_item_var", 4)} AS sum_item_var,
           {round_sql("total_var", 4)} AS total_var,
           {round_sql("5.0 / 4.0 * (1 - sum_item_var / total_var)", 4)}
               AS cronbach_alpha
    FROM v
    """,
)
def cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cronbach's α over the five per-user activity counts (click /
    view / purchase / signup / error as the 'items'): α = k/(k−1) ·
    (1 − Σσᵢ²/σ_total²) — the internal-consistency reliability
    coefficient that says whether a set of engagement signals moves
    together enough to justify summing them into one 'activity
    score' (the composite `rfm_segmentation` and
    `quality_filter_chain`-style gates implicitly assume). Low α →
    the items measure different things; report them separately.

    Determinism: the user×item matrix is exact BIGINT counts off
    one shuffle (items pivoted via conditional sums, zero-filled by
    construction); the six variances are var_samp over those
    integers — the `welch_t_test` parity discipline — combined in
    one closed form and rounded 4dp. Scale shape: one user-keyed
    aggregate, then a single pass computing all six variances in
    the same grouped aggregate; nothing after the shuffle exceeds
    scalar state."""
    e = load_table(spark, sf_dir, "events")
    items = ["click", "view", "purchase", "signup", "error"]
    per_user = e.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"i{j + 1}")
            for j, t in enumerate(items)
        ]
    )
    total = sum(F.col(f"i{j + 1}") for j in range(5))
    v = per_user.agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        sum(F.var_samp(f"i{j + 1}") for j in range(5)).alias("sum_item_var"),
        F.var_samp(total).alias("total_var"),
    )
    return v.select(
        "n_users",
        F.lit(5).cast("int").alias("k_items"),
        round_col(F.col("sum_item_var"), 4).alias("sum_item_var"),
        round_col(F.col("total_var"), 4).alias("total_var"),
        round_col(
            5.0 / 4.0 * (1 - F.col("sum_item_var") / F.col("total_var")), 4
        ).alias("cronbach_alpha"),
    )


# ---------------------------------------------------------------------------
# friedman_kendall_w — k related samples over blocks (r9)
# ---------------------------------------------------------------------------


def _friedman_oracle() -> str:
    """Friedman/Kendall-W oracle: per-user doubled tie-averaged ranks
    of the five activity counts, generated as explicit 5x5 CASE
    comparisons so the rank arithmetic stays pure BIGINT (doubled
    rank 2r = 2*cnt_less + cnt_eq + 1; tie term per user =
    sum(cnt_eq^2) - k)."""
    items = ["click", "view", "purchase", "signup", "error"]
    pivots = ",\n               ".join(
        f"CAST(sum(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS x{j + 1}"
        for j, t in enumerate(items)
    )
    k = len(items)
    cl = []
    ce = []
    for j in range(1, k + 1):
        less = " + ".join(
            f"(CASE WHEN x{l} < x{j} THEN 1 ELSE 0 END)"
            for l in range(1, k + 1)
            if l != j
        )
        eq = " + ".join(
            f"(CASE WHEN x{l} = x{j} THEN 1 ELSE 0 END)"
            for l in range(1, k + 1)
        )
        cl.append(f"({less}) AS cl{j}")
        ce.append(f"({eq}) AS ce{j}")
    r2 = ", ".join(f"2 * cl{j} + ce{j} + 1 AS r2_{j}" for j in range(1, k + 1))
    tie = " + ".join(f"ce{j} * ce{j}" for j in range(1, k + 1))
    rsums = ", ".join(
        f"CAST(sum(r2_{j}) AS BIGINT) AS rr{j}" for j in range(1, k + 1)
    )
    ss = " + ".join(f"rr{j} * rr{j}" for j in range(1, k + 1))
    from heapdumpstardiver_spark.exprs import round_sql

    chi_adj = (
        "(CAST(ss4 AS DOUBLE) / (10.0 * n) - 18.0 * n)"
        " / (1 - CAST(tie_t AS DOUBLE) / (120.0 * n))"
    )
    return f"""
    WITH per_user AS (
        SELECT user_id,
               {pivots}
        FROM events GROUP BY user_id
    ),
    cmp AS (
        SELECT user_id, {", ".join(cl)}, {", ".join(ce)}
        FROM per_user
    ),
    ranks AS (
        SELECT user_id, {r2}, ({tie}) - {k} AS tie_u
        FROM cmp
    ),
    agg AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               {rsums},
               CAST(sum(tie_u) AS BIGINT) AS tie_t
        FROM ranks
    ),
    stat AS (
        SELECT n, tie_t, ({ss}) AS ss4 FROM agg
    )
    SELECT n AS n_users, {k} AS k_items,
           {round_sql(chi_adj, 4)} AS chi2_friedman,
           {round_sql(f"({chi_adj}) / (n * {k - 1}.0)", 4)} AS kendalls_w,
           {round_sql(chi_adj, 4)} > 9.488 AS reject_05
    FROM stat
    """


@query("friedman_kendall_w", oracle=_friedman_oracle())
def friedman_kendall_w(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman test + Kendall's W over the five per-user activity
    counts (blocks = users, treatments = event types): within each
    user the five counts get tie-averaged ranks, χ²_F =
    12/(nk(k+1))ΣR_j² − 3n(k+1) with the tie correction
    C = 1 − Σ(t³−t)/(nk(k²−1)), and W = χ²/(n(k−1)) ∈ [0,1] measures
    agreement — the REPEATED-MEASURES member completing the k-group
    family (`kruskal_wallis_h` is the unpaired rank test,
    `cronbach_alpha` reads the same user×item matrix as reliability;
    this asks whether users RANK the activities consistently).

    Determinism: with k=5 fixed, ranks come from explicit 5×5
    comparisons — the DOUBLED tie-averaged rank 2r = 2·cnt_less +
    cnt_eq + 1 is an exact integer, per-user tie terms are
    Σcnt_eq²−k (the group-size cube identity Σt³ = Σ_j cnt_eq_j²),
    and every aggregate through ΣR²⁽ˣ²⁾ stays BIGINT (safe while
    25·(10n)²·... < 2⁶³, i.e. n ≲ 10⁸ users); the χ²/C/W floats are
    one closed-form 1-row expression, 4dp, reject on the rounded
    value against the dof=4 ladder. Scale shape: one user-keyed
    aggregate, per-row scalar rank arithmetic, one scalar rollup."""
    e = load_table(spark, sf_dir, "events")
    items = ["click", "view", "purchase", "signup", "error"]
    k = len(items)
    per_user = e.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("long")
            .alias(f"x{j + 1}")
            for j, t in enumerate(items)
        ]
    )
    cols = [F.col(f"x{j}") for j in range(1, k + 1)]
    r2s, ces = [], []
    for j in range(k):
        cl = sum(
            F.when(cols[l] < cols[j], 1).otherwise(0)
            for l in range(k)
            if l != j
        )
        ce = sum(
            F.when(cols[l] == cols[j], 1).otherwise(0) for l in range(k)
        )
        r2s.append((2 * cl + ce + 1).alias(f"r2_{j + 1}"))
        ces.append(ce)
    tie_u = (sum(c * c for c in ces) - F.lit(k)).alias("tie_u")
    ranks = per_user.select(*r2s, tie_u)
    agg = ranks.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        *[
            F.sum(f"r2_{j + 1}").cast("long").alias(f"rr{j + 1}")
            for j in range(k)
        ],
        F.sum("tie_u").cast("long").alias("tie_t"),
    )
    ss4 = sum(F.col(f"rr{j + 1}") * F.col(f"rr{j + 1}") for j in range(k))
    n = F.col("n")
    chi_adj = (ss4.cast("double") / (10.0 * n) - 18.0 * n) / (
        1 - F.col("tie_t").cast("double") / (120.0 * n)
    )
    chi_r = round_col(chi_adj, 4)
    return agg.select(
        n.alias("n_users"),
        F.lit(k).cast("int").alias("k_items"),
        chi_r.alias("chi2_friedman"),
        round_col(chi_adj / (n * float(k - 1)), 4).alias("kendalls_w"),
        (chi_r > 9.488).alias("reject_05"),
    )


# ---------------------------------------------------------------------------
# theil_inequality_decomposition — within/between inequality split (r9)
# ---------------------------------------------------------------------------


@query(
    "theil_inequality_decomposition",
    oracle=f"""
    WITH cust AS (
        SELECT c.c_mktsegment AS seg,
               CAST(floor(sum(o.o_totalprice) * 100 + 0.5) AS BIGINT) AS x
        FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        GROUP BY o.o_custkey, c.c_mktsegment
    ),
    tot AS (
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS BIGINT) AS sx
        FROM cust
    ),
    t_total AS (
        SELECT sum((CAST(x AS DOUBLE) / sx)
                   * ln(CAST(x AS DOUBLE) * n / sx)) AS t_all
        FROM cust CROSS JOIN tot
    ),
    seggrp AS (
        SELECT seg, CAST(count(*) AS BIGINT) AS ng,
               CAST(sum(x) AS BIGINT) AS sg
        FROM cust GROUP BY seg
    ),
    t_between AS (
        SELECT sum((CAST(sg AS DOUBLE) / sx)
                   * ln((CAST(sg AS DOUBLE) / sx) * n / ng)) AS t_btw
        FROM seggrp CROSS JOIN tot
    )
    SELECT (SELECT n FROM tot) AS n_customers,
           (SELECT CAST(count(*) AS BIGINT) FROM seggrp) AS n_groups,
           {stable_render_sql("(SELECT t_all FROM t_total)", 6)} AS theil_t,
           {stable_render_sql("(SELECT t_btw FROM t_between)", 6)}
               AS theil_between,
           {stable_render_sql(
               "(SELECT t_all FROM t_total) - (SELECT t_btw FROM t_between)",
               6
           )} AS theil_within,
           {stable_render_sql(
               "(SELECT t_btw FROM t_between) / (SELECT t_all FROM t_total)",
               6
           )} AS between_share
    """,
)
def theil_inequality_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil T inequality index of per-customer revenue with the
    exact within/between decomposition by market segment: T =
    Σ(xᵢ/X)ln(xᵢ·n/X), T_between = Σ(X_g/X)ln((X_g/X)·n/n_g), and
    T_within = T − T_between by Theil's additivity — the question
    `gini_revenue_concentration` can't answer: HOW MUCH of the
    concentration is segment structure vs within-segment spread
    (the data-mixture analogue: is corpus imbalance between sources
    or inside them — `topic_balance_entropy`'s inequality-theoretic
    twin).

    Determinism: per-customer revenue fixes to integer cents, group
    and grand sums are exact BIGINTs, every ln argument is a ratio
    of exact integers; the ln-sums accumulate corpus-wide doubles,
    so all four outputs ship via stable_render (6dp decimal string)
    — the `importance_resample_dsir` discipline for corpus-wide
    log-sums. Scale shape: one join + customer-keyed aggregate, one
    segment aggregate, two scalar rollups; nothing pairwise."""
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    cust = (
        o.join(c, c["c_custkey"] == o["o_custkey"])
        .groupBy("o_custkey", "c_mktsegment")
        .agg(
            F.floor(F.sum("o_totalprice") * 100 + F.lit(0.5))
            .cast("long")
            .alias("x")
        )
        .select(F.col("c_mktsegment").alias("seg"), "x")
    )
    tot = cust.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
    )
    t_all = (
        cust.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("x").cast("double") / F.col("sx"))
                * F.log(F.col("x").cast("double") * F.col("n") / F.col("sx"))
            ).alias("t_all")
        )
    )
    seggrp = cust.groupBy("seg").agg(
        F.count(F.lit(1)).cast("long").alias("ng"),
        F.sum("x").cast("long").alias("sg"),
    )
    t_btw = (
        seggrp.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("sg").cast("double") / F.col("sx"))
                * F.log(
                    (F.col("sg").cast("double") / F.col("sx"))
                    * F.col("n")
                    / F.col("ng")
                )
            ).alias("t_btw")
        )
    )
    ngroups = seggrp.agg(F.count(F.lit(1)).cast("long").alias("n_groups"))
    out = (
        tot.crossJoin(F.broadcast(ngroups))
        .crossJoin(F.broadcast(t_all))
        .crossJoin(F.broadcast(t_btw))
    )
    return out.select(
        F.col("n").alias("n_customers"),
        "n_groups",
        stable_render(F.col("t_all"), 6).alias("theil_t"),
        stable_render(F.col("t_btw"), 6).alias("theil_between"),
        stable_render(F.col("t_all") - F.col("t_btw"), 6).alias(
            "theil_within"
        ),
        stable_render(F.col("t_btw") / F.col("t_all"), 6).alias(
            "between_share"
        ),
    )


# ---------------------------------------------------------------------------
# auc_rank_separability — ROC AUC as the rank statistic (r9)
# ---------------------------------------------------------------------------


@query(
    "auc_rank_separability",
    oracle=f"""
    WITH scored AS (
        SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS s,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    by_val AS (
        SELECT s, CAST(count(*) AS BIGINT) AS t,
               CAST(sum(pos) AS BIGINT) AS tp
        FROM scored GROUP BY s
    ),
    ranked AS (
        SELECT s, t, tp,
               CAST(coalesce(sum(t) OVER (
                   ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING
                   AND 1 PRECEDING), 0) AS BIGINT) AS cum_prev
        FROM by_val
    ),
    agg AS (
        SELECT CAST(sum(tp) AS BIGINT) AS n_pos,
               CAST(sum(t - tp) AS BIGINT) AS n_neg,
               CAST(sum((2 * cum_prev + t + 1) * tp) AS BIGINT) AS r2
        FROM ranked
    )
    SELECT n_pos, n_neg,
           {round_sql(
               "(r2 / 2.0 - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)"
               " / (CAST(n_pos AS DOUBLE) * n_neg)", 6
           )} AS auc,
           {round_sql(
               "2 * ((r2 / 2.0 - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2)"
               " / (CAST(n_pos AS DOUBLE) * n_neg)) - 1", 6
           )} AS gini_coef
    FROM agg
    """,
)
def auc_rank_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC AUC of event value as a classifier score separating
    purchases from clicks, computed as the Mann-Whitney rank
    statistic AUC = (ΣR⁺ − n⁺(n⁺+1)/2)/(n⁺n⁻) — P(random positive
    outranks random negative), with ties counted half. The one-pass
    distributed AUC every model-eval pipeline needs (no sort of the
    full corpus by score, no thresholds grid), plus the Gini
    coefficient 2·AUC−1 — the rank twin of
    `calibration_reliability` (which checks probability VALUES; this
    checks ORDERING power). `mann_whitney_u_test` reuses the same
    machinery to test a difference; this reports the effect as the
    evaluation metric.

    Determinism: scores fix to integer cents; tie-averaged ranks
    come DOUBLED off per-VALUE counts (2·cum_prev+t+1 — the
    `wilcoxon_signed_rank` discipline, so ΣR⁺×2 is an exact BIGINT),
    and the two floats are one closed-form division each, 6dp.
    Scale shape: one value-keyed aggregate (never a corpus-wide
    rank window), one value-ordered window over the DISTINCT-value
    relation, one scalar rollup."""
    e = load_table(spark, sf_dir, "events")
    scored = e.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("s"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias(
            "pos"
        ),
    )
    by_val = scored.groupBy("s").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum("pos").cast("long").alias("tp"),
    )
    w_prev = Window.orderBy("s").rowsBetween(Window.unboundedPreceding, -1)
    ranked = by_val.select(
        "s",
        "t",
        "tp",
        F.coalesce(F.sum("t").over(w_prev), F.lit(0))
        .cast("long")
        .alias("cum_prev"),
    )
    agg = ranked.agg(
        F.sum("tp").cast("long").alias("n_pos"),
        F.sum(F.col("t") - F.col("tp")).cast("long").alias("n_neg"),
        F.sum((2 * F.col("cum_prev") + F.col("t") + 1) * F.col("tp"))
        .cast("long")
        .alias("r2"),
    )
    np_, nn = F.col("n_pos"), F.col("n_neg")
    auc = (F.col("r2") / 2.0 - np_.cast("double") * (np_ + 1) / 2) / (
        np_.cast("double") * nn
    )
    return agg.select(
        "n_pos",
        "n_neg",
        round_col(auc, 6).alias("auc"),
        round_col(2 * auc - 1, 6).alias("gini_coef"),
    )


# ---------------------------------------------------------------------------
# g_test_independence — likelihood-ratio independence test (r9)
# ---------------------------------------------------------------------------


@query(
    "g_test_independence",
    oracle=f"""
    WITH cells AS (
        SELECT lang, source, CAST(count(*) AS BIGINT) AS obs
        FROM documents GROUP BY lang, source
    ),
    rt AS (SELECT lang, CAST(sum(obs) AS BIGINT) AS row_tot
           FROM cells GROUP BY lang),
    ct AS (SELECT source, CAST(sum(obs) AS BIGINT) AS col_tot
           FROM cells GROUP BY source),
    n AS (SELECT CAST(sum(obs) AS BIGINT) AS total,
                 CAST(count(DISTINCT lang) AS BIGINT) AS r,
                 CAST(count(DISTINCT source) AS BIGINT) AS c
          FROM cells),
    g AS (
        SELECT sum(2.0 * obs * ln(CAST(obs AS DOUBLE) * total
                                  / (CAST(row_tot AS DOUBLE) * col_tot)))
                   AS g_stat
        FROM cells JOIN rt USING (lang) JOIN ct USING (source), n
    )
    SELECT n.r AS n_langs, n.c AS n_sources, n.total AS n_docs,
           (n.r - 1) * (n.c - 1) AS dof,
           {stable_render_sql("(SELECT g_stat FROM g)", 4)} AS g_stat
    FROM n
    """,
)
def g_test_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Likelihood-ratio G-test of lang × source independence — the
    information-theoretic twin of `chi_square_independence` on the
    SAME contingency: G = 2ΣO·ln(O·N/(R·C)) equals 2N times the
    mutual information in nats (`mutual_information_categorical`
    reports that quantity directly; G is its test statistic), is
    additive under table partitioning (decomposable drill-downs,
    which Pearson χ² is not), and handles sparse tables cleanly —
    empty cells contribute exactly 0, no 0²/E pseudo-terms.

    Determinism: observed and marginal counts are exact BIGINTs and
    each term's ln argument is a ratio of exact integers, but the
    corpus-cells ln-sum is a transcendental chain → stable_render
    (4dp decimal string). Scale shape: one (lang, source) aggregate,
    marginals off the cell table, one scalar rollup — cell-bounded
    after a single shuffle."""
    d = load_table(spark, sf_dir, "documents")
    cells = d.groupBy("lang", "source").agg(
        F.count(F.lit(1)).cast("long").alias("obs")
    )
    rt = cells.groupBy("lang").agg(F.sum("obs").cast("long").alias("row_tot"))
    ct = cells.groupBy("source").agg(
        F.sum("obs").cast("long").alias("col_tot")
    )
    n = cells.agg(
        F.sum("obs").cast("long").alias("total"),
        F.countDistinct("lang").cast("long").alias("r"),
        F.countDistinct("source").cast("long").alias("c"),
    )
    g = (
        cells.join(rt, "lang")
        .join(ct, "source")
        .crossJoin(F.broadcast(n))
        .agg(
            F.sum(
                2.0
                * F.col("obs")
                * F.log(
                    F.col("obs").cast("double")
                    * F.col("total")
                    / (F.col("row_tot").cast("double") * F.col("col_tot"))
                )
            ).alias("g_stat")
        )
    )
    return (
        n.crossJoin(F.broadcast(g))
        .select(
            F.col("r").alias("n_langs"),
            F.col("c").alias("n_sources"),
            F.col("total").alias("n_docs"),
            ((F.col("r") - 1) * (F.col("c") - 1)).alias("dof"),
            stable_render(F.col("g_stat"), 4).alias("g_stat"),
        )
    )


# ---------------------------------------------------------------------------
# mcc_confusion_metrics — threshold-classifier evaluation set (r9)
# ---------------------------------------------------------------------------


@query(
    "mcc_confusion_metrics",
    oracle=f"""
    WITH labeled AS (
        SELECT CASE WHEN value >= 10.0 THEN 1 ELSE 0 END AS pred,
               CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
        FROM events WHERE event_type IN ('click', 'purchase')
    ),
    cm AS (
        SELECT
            CAST(sum(CASE WHEN pred = 1 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN pred = 1 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN pred = 0 AND y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CAST(sum(CASE WHEN pred = 0 AND y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS tn
        FROM labeled
    )
    SELECT tp, fp, fn, tn,
           {round_sql("CAST(tp AS DOUBLE) / (tp + fp)", 6)} AS precision,
           {round_sql("CAST(tp AS DOUBLE) / (tp + fn)", 6)} AS recall,
           {round_sql(
               "2.0 * tp / (2.0 * tp + fp + fn)", 6
           )} AS f1,
           {round_sql(
               "(CAST(tp AS DOUBLE) * tn - CAST(fp AS DOUBLE) * fn)"
               " / sqrt((CAST(tp AS DOUBLE) + fp) * (CAST(tp AS DOUBLE) + fn)"
               "        * (CAST(tn AS DOUBLE) + fp) * (CAST(tn AS DOUBLE) + fn))",
               6
           )} AS mcc
    FROM cm
    """,
)
def mcc_confusion_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full confusion-matrix evaluation of the fixed-threshold
    classifier 'value ≥ 10 predicts purchase' against the actual
    purchase label: precision, recall, F1, and Matthews correlation
    — the THRESHOLDED companion to `auc_rank_separability` (AUC
    scores the ranking; once a threshold ships, these four are what
    the monitoring dashboard tracks, and MCC is the one that stays
    honest under class imbalance where accuracy and even F1
    mislead).

    Determinism: the four confusion counts are exact BIGINTs from
    one conditional aggregate (threshold compares against a literal
    on the raw double — same comparison both engines); each metric
    is one closed-form expression over those integers (MCC's
    denominator product is computed in DOUBLE — the integer product
    of four ~N-sized factors would overflow LONG at corpus scale),
    6dp. Scale shape: one scan, one 4-counter aggregate, scalar
    arithmetic — the cheapest possible evaluation plan."""
    e = load_table(spark, sf_dir, "events")
    labeled = e.filter(
        F.col("event_type").isin("click", "purchase")
    ).select(
        F.when(F.col("value") >= 10.0, 1).otherwise(0).alias("pred"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    cm = labeled.agg(
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("tp"),
        F.sum(F.when((F.col("pred") == 1) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("fp"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 1), 1).otherwise(0))
        .cast("long")
        .alias("fn"),
        F.sum(F.when((F.col("pred") == 0) & (F.col("y") == 0), 1).otherwise(0))
        .cast("long")
        .alias("tn"),
    )
    tp, fp, fn, tn = (F.col(x).cast("double") for x in ("tp", "fp", "fn", "tn"))
    mcc = (tp * F.col("tn") - fp * F.col("fn")) / F.sqrt(
        (tp + F.col("fp")) * (tp + F.col("fn"))
        * (tn + F.col("fp")) * (tn + F.col("fn"))
    )
    return cm.select(
        "tp",
        "fp",
        "fn",
        "tn",
        round_col(tp / (F.col("tp") + F.col("fp")), 6).alias("precision"),
        round_col(tp / (F.col("tp") + F.col("fn")), 6).alias("recall"),
        round_col(2.0 * tp / (2.0 * tp + F.col("fp") + F.col("fn")), 6).alias(
            "f1"
        ),
        round_col(mcc, 6).alias("mcc"),
    )
