"""Relational operator library (SURVEY.md §2B) on the fixture tables.

Each query re-expresses one operator pattern from the reference's
analytical surface (/root/reference/scripts/analyze_heap_parquet.py,
/root/reference/mcp_server/server.py) as an idiomatic PySpark pipeline,
with a DuckDB oracle twin. Reference citations are per-query.

Scale notes apply throughout:
- filters/projections are expressed declaratively so Catalyst pushes
  them into the parquet scan (check: PushedFilters / ReadSchema);
- dimension joins (region/nation/part/supplier at TPC-H geometry) are
  explicitly broadcast — at 100 TB the fact side never shuffles for
  them;
- top-k uses orderBy+limit, which Spark executes as TakeOrdered
  (per-partition heap + driver merge), not a global sort;
- two-level aggregates reuse the first shuffle's partitioning where
  keys allow.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..exprs import round_col, round_sql, stable_render, stable_render_sql
from ..registry import query


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return load_table(spark, sf_dir, name)


_FIXTURE: tuple[str, dict] | None = None


def hprof_fixture() -> tuple[str, dict]:
    """(path, ground-truth) for the deterministic synthetic test dump,
    built once per process at a fixed scratch path and reused —
    repeated driver-gate/bench runs previously leaked a fresh mkdtemp
    per call. Built to a temp name and os.replace'd so concurrent
    callers see either nothing or a complete file, never a partial
    write. The truth dict carries the object index / reference edges /
    GC roots recorded while writing (hprof_writer.build_test_dump), so
    oracles can recompute graph results independently of ingest."""
    global _FIXTURE
    if _FIXTURE is None:
        import tempfile

        from ..ingest.hprof_writer import build_test_dump

        d = os.path.join(tempfile.gettempdir(), "hds_hprof_fixture")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "t.hprof")
        tmp = os.path.join(d, f"t.hprof.tmp.{os.getpid()}")
        truth = build_test_dump(tmp)
        os.replace(tmp, path)
        _FIXTURE = (path, truth)
    return _FIXTURE


def hprof_fixture_path() -> str:
    return hprof_fixture()[0]


_FLEET_DIR = None


def hprof_fleet_dir() -> str:
    """Two-dump spool for the fleet-scan queries: ``t0.hprof`` is the
    standard test heap, ``t1.hprof`` the grown heap (3 extra Strings
    held by a fresh Object[] held by a rooted Child —
    hprof_writer's ``hold_extras`` leak shape). Built once per
    process at a fixed scratch path with the same tmp-name +
    os.replace visibility discipline as ``hprof_fixture`` (the tmp
    suffix keeps staged files outside the ``*.hprof`` glob, so a
    concurrent directory scan never sees a torn dump)."""
    global _FLEET_DIR
    if _FLEET_DIR is None:
        import tempfile

        from ..ingest.hprof_writer import build_test_dump

        d = os.path.join(tempfile.gettempdir(), "hds_hprof_fleet")
        os.makedirs(d, exist_ok=True)
        for name, kw in (
            ("t0.hprof", {}),
            ("t1.hprof", {"extra_strings": 3, "hold_extras": True}),
        ):
            p = os.path.join(d, name)
            if not os.path.exists(p):
                tmp = f"{p}.tmp.{os.getpid()}"
                build_test_dump(tmp, **kw)
                os.replace(tmp, p)
        _FLEET_DIR = d
    return _FLEET_DIR


def _fixture_warehouse(spark: SparkSession):
    """The test dump ingested once into a cached warehouse beside the
    fixture (keyed by the ingest _SUCCESS marker) — lets graph queries
    run against real ingested tables without re-converting per call.

    Concurrency: like the fixture dump itself (temp name +
    os.replace in hprof_fixture), the warehouse is built in a
    process-private staging directory and atomically renamed into
    place, so two processes racing (driver gate + pytest) each build
    a complete warehouse and one rename wins — a reader can never
    trust a half-written directory just because _SUCCESS appeared."""
    from ..catalog import Warehouse
    from ..ingest import ingest_hprof

    path = hprof_fixture_path()
    wh_dir = os.path.join(os.path.dirname(path), "wh")
    if not os.path.exists(os.path.join(wh_dir, "_SUCCESS")):
        staging = f"{wh_dir}.build.{os.getpid()}"
        ingest_hprof(spark, path, staging, overwrite=True)
        try:
            os.rename(staging, wh_dir)
        except OSError:
            # lost the race — another process's complete build is in
            # place; discard ours
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    return Warehouse(spark, wh_dir)


# ---------------------------------------------------------------------------
# Scans / projection / predicates (B1, B6, B7)
# ---------------------------------------------------------------------------


@query(
    "scan_filter_project",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice, l_shipdate
    FROM lineitem
    WHERE l_shipdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31'
      AND l_discount BETWEEN 0.02 AND 0.05
      AND l_quantity <> 0
    """,
)
def scan_filter_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Projection + range/inequality predicates pushed to the parquet scan.

    Mirrors the reference's filtered scans, e.g. size/len range predicates
    (analyze_heap_parquet.py:244,357,666) and `!= 0` null-sentinel tests
    (analyze_heap_parquet.py:283,658).
    """
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(
        F.col("l_shipdate").between(
            F.lit("1995-01-01").cast("timestamp"), F.lit("1996-12-31").cast("timestamp")
        )
        & F.col("l_discount").between(0.02, 0.05)
        & (F.col("l_quantity") != 0)
    ).select("l_orderkey", "l_linenumber", "l_extendedprice", "l_shipdate")


@query(
    "like_patterns",
    oracle="""
    SELECT p_partkey, p_name, p_type
    FROM part
    WHERE (p_name LIKE 'red%') OR (p_type LIKE '%ECONOMY%' AND p_name NOT LIKE '%bolt%')
    """,
)
def like_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-pattern predicates — the category-routing / thread-class-hunt
    idiom (analyze_heap_parquet.py:195-201,1062-1065)."""
    p = _t(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").like("red%")
        | (F.col("p_type").like("%ECONOMY%") & ~F.col("p_name").like("%bolt%"))
    ).select("p_partkey", "p_name", "p_type")


@query(
    "pagination",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 101 OFFSET 500
    """,
)
def pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pagination — `query_heap`'s LIMIT n+1 OFFSET m page
    probe (server.py:508-517)."""
    o = _t(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .offset(500)
        .limit(101)
    )


# ---------------------------------------------------------------------------
# Joins (B10-B15)
# ---------------------------------------------------------------------------


@query(
    "join_fact_fact",
    oracle=f"""
    SELECT o_orderstatus,
           {round_sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
           count(*) AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderstatus
    """,
)
def join_fact_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-to-fact equi hash join + aggregate — the signature
    String ⋈ byte[] duplicate-content join (analyze_heap_parquet.py:276-294).
    Both sides large ⇒ shuffle join on the key; AQE handles skew."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            round_col(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "enrichment_join",
    oracle=f"""
    SELECT coalesce(p_brand, '(unresolved)') AS brand,
           count(*) AS n_items,
           {round_sql("sum(l_quantity)")} AS total_qty
    FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
    GROUP BY coalesce(p_brand, '(unresolved)')
    """,
)
def enrichment_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast enrichment join with an '(unresolved)' fallback — the
    robo-mode id → type_name enrichment against `_object_index`
    (server.py:179-184, resolve_ref_type_str dump_to_parquet.rs:150-170).
    The dimension is broadcast: the 100-TB fact side never shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey, "left")
        .groupBy(F.coalesce(F.col("p_brand"), F.lit("(unresolved)")).alias("brand"))
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            round_col(F.sum("l_quantity")).alias("total_qty"),
        )
    )


@query(
    "join_ratio_filter",
    oracle=f"""
    WITH line_sums AS (
        SELECT l_orderkey, sum(l_extendedprice) AS line_total
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT o_orderkey, o_totalprice,
           {round_sql("line_total")} AS line_total,
           {round_sql("line_total / o_totalprice", 4)} AS fill_ratio
    FROM orders JOIN line_sums ON o_orderkey = l_orderkey
    WHERE line_total / o_totalprice < 0.5
    """,
)
def join_ratio_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join through an aggregated CTE with a post-join ratio predicate —
    the collection-utilization check (HashMap size/len(table) < 0.33,
    analyze_heap_parquet.py:654-697)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    sums = li.groupBy("l_orderkey").agg(F.sum("l_extendedprice").alias("line_total"))
    ratio = F.col("line_total") / F.col("o_totalprice")
    return (
        o.join(sums, o.o_orderkey == sums.l_orderkey)
        .filter(ratio < 0.5)
        .select(
            "o_orderkey",
            "o_totalprice",
            round_col(F.col("line_total")).alias("line_total"),
            round_col(ratio, 4).alias("fill_ratio"),
        )
    )


@query(
    "join_semi",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
          AND o.o_totalprice > 300000
    )
    """,
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS). Absent from the reference (SURVEY §2B B15)
    but part of a complete join surface; Spark plans it without
    materializing the probe side."""
    c = _t(spark, sf_dir, "customer")
    o = (
        _t(spark, sf_dir, "orders")
        .filter((F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > 300000))
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@query(
    "join_anti",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT'
    )
    """,
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS) — customers with no urgent order."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") == "1-URGENT")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select("c_custkey", "c_name")


@query(
    "hierarchy_join",
    oracle="""
    SELECT r_name, n_nationkey, n_name
    FROM nation JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    """,
)
def hierarchy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy lookup — the subclasses-of-X query over
    `_class_hierarchy` (server.py:168-171)."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey).select(
        "r_name", "n_nationkey", "n_name"
    )


@query(
    "hierarchy_closure",
    oracle="""
    WITH RECURSIVE edges AS (
        SELECT c_custkey AS child, c_custkey // 10 AS parent
        FROM customer WHERE c_custkey >= 10
    ), closure AS (
        SELECT child AS descendant, parent AS ancestor, 1 AS depth FROM edges
        UNION ALL
        SELECT c.descendant, e.parent, c.depth + 1
        FROM closure c JOIN edges e ON c.ancestor = e.child
    )
    SELECT ancestor, count(*) AS n_descendants, max(depth) AS max_depth
    FROM closure GROUP BY ancestor
    ORDER BY n_descendants DESC, ancestor LIMIT 50
    """,
)
def hierarchy_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE hierarchy closure — the recursive extension of the
    one-level subclasses-of-X lookup (hierarchy_join ≙
    /root/reference/mcp_server/server.py:168-171, which never walks
    more than one edge). Builds a deterministic 10-ary tree over
    customer keys (parent = key DIV 10) standing in for
    `_class_hierarchy`'s super-chain, then derives every
    (ancestor, descendant, depth) pair by iterative self-join —
    Spark's recursive-CTE equivalent — and rolls up descendant counts
    and subtree depth per ancestor.

    Scale shape: iterations = tree depth (log-bounded, ~5 here; class
    hierarchies are ~10 deep at worst), each a hash join on the
    ancestor key with lineage truncated per round via localCheckpoint
    — the same bounded-iteration pattern as dedup_connected_components.
    Hierarchy tables are class-registry-sized (thousands of rows), so
    every round's join is broadcast-able at any corpus scale."""
    c = _t(spark, sf_dir, "customer")
    edges = c.select(
        F.col("c_custkey").alias("child"),
        F.expr("c_custkey DIV 10").alias("parent"),
    ).filter(F.col("child") >= 10)
    closure = edges.select(
        F.col("child").alias("descendant"),
        F.col("parent").alias("ancestor"),
        F.lit(1).alias("depth"),
    ).localCheckpoint()
    frontier = closure
    while True:
        frontier = (
            frontier.alias("f")
            .join(edges.alias("e"), F.col("f.ancestor") == F.col("e.child"))
            .select(
                F.col("f.descendant"),
                F.col("e.parent").alias("ancestor"),
                (F.col("f.depth") + F.lit(1)).alias("depth"),
            )
            # lazy checkpoint: the emptiness count is the
            # materializing job — one action per round
            .localCheckpoint(eager=False)
        )
        if frontier.count() == 0:
            break
        closure = closure.unionByName(frontier)
    return (
        closure.groupBy("ancestor")
        .agg(
            F.count(F.lit(1)).alias("n_descendants"),
            F.max("depth").alias("max_depth"),
        )
        .orderBy(F.desc("n_descendants"), "ancestor")
        .limit(50)
    )


@query(
    "explode_tokens",
    oracle="""
    SELECT lang, token, count(*) AS cnt
    FROM (
        SELECT lang, unnest(string_split(text, ' ')) AS token FROM documents
    )
    WHERE token <> ''
    GROUP BY lang, token
    ORDER BY cnt DESC, lang, token LIMIT 50
    """,
)
def explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lateral UNNEST + aggregate — the stack-trace frame_ids explode-join
    idiom (server.py:140-144). explode() is Spark's generator-node UNNEST."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .filter(F.col("token") != "")
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "lang", "token")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Aggregations (B16-B22)
# ---------------------------------------------------------------------------


@query(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {round_sql("sum(l_quantity)")} AS sum_qty,
           {round_sql("sum(l_extendedprice)")} AS sum_base_price,
           {round_sql("sum(l_extendedprice * (1 - l_discount))")} AS sum_disc_price,
           {round_sql("sum(l_extendedprice * (1 - l_discount) * (1 + l_tax))")} AS sum_charge,
           {round_sql("avg(l_quantity)", 4)} AS avg_qty,
           {round_sql("avg(l_extendedprice)", 4)} AS avg_price,
           {round_sql("avg(l_discount)", 4)} AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship group-aggregate (TPC-H Q1 shape): multi-aggregate groupBy
    with arithmetic inside the aggregates — the reference's group-by
    surface (analyze_heap_parquet.py:181-185,284-294). Partial (map-side)
    aggregation makes this shuffle only |groups| rows per partition."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            round_col(F.sum("l_quantity")).alias("sum_qty"),
            round_col(F.sum("l_extendedprice")).alias("sum_base_price"),
            round_col(F.sum(disc_price)).alias("sum_disc_price"),
            round_col(F.sum(disc_price * (1 + F.col("l_tax")))).alias("sum_charge"),
            round_col(F.avg("l_quantity"), 4).alias("avg_qty"),
            round_col(F.avg("l_extendedprice"), 4).alias("avg_price"),
            round_col(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@query(
    "count_distinct",
    oracle="""
    SELECT count(*) AS n_rows,
           count(DISTINCT l_partkey) AS n_parts,
           count(DISTINCT l_suppkey) AS n_supps,
           count(DISTINCT l_orderkey) AS n_orders
    FROM lineitem
    """,
)
def count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global COUNT(*) / COUNT(DISTINCT) — the class-count check
    (analyze_heap_parquet.py:764-799). Exact distinct is required by the
    oracle; at 100 TB swap to approx_count_distinct where tolerable."""
    li = _t(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.countDistinct("l_orderkey").alias("n_orders"),
    )


@query(
    "having_dup_groups",
    oracle="""
    SELECT l_partkey, l_suppkey, count(*) AS dup_count
    FROM lineitem GROUP BY l_partkey, l_suppkey
    HAVING count(*) > 1
    """,
)
def having_dup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING count>1 — the duplicate-group idiom used by every
    dedup check (analyze_heap_parquet.py:287,319,730,906)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_partkey", "l_suppkey")
        .agg(F.count(F.lit(1)).alias("dup_count"))
        .filter(F.col("dup_count") > 1)
    )


@query(
    "conditional_agg",
    oracle=f"""
    SELECT count(*) AS n_orders,
           count(CASE WHEN o_totalprice = 0 THEN 1 END) AS n_zero,
           {round_sql("sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice ELSE 0 END)")} AS open_total,
           {round_sql("sum(CASE WHEN o_orderpriority = '1-URGENT' THEN o_totalprice ELSE 0 END)")} AS urgent_total
    FROM orders
    """,
)
def conditional_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional aggregation — the DirectByteBuffer waste query
    (SUM(CASE WHEN pos=0 AND "limit"=capacity ...), analyze_heap_parquet.py:846-854)."""
    o = _t(spark, sf_dir, "orders")
    return o.agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count(F.when(F.col("o_totalprice") == 0, 1)).alias("n_zero"),
        round_col(
            F.sum(F.when(F.col("o_orderstatus") == "O", F.col("o_totalprice")).otherwise(0.0))
        ).alias("open_total"),
        round_col(
            F.sum(
                F.when(F.col("o_orderpriority") == "1-URGENT", F.col("o_totalprice")).otherwise(
                    0.0
                )
            )
        ).alias("urgent_total"),
    )


@query(
    "two_level_agg",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total
        FROM orders GROUP BY o_custkey
    )
    SELECT c_mktsegment,
           count(*) AS n_customers,
           CAST(sum(n_orders) AS BIGINT) AS n_orders,
           {round_sql("sum(total)")} AS segment_total,
           {round_sql("avg(n_orders)", 4)} AS avg_orders_per_cust
    FROM per_cust JOIN customer ON c_custkey = o_custkey
    GROUP BY c_mktsegment
    """,
)
def two_level_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level aggregation over a CTE — the hash-groups → waste-rollup
    pipeline (analyze_heap_parquet.py:276-294,721-737). The second
    aggregate keys on a broadcast-joined dimension column, so only the
    small per-customer intermediate shuffles again."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = o.groupBy("o_custkey").agg(
        F.count(F.lit(1)).alias("n_orders"), F.sum("o_totalprice").alias("total")
    )
    return (
        per_cust.join(F.broadcast(c), per_cust.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("n_orders").cast("long").alias("n_orders"),
            round_col(F.sum("total")).alias("segment_total"),
            round_col(F.avg("n_orders"), 4).alias("avg_orders_per_cust"),
        )
    )


@query(
    "weighted_topk",
    oracle=f"""
    WITH per_order AS (
        SELECT l_orderkey, count(*) AS n_lines,
               sum(l_extendedprice * (1 - l_discount)) AS revenue
        FROM lineitem GROUP BY l_orderkey
    )
    SELECT l_orderkey, n_lines,
           {round_sql("revenue")} AS revenue,
           {round_sql("n_lines * revenue")} AS weight
    FROM per_order
    ORDER BY n_lines * revenue DESC, l_orderkey LIMIT 10
    """,
)
def weighted_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted top-k of groups — `ORDER BY dup_count * str_len DESC
    LIMIT 10` (analyze_heap_parquet.py:308-321). TakeOrdered: no global
    sort."""
    li = _t(spark, sf_dir, "lineitem")
    per_order = li.groupBy("l_orderkey").agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue"),
    )
    weight = F.col("n_lines") * F.col("revenue")
    return (
        per_order.orderBy(weight.desc(), "l_orderkey")
        .limit(10)
        .select(
            "l_orderkey",
            "n_lines",
            round_col(F.col("revenue")).alias("revenue"),
            round_col(weight).alias("weight"),
        )
    )


@query(
    "rollup_agg",
    oracle=f"""
    SELECT l_returnflag, l_linestatus, count(*) AS cnt,
           {round_sql("sum(l_quantity)")} AS qty
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def rollup_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP grouping sets — absent from the reference (SURVEY §2B B22),
    provided for surface completeness."""
    li = _t(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("cnt"), round_col(F.sum("l_quantity")).alias("qty")
    )


# ---------------------------------------------------------------------------
# CASE bucketing / classification (B23-B26)
# ---------------------------------------------------------------------------


@query(
    "bucket_histogram",
    oracle=f"""
    SELECT CASE WHEN o_totalprice < 50000 THEN 'lt_50k'
                WHEN o_totalprice < 150000 THEN '50k_150k'
                WHEN o_totalprice < 300000 THEN '150k_300k'
                ELSE 'gte_300k' END AS bucket,
           count(*) AS cnt,
           {round_sql("sum(o_totalprice) / 1000000.0")} AS total_m
    FROM orders GROUP BY 1
    """,
)
def bucket_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Size-bucket histogram with scaled sums — the byte-array size
    distribution (CASE len(values) buckets + MB sums,
    analyze_heap_parquet.py:217-229)."""
    o = _t(spark, sf_dir, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "lt_50k")
        .when(F.col("o_totalprice") < 150000, "50k_150k")
        .when(F.col("o_totalprice") < 300000, "150k_300k")
        .otherwise("gte_300k")
    )
    return (
        o.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            round_col(F.sum("o_totalprice") / 1000000.0).alias("total_m"),
        )
    )


@query(
    "pattern_classifier",
    oracle="""
    SELECT CASE WHEN p_size = 0 THEN 'zero'
                WHEN p_size = 1 THEN 'single'
                WHEN p_size >= 40 THEN 'large'
                ELSE 'normal' END AS pattern,
           count(*) AS cnt,
           CAST(sum(p_size) AS BIGINT) AS total_size
    FROM part GROUP BY 1
    """,
)
def pattern_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE pattern classifier — empty/single/sparse array patterns
    (analyze_heap_parquet.py:352-457,466-483)."""
    p = _t(spark, sf_dir, "part")
    pattern = (
        F.when(F.col("p_size") == 0, "zero")
        .when(F.col("p_size") == 1, "single")
        .when(F.col("p_size") >= 40, "large")
        .otherwise("normal")
    )
    return p.groupBy(pattern.alias("pattern")).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("p_size").cast("long").alias("total_size"),
    )


@query(
    "category_like_chains",
    oracle="""
    SELECT CASE WHEN p_type LIKE 'ECONOMY%' OR p_type LIKE 'PROMO%' THEN 'value'
                WHEN p_type LIKE 'SMALL%' OR p_type LIKE 'MEDIUM%' THEN 'mid'
                WHEN p_name LIKE 'red%' OR p_name LIKE 'blue%' THEN 'colored'
                ELSE 'other' END AS category,
           count(*) AS cnt
    FROM part GROUP BY 1
    """,
)
def category_like_chains(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE-chain namespace categorizer (kafka/netty/JDK/... routing,
    analyze_heap_parquet.py:193-207)."""
    p = _t(spark, sf_dir, "part")
    category = (
        F.when(F.col("p_type").like("ECONOMY%") | F.col("p_type").like("PROMO%"), "value")
        .when(F.col("p_type").like("SMALL%") | F.col("p_type").like("MEDIUM%"), "mid")
        .when(F.col("p_name").like("red%") | F.col("p_name").like("blue%"), "colored")
        .otherwise("other")
    )
    return p.groupBy(category.alias("category")).agg(F.count(F.lit(1)).alias("cnt"))


# ---------------------------------------------------------------------------
# Sorts / top-k (B27), set ops (B28)
# ---------------------------------------------------------------------------


@query(
    "global_topk",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_extendedprice
    FROM lineitem
    ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber LIMIT 15
    """,
)
def global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global sort-desc + LIMIT — top types / top large arrays
    (analyze_heap_parquet.py:181-185,240-246). Executes as TakeOrdered."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.orderBy(F.desc("l_extendedprice"), "l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber", "l_extendedprice")
        .limit(15)
    )


@query(
    "union_by_name",
    oracle=f"""
    SELECT 'customer' AS kind, c_nationkey AS nationkey, count(*) AS cnt,
           {round_sql("sum(c_acctbal)")} AS balance
    FROM customer GROUP BY 1, 2
    UNION ALL
    SELECT 'supplier' AS kind, s_nationkey AS nationkey, count(*) AS cnt,
           {round_sql("sum(s_acctbal)")} AS balance
    FROM supplier GROUP BY 1, 2
    """,
)
def union_by_name(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of heterogeneous sources into one tagged table — the 9-way
    GC-root union (dump_to_parquet.rs:336-371) / 8-type primitive-array
    loop (analyze_heap_parquet.py:537-576)."""
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    cu = c.groupBy(
        F.lit("customer").alias("kind"), F.col("c_nationkey").alias("nationkey")
    ).agg(F.count(F.lit(1)).alias("cnt"), round_col(F.sum("c_acctbal")).alias("balance"))
    su = s.groupBy(
        F.lit("supplier").alias("kind"), F.col("s_nationkey").alias("nationkey")
    ).agg(F.count(F.lit(1)).alias("cnt"), round_col(F.sum("s_acctbal")).alias("balance"))
    return cu.unionByName(su)


# ---------------------------------------------------------------------------
# Scalar functions (B29-B33), sampling (B35/B36)
# ---------------------------------------------------------------------------


@query(
    "string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_mktsegment) AS seg_upper,
           substr(c_name, 10, 8) AS id_part,
           concat_ws('|', c_mktsegment, c_name) AS tagged,
           CAST(length(c_name) AS INT) AS name_len
    FROM customer WHERE c_custkey < 100
    """,
)
def string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String scalar surface — CAST/concat/substr idioms
    (analyze_heap_parquet.py:312)."""
    c = _t(spark, sf_dir, "customer")
    return c.filter(F.col("c_custkey") < 100).select(
        "c_custkey",
        F.upper("c_mktsegment").alias("seg_upper"),
        F.substring("c_name", 10, 8).alias("id_part"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("tagged"),
        F.length("c_name").cast("int").alias("name_len"),
    )


@query(
    "arithmetic_charge",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           {round_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS charge,
           {round_sql("l_extendedprice / 1048576.0", 6)} AS price_mib
    FROM lineitem WHERE l_orderkey < 1000
    """,
)
def arithmetic_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row arithmetic + deterministic rounding — the
    ROUND(x/1048576.0, 2) MB-scaling idiom (analyze_heap_parquet.py:226)."""
    li = _t(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_orderkey") < 1000).select(
        "l_orderkey",
        "l_linenumber",
        round_col(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * (1 + F.col("l_tax"))
        ).alias("charge"),
        round_col(F.col("l_extendedprice") / 1048576.0, 6).alias("price_mib"),
    )


@query(
    "bitmask_decode",
    oracle="""
    SELECT l_linenumber AS status,
           concat_ws('|',
               CASE WHEN (l_linenumber & 1) > 0 THEN 'ALIVE' END,
               CASE WHEN (l_linenumber & 2) > 0 THEN 'TERMINATED' END,
               CASE WHEN (l_linenumber & 4) > 0 THEN 'RUNNABLE' END) AS states,
           count(*) AS cnt
    FROM lineitem GROUP BY l_linenumber
    """,
)
def bitmask_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitmask flag decode — the threadStatus bitmask table
    (analyze_heap_parquet.py:993-1024), done engine-side with bitwiseAND
    instead of the reference's Python post-processing."""
    li = _t(spark, sf_dir, "lineitem")
    ln = F.col("l_linenumber")
    states = F.concat_ws(
        "|",
        F.when(ln.bitwiseAND(1) > 0, "ALIVE"),
        F.when(ln.bitwiseAND(2) > 0, "TERMINATED"),
        F.when(ln.bitwiseAND(4) > 0, "RUNNABLE"),
    )
    return li.groupBy(ln.alias("status"), states.alias("states")).agg(
        F.count(F.lit(1)).alias("cnt")
    ).select("status", "states", "cnt")


@query(
    "systematic_sample",
    oracle=f"""
    SELECT CAST(count(*) * 10 AS BIGINT) AS est_rows,
           {round_sql("sum(l_extendedprice) * 10")} AS est_price
    FROM lineitem WHERE l_orderkey % 10 = 0
    """,
)
def systematic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 10% systematic sample with estimate scale-up — the
    Bernoulli sampling + 100/pct scaling heuristic
    (analyze_heap_parquet.py:264-305). Key-mod sampling keeps the oracle
    deterministic; production code would use df.sample(fraction=...)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_orderkey") % 10 == 0)
        .agg(
            (F.count(F.lit(1)) * 10).cast("long").alias("est_rows"),
            round_col(F.sum("l_extendedprice") * 10).alias("est_price"),
        )
    )


# ---------------------------------------------------------------------------
# SQL passthrough (B3), struct access (B6), reserved identifiers (B9)
# ---------------------------------------------------------------------------


@query(
    "sql_passthrough_reserved",
    oracle="""
    SELECT o_orderkey, "limit", round(used * 1.0, 2) AS used_r
    FROM (
        SELECT o_orderkey, o_totalprice AS "limit", o_totalprice AS used
        FROM orders
    )
    WHERE "limit" > 400000
    """,
)
def sql_passthrough_reserved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary-SQL passthrough over registered views (B3, the
    `query_heap` surface, server.py:479-534) including a reserved-word
    column quoted with backticks (B9 — the DirectByteBuffer `limit`
    column idiom, analyze_heap_parquet.py:849). round() is safe here:
    the value is an identity product, exact in both engines."""
    from ..catalog import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(
        """
        SELECT o_orderkey, `limit`, round(used * 1.0, 2) AS used_r
        FROM (
            SELECT o_orderkey, o_totalprice AS `limit`, o_totalprice AS used
            FROM orders
        )
        WHERE `limit` > 400000
        """
    )


@query(
    "struct_field_access",
    oracle="""
    SELECT n_nationkey,
           (struct_pack(id := n_regionkey, type := n_name)).id AS ref_id,
           (struct_pack(id := n_regionkey, type := n_name)).type AS ref_type
    FROM nation WHERE n_nationkey < 10
    """,
)
def struct_field_access(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Struct reference columns and dotted field access — the non-robo
    Struct{id,type} reference encoding and the dual-mode `ref_field`
    accessor (B6, analyze_heap_parquet.py:129-134, util.rs:139-142)."""
    n = _t(spark, sf_dir, "nation")
    ref = F.struct(F.col("n_regionkey").alias("id"), F.col("n_name").alias("type"))
    return (
        n.filter(F.col("n_nationkey") < 10)
        .withColumn("ref", ref)
        .select(
            "n_nationkey",
            F.col("ref.id").alias("ref_id"),
            F.col("ref.type").alias("ref_type"),
        )
    )


# ---------------------------------------------------------------------------
# Grouping sets / set operations / pivot (B22, B28 extensions)
# ---------------------------------------------------------------------------


@query(
    "cube_agg",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
           {round_sql("sum(o_totalprice)")} AS total_price
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (the B22 gap — absent in the reference,
    available in Spark): all 4 grouping combinations in ONE shuffle
    with partial aggregation, instead of 4 scans + a union."""
    o = _t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_orders"),
        round_col(F.sum("o_totalprice")).alias("total_price"),
    )


@query(
    "set_ops_except_intersect",
    oracle="""
    SELECT 'never_ordered' AS side, count(*) AS n FROM (
        SELECT c_custkey FROM customer
        EXCEPT SELECT o_custkey FROM orders
    )
    UNION ALL
    SELECT 'has_ordered' AS side, count(*) AS n FROM (
        SELECT c_custkey FROM customer
        INTERSECT SELECT o_custkey FROM orders
    )
    ORDER BY side
    """,
)
def set_ops_except_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT / INTERSECT (distinct set ops — the B28 gap; the
    reference only unions). Spark plans both as aggregated joins
    (left-anti / left-semi after distinct) on the key."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("c_custkey"))
    never = c.exceptAll(o).distinct().agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("never_ordered").alias("side"), "n"
    )
    has = c.intersect(o).agg(F.count(F.lit(1)).alias("n")).select(
        F.lit("has_ordered").alias("side"), "n"
    )
    return has.unionByName(never).orderBy("side")


@query(
    "pivot_status_year",
    oracle=f"""
    SELECT o_orderstatus,
           {round_sql("sum(CASE WHEN year(o_orderdate) = 1996 THEN o_totalprice ELSE 0 END)")} AS y1996,
           {round_sql("sum(CASE WHEN year(o_orderdate) = 1997 THEN o_totalprice ELSE 0 END)")} AS y1997,
           {round_sql("sum(CASE WHEN year(o_orderdate) = 1998 THEN o_totalprice ELSE 0 END)")} AS y1998
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def pivot_status_year(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot (wide conditional aggregation): order value by status ×
    year. An explicit pivot value list keeps it one pass — no extra
    distinct-values job, and the output schema is static, which is
    what a 100-TB pipeline needs for a stable sink schema."""
    o = _t(spark, sf_dir, "orders")
    yr = F.year("o_orderdate")
    agg = (
        o.select("o_orderstatus", yr.alias("yr"), "o_totalprice")
        .groupBy("o_orderstatus")
        .pivot("yr", [1996, 1997, 1998])
        .agg(F.sum(F.when(F.col("yr").isNotNull(), F.col("o_totalprice")).otherwise(0)))
    )
    return agg.select(
        "o_orderstatus",
        round_col(F.coalesce(F.col("1996"), F.lit(0.0))).alias("y1996"),
        round_col(F.coalesce(F.col("1997"), F.lit(0.0))).alias("y1997"),
        round_col(F.coalesce(F.col("1998"), F.lit(0.0))).alias("y1998"),
    )


@query(
    "salted_heavy_hitter_agg",
    oracle=f"""
    SELECT l_suppkey, count(*) AS n_items,
           {round_sql("sum(l_quantity)")} AS total_qty
    FROM lineitem
    GROUP BY l_suppkey
    ORDER BY n_items DESC, l_suppkey LIMIT 20
    """,
)
def salted_heavy_hitter_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation with explicit salting: phase 1
    aggregates on (key, salt) so a hot key's rows spread over 16
    reducers; phase 2 merges the 16 partials per key. The result is
    identical to a plain GROUP BY (the oracle) — the salt only changes
    the shuffle layout. This is the manual fallback when AQE skew
    handling can't apply (aggregations, not joins); counts merge by
    sum, sums by sum, and the final round happens after the merge so
    salting never changes a value."""
    li = _t(spark, sf_dir, "lineitem")
    salt = (F.col("l_orderkey") % 16).alias("salt")
    partial = (
        li.select("l_suppkey", salt, "l_quantity")
        .groupBy("l_suppkey", "salt")
        .agg(
            F.count(F.lit(1)).alias("pc"),
            F.sum("l_quantity").alias("pq"),
        )
    )
    return (
        partial.groupBy("l_suppkey")
        .agg(
            F.sum("pc").alias("n_items"),
            round_col(F.sum("pq")).alias("total_qty"),
        )
        .orderBy(F.desc("n_items"), "l_suppkey")
        .limit(20)
    )


@query(
    "grouping_sets_agg",
    oracle=f"""
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           count(*) AS n_orders,
           {round_sql("sum(o_totalprice)")} AS total_price
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (B22 family, completing rollup/cube):
    two independent 1-D breakdowns plus the grand total in ONE shuffle
    with partial aggregation — the single-pass alternative to three
    scans unioned. GROUPING() flags disambiguate "NULL because not
    grouped" from a NULL key, exactly as both engines define them."""
    o = _t(spark, sf_dir, "orders")
    return o.groupingSets(
        [["o_orderstatus"], ["o_orderpriority"], []],
        "o_orderstatus",
        "o_orderpriority",
    ).agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n_orders"),
        round_col(F.sum("o_totalprice")).alias("total_price"),
    )


# CAST to DOUBLE on both sides: the parquet column is decimal-typed,
# and Spark would otherwise run the whole pipeline (floor included) in
# decimal arithmetic while DuckDB promotes to double.
_CORRELATED_SQL = f"""
SELECT o_orderkey, o_custkey, o_totalprice,
       {round_sql(
           "CAST(o_totalprice AS DOUBLE) / "
           "(SELECT avg(CAST(o2.o_totalprice AS DOUBLE)) FROM orders o2 "
           "WHERE o2.o_custkey = o.o_custkey)", 4)} AS vs_cust_avg
FROM orders o
WHERE CAST(o_totalprice AS DOUBLE) >
      1.5 * (SELECT avg(CAST(o2.o_totalprice AS DOUBLE)) FROM orders o2
             WHERE o2.o_custkey = o.o_custkey)
"""


@query("correlated_scalar_subquery", oracle=_CORRELATED_SQL)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (B3 surface depth): orders more than
    1.5× their own customer's average order value. Catalyst de-
    correlates this into an aggregate + self-join — at scale that is
    one extra shuffle over the per-customer aggregate, never a per-row
    re-execution (the naive nested-loop reading of the SQL). The same
    SQL text runs verbatim on both engines; the portable-rounding
    wrapper is the only decoration."""
    from ..catalog import register_views

    register_views(spark, sf_dir, tables=("orders",))
    return spark.sql(_CORRELATED_SQL)


@query(
    "unpivot_measures",
    oracle=f"""
    WITH s AS (
        SELECT l_returnflag,
               {round_sql("sum(l_quantity)")} AS sum_qty,
               {round_sql("sum(l_extendedprice)")} AS sum_price,
               {round_sql("sum(l_discount)")} AS sum_disc
        FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, metric, value FROM (
        SELECT l_returnflag, 'sum_qty' AS metric, sum_qty AS value FROM s
        UNION ALL
        SELECT l_returnflag, 'sum_price', sum_price FROM s
        UNION ALL
        SELECT l_returnflag, 'sum_disc', sum_disc FROM s
    )
    """,
)
def unpivot_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long unpivot (B28/B22 family; ≙ the reference's
    static-fields unpivot A18, here as a first-class relational
    operator): per-flag measures melt into (metric, value) rows via
    Spark's native `unpivot` — one Expand node over the aggregate, not
    a 3-way self-union re-scanning the source. The oracle spells out
    the UNION ALL the operator replaces."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_returnflag").agg(
        round_col(F.sum("l_quantity")).alias("sum_qty"),
        round_col(F.sum("l_extendedprice")).alias("sum_price"),
        round_col(F.sum("l_discount")).alias("sum_disc"),
    )
    return s.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price", "sum_disc"],
        variableColumnName="metric",
        valueColumnName="value",
    )


@query(
    "hprof_record_tally",
    oracle="""
    SELECT * FROM (VALUES
        ('Utf8', CAST(21 AS BIGINT)),
        ('LoadClass', CAST(6 AS BIGINT)),
        ('HeapDumpSegment', CAST(2 AS BIGINT)),
        ('StackFrame', CAST(2 AS BIGINT)),
        ('StackTrace', CAST(2 AS BIGINT)),
        ('HeapDumpEnd', CAST(1 AS BIGINT))
    ) AS t(tag_name, n)
    ORDER BY n DESC, tag_name
    """,
)
def hprof_record_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tag record tally THROUGH the lazy ``format("hprof")``
    DataSource (≙ the reference's count-records command,
    /root/reference/src/commands/count_records.rs:7-29) — drives the
    binary source end-to-end under the driver's oracle gate: partition
    planning over record headers, executor-side range scans, then a
    plain groupBy/count. The input is the deterministic synthetic test
    dump (ingest/hprof_writer.py), built into a scratch dir at call
    time, so the oracle is its known constant tally; the parquet
    fixture tables play no role here by design — this query verifies
    the non-parquet source path.

    Scale shape: identical to any big binary scan — the driver pass
    touches only 9-byte record headers to cut ~64 MB ranges; each task
    mmaps its own disjoint range. No shuffle until the
    kilobyte-sized tag tally."""
    from ..sources import register

    path = hprof_fixture_path()
    register(spark)
    return (
        spark.read.format("hprof")
        .option("split_bytes", "256")  # force multiple partitions
        .load(path)
        .groupBy("tag_name")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), "tag_name")
    )


@query(
    "hprof_object_kinds",
    oracle="""
    SELECT * FROM (VALUES
        ('class', CAST(4 AS BIGINT), CAST(0 AS BIGINT)),
        ('instance', CAST(8 AS BIGINT), CAST(114 AS BIGINT)),
        ('object_array', CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        ('primitive_array', CAST(8 AS BIGINT), CAST(25 AS BIGINT))
    ) AS t(kind, n_objects, total_n)
    ORDER BY kind
    """,
)
def hprof_object_kinds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heap object census THROUGH the lazy ``instances`` DataSource
    view — one row per object kind with payload-size totals (instance
    bytes / array element counts), the `_object_index` tally
    (≙ /root/reference/src/commands/dump_to_parquet.rs:499-512) without
    materializing a warehouse. Same deterministic test dump and
    constant-oracle pattern as hprof_record_tally; same scale shape:
    executor-side disjoint range scans, kilobyte-sized aggregate."""
    from ..sources import register

    path = hprof_fixture_path()
    register(spark)
    return (
        spark.read.format("hprof")
        .option("view", "instances")
        .option("split_bytes", "256")
        .load(path)
        .groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum("n").alias("total_n"),
        )
        .orderBy("kind")
    )


@query(
    "hprof_fleet_census",
    oracle="""
    SELECT * FROM (VALUES
        ('t0.hprof', 'class', CAST(4 AS BIGINT), CAST(0 AS BIGINT)),
        ('t0.hprof', 'instance', CAST(8 AS BIGINT), CAST(114 AS BIGINT)),
        ('t0.hprof', 'object_array', CAST(2 AS BIGINT), CAST(3 AS BIGINT)),
        ('t0.hprof', 'primitive_array', CAST(8 AS BIGINT), CAST(25 AS BIGINT)),
        ('t1.hprof', 'class', CAST(4 AS BIGINT), CAST(0 AS BIGINT)),
        ('t1.hprof', 'instance', CAST(12 AS BIGINT), CAST(177 AS BIGINT)),
        ('t1.hprof', 'object_array', CAST(3 AS BIGINT), CAST(6 AS BIGINT)),
        ('t1.hprof', 'primitive_array', CAST(8 AS BIGINT), CAST(25 AS BIGINT))
    ) AS t(dump, kind, n_objects, total_n)
    ORDER BY dump, kind
    """,
)
def hprof_fleet_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-fleet heap census THROUGH the directory-addressed
    ``format("hprof")`` source (r13): one scan over a spool of dumps,
    rows prefixed with their dump of origin, grouped to the per-dump
    per-kind object census — the batch face of the continuous
    monitoring loop (`streaming/heap_monitor.py` commits the same
    census per micro-batch from the spool tail). The input is the
    deterministic two-dump fleet fixture (base heap + the grown heap
    with `hold_extras`' planted leak: +4 instances, +1 object array
    of 3 elements), so the oracle is its known constant tally — the
    t1-minus-t0 deltas ARE the planted growth, which is what
    `census_growth` attributes in the streaming twin.

    Scale shape: planning touches only record headers per dump; each
    task scans a disjoint byte range of one dump; the shuffle carries
    (dump, kind) rows — bounded by fleet size x 4, never heap size."""
    from ..sources import register

    d = hprof_fleet_dir()
    register(spark)
    return (
        spark.read.format("hprof")
        .option("view", "instances")
        .option("split_bytes", "256")
        .load(d)
        .groupBy("dump", "kind")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum("n").alias("total_n"),
        )
        .orderBy("dump", "kind")
    )


def _reachability_oracle() -> str:
    """Recursive-CTE oracle for reachability_live_census, derived from
    the fixture writer's recorded graph truth (edges/roots/objects) —
    DuckDB traverses the same graph with WITH RECURSIVE while Spark
    runs the iterative-join BFS over the *ingested* warehouse, so the
    two engines compute reachability through entirely different
    machinery (the hierarchy_closure pattern, applied to the heap)."""
    _, truth = hprof_fixture()
    edges = ", ".join(f"({s}, {d})" for s, d in truth["edges"])
    roots = ", ".join(f"({r})" for r in truth["roots"] if r != 0)
    objs = ", ".join(f"({o}, '{t}')" for o, t, _sz in truth["objects"])
    return f"""
    WITH RECURSIVE
    edges(src, dst) AS (SELECT * FROM (VALUES {edges}) e(src, dst)),
    roots(obj_id) AS (SELECT DISTINCT r FROM (VALUES {roots}) r(r)),
    objects(obj_id, type_name) AS (SELECT * FROM (VALUES {objs}) o(i, t)),
    reach(obj_id) AS (
        SELECT obj_id FROM roots
        UNION
        SELECT e.dst FROM reach r JOIN edges e ON e.src = r.obj_id
    )
    SELECT o.type_name,
           CAST(count(*) AS BIGINT) AS n_objects,
           CAST(count(r.obj_id) AS BIGINT) AS n_reachable,
           CAST(count(*) - count(r.obj_id) AS BIGINT) AS n_unreachable
    FROM objects o LEFT JOIN reach r USING (obj_id)
    GROUP BY o.type_name
    ORDER BY type_name
    """


@query("reachability_live_census", oracle=_reachability_oracle())
def reachability_live_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type liveness census over the INGESTED heap warehouse:
    GC-root reachability (analytics/reachability.py — BFS as iterative
    joins with anti-join dedup, arbitrary depth) joined back to
    `_object_index`, counting reachable vs floating-garbage objects
    per type. This is the arbitrary-depth traversal the reference's
    fixed-join SQL surface cannot express (server.py:179-184 walks a
    fixed number of hops); here it is driver-gated with a recursive-CTE
    DuckDB oracle over the same graph.

    Scale shape: the BFS frontier/visited sets are (obj_id) longs, the
    per-round work is one join + one anti-join, rounds = reference-
    chain depth with a non-convergence guard; the census itself is one
    broadcast-sized join (live set ≪ index) + one aggregation."""
    from ..analytics.reachability import live_census

    return live_census(_fixture_warehouse(spark)).orderBy("type_name")


def _retainer_oracle() -> str:
    """Oracle for single_retainer_bytes from the fixture writer's
    recorded graph truth: DuckDB recomputes in-degrees over the edge
    VALUES and aggregates shallow sizes recorded at write time, while
    Spark derives the same quantities from the INGESTED warehouse
    (edge assembly from _field_types/_object_arrays/_static_fields,
    sizes from field-width sums and array lengths) — two independent
    derivations of the same additive size model."""
    _, truth = hprof_fixture()
    edges = ", ".join(f"({s}, {d})" for s, d in truth["edges"])
    objs = ", ".join(f"({o}, '{t}', {sz})" for o, t, sz in truth["objects"])
    return f"""
    WITH
    edges(src, dst) AS (SELECT DISTINCT * FROM (VALUES {edges}) e(src, dst)),
    objects(obj_id, type_name, shallow_bytes) AS (
        SELECT * FROM (VALUES {objs}) o(i, t, b)),
    indeg AS (
        SELECT dst, count(*) AS n, min(src) AS retainer
        FROM edges GROUP BY dst HAVING count(*) = 1
    )
    SELECT ro.type_name AS retainer_type,
           oo.type_name AS retained_type,
           CAST(count(*) AS BIGINT) AS n_objects,
           CAST(sum(oo.shallow_bytes) AS BIGINT) AS retained_bytes
    FROM indeg i
    JOIN objects oo ON oo.obj_id = i.dst
    JOIN objects ro ON ro.obj_id = i.retainer
    GROUP BY ro.type_name, oo.type_name
    ORDER BY retained_bytes DESC, retainer_type, retained_type
    """


@query("single_retainer_bytes", oracle=_retainer_oracle())
def single_retainer_bytes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memory attribution by sole retainer — the poor-man's dominator
    tree: every object with exactly ONE incoming reference edge is
    retained by that referrer, so its shallow bytes attribute to the
    (retainer type, retained type) pair. This is the "who is holding
    this memory" triage view behind MAT-style retained-size analysis;
    single-retainer attribution is exact (freeing the retainer frees
    the object) and needs no dominator-tree computation. Shallow
    sizes use the additive model header(16) + field bytes (from the
    `_field_types` layout) for instances and header + element bytes
    for arrays — derived entirely from warehouse metadata, while the
    oracle replays sizes recorded independently at dump-write time.

    Scale shape: in-degree is one groupBy over the fixed-width edge
    list; sizes come from metadata-bounded per-class maps plus one
    `size()` projection per array table; the final rollup is a
    (type, type) aggregation — nothing driver-side beyond the class
    registry."""
    # Shared additive size model (header + field widths / element
    # bytes) — one implementation, analytics/dominators.shallow_sizes,
    # serves this query, the dominator tree, and the MCP tools, so a
    # model fix (e.g. the zero-field-class fallback) lands everywhere.
    from ..analytics.dominators import shallow_sizes
    from ..analytics.reachability import sole_retainers

    wh = _fixture_warehouse(spark)
    return (
        sole_retainers(wh)
        .join(shallow_sizes(wh), F.col("dst") == F.col("obj_id"))
        .groupBy("retainer_type", "retained_type")
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.sum("shallow_bytes").cast("long").alias("retained_bytes"),
        )
        .orderBy(F.desc("retained_bytes"), "retainer_type", "retained_type")
    )


_SNAP_FIXTURE: tuple[str, str, dict, dict] | None = None


def snapshot_fixture() -> tuple[str, str, dict, dict]:
    """(path_before, path_after, truth_before, truth_after) for the
    two-snapshot leak fixture: `before` is the standard test dump;
    `after` drops the Base instance (freed), adds 6 new Strings, and
    — the leak shape — one new Object[] holding them all, itself held
    by one new rooted Child (hprof_writer hold_extras). Built once
    per process with the same atomic-replace discipline as
    hprof_fixture."""
    global _SNAP_FIXTURE
    if _SNAP_FIXTURE is None:
        import tempfile

        from ..ingest.hprof_writer import build_test_dump

        d = os.path.join(tempfile.gettempdir(), "hds_hprof_snapfix")
        os.makedirs(d, exist_ok=True)
        paths, truths = [], []
        for name, kw in (
            ("before.hprof", {}),
            (
                "after.hprof",
                {"extra_strings": 6, "omit_base": True, "hold_extras": True},
            ),
        ):
            path = os.path.join(d, name)
            tmp = f"{path}.tmp.{os.getpid()}"
            truths.append(build_test_dump(tmp, **kw))
            os.replace(tmp, path)
            paths.append(path)
        _SNAP_FIXTURE = (paths[0], paths[1], truths[0], truths[1])
    return _SNAP_FIXTURE


def _snapshot_warehouse(spark: SparkSession):
    """The two-snapshot fixture ingested once into a cached
    Hive-partitioned snapshot warehouse (`snapshot=1` = before,
    `snapshot=2` = after) — same atomic staging-rename caching as
    _fixture_warehouse."""
    from ..catalog import Warehouse
    from ..ingest.snapshots import append_snapshot

    p1, p2, t1, t2 = snapshot_fixture()
    # Cache keyed by the fixture ground truth: the .hprof files are
    # rebuilt every process, and a warehouse keyed only by a _DONE
    # marker would silently survive a fixture-shape change across
    # runs (r10 ADVICE) — hashing the truth dicts into the directory
    # name makes any shape change build a fresh warehouse.
    import hashlib

    digest = hashlib.md5(repr((t1, t2)).encode()).hexdigest()[:10]
    wh_dir = os.path.join(os.path.dirname(p1), f"wh.{digest}")
    if not os.path.exists(os.path.join(wh_dir, "_DONE")):
        staging = f"{wh_dir}.build.{os.getpid()}"
        append_snapshot(spark, p1, staging, 1, overwrite=True)
        append_snapshot(spark, p2, staging, 2, overwrite=True)
        with open(os.path.join(staging, "_DONE"), "w") as f:
            f.write("ok")
        try:
            os.rename(staging, wh_dir)
        except OSError:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    return Warehouse(spark, wh_dir)


def _growth_oracle() -> str:
    """Oracle for growth_by_retainer from the two fixture truths:
    DuckDB computes new objects (in `after`, not `before`, by id),
    in-degrees over the after-snapshot edge VALUES, and attributes
    each new object's recorded shallow bytes to its sole retainer's
    type ('(shared)' / '(unreferenced)' buckets otherwise) — while
    Spark derives the same from the INGESTED two-snapshot warehouse
    via object_diff + heap_edges + shallow_sizes."""
    _, _, t1, t2 = snapshot_fixture()
    ids1 = ", ".join(f"({o})" for o, _t, _b in t1["objects"])
    objs2 = ", ".join(f"({o}, '{t}', {b})" for o, t, b in t2["objects"])
    edges2 = ", ".join(f"({s}, {d})" for s, d in t2["edges"])
    return f"""
    WITH o1(obj_id) AS (SELECT * FROM (VALUES {ids1}) a(i)),
    o2(obj_id, type_name, shallow_bytes) AS (
        SELECT * FROM (VALUES {objs2}) b(i, t, sz)),
    e2(src, dst) AS (SELECT DISTINCT * FROM (VALUES {edges2}) e(s, d)),
    newobj AS (
        SELECT * FROM o2
        WHERE obj_id NOT IN (SELECT obj_id FROM o1)
    ),
    indeg AS (
        SELECT dst, count(*) AS n, min(src) AS retainer
        FROM e2 GROUP BY dst
    ),
    attr AS (
        SELECT nb.type_name AS grown_type, nb.shallow_bytes,
               CASE WHEN i.n IS NULL THEN '(unreferenced)'
                    WHEN i.n > 1 THEN '(shared)'
                    ELSE coalesce(ro.type_name, '(unknown)') END
                   AS retainer_type
        FROM newobj nb
        LEFT JOIN indeg i ON i.dst = nb.obj_id
        LEFT JOIN o2 ro ON i.n = 1 AND ro.obj_id = i.retainer
    )
    SELECT retainer_type, grown_type,
           CAST(count(*) AS BIGINT) AS n_new,
           CAST(sum(shallow_bytes) AS BIGINT) AS grown_bytes
    FROM attr GROUP BY retainer_type, grown_type
    ORDER BY grown_bytes DESC, retainer_type, grown_type
    """


@query("growth_by_retainer", oracle=_growth_oracle())
def growth_by_retainer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-snapshot leak ATTRIBUTION — the MAT compare-dumps
    workflow neither the reference nor the waste checks covered:
    between two heap snapshots of the same process, every NEW object
    (present in `after` only, `ingest/snapshots.object_diff`
    semantics) is attributed to the type of its sole retainer in the
    after snapshot (exactly-one in-edge, the `single_retainer_bytes`
    attribution rule; multi-referenced news bucket to '(shared)',
    root-only/unreferenced to '(unreferenced)'), and growth rolls up
    to (retainer type, grown type, count, bytes) — "which holder
    grew" rather than `type_histogram_delta`'s "which class grew".
    The fixture's answer: one new rooted Child holds one new
    Object[6] which holds the 6 new Strings.

    Scale shape: snapshot partition pruning bounds every scan to the
    two snapshots (Hive `snapshot=` directories, zero I/O for the
    rest of the history); the diff is ONE groupBy on obj_id (grouped
    presence flags, not two anti-joins); in-degree is one groupBy
    over the after snapshot's fixed-width edge list; sizes and types
    come from metadata-bounded joins. Nothing driver-side beyond the
    class registry."""
    from ..analytics.dominators import shallow_sizes
    from ..analytics.reachability import retainers
    from ..ingest.snapshots import SnapshotView, object_diff

    wh = _snapshot_warehouse(spark)
    after = SnapshotView(spark, wh.root, 2)
    new_objs = (
        object_diff(wh, before=1, after=2)
        .filter(F.col("status") == "new")
        .select("obj_id", F.col("type_name").alias("grown_type"))
    )
    indeg = retainers(after)
    oi = after.table("_object_index").select(
        F.col("obj_id").alias("r_obj"), F.col("type_name").alias("r_type")
    )
    sizes = shallow_sizes(after)
    attr = (
        new_objs.join(indeg, new_objs.obj_id == indeg.dst, "left")
        .join(oi, (F.col("n") == 1) & (F.col("retainer") == F.col("r_obj")), "left")
        .join(sizes, "obj_id")
        .select(
            F.when(F.col("n").isNull(), F.lit("(unreferenced)"))
            .when(F.col("n") > 1, F.lit("(shared)"))
            # '(unknown)' bucket when the sole retainer is missing
            # from _object_index: a bare NULL here would sort first
            # in Spark but last in DuckDB on ORDER BY ties.
            .otherwise(F.coalesce(F.col("r_type"), F.lit("(unknown)")))
            .alias("retainer_type"),
            "grown_type",
            "shallow_bytes",
        )
    )
    return (
        attr.groupBy("retainer_type", "grown_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_new"),
            F.sum("shallow_bytes").cast("long").alias("grown_bytes"),
        )
        .orderBy(F.desc("grown_bytes"), "retainer_type", "grown_type")
    )


def _root_path_oracle() -> str:
    """Oracle for gc_root_path: DuckDB enumerates every root-to-object
    path with a recursive CTE (depth-bounded cycle guard) and picks,
    per object, the (depth, path)-minimal one; Spark's BFS keeps one
    min path per node per layer. With fixed-width id segments,
    per-layer greedy prefix minimality equals the global
    (depth, path) minimum, so the two constructions agree exactly."""
    _, truth = hprof_fixture()
    edges = ", ".join(f"({s}, {d})" for s, d in truth["edges"])
    roots = ", ".join(f"({r})" for r in truth["roots"] if r != 0)
    objs = ", ".join(f"({o}, '{t}')" for o, t, _sz in truth["objects"])
    return f"""
    WITH RECURSIVE
    edges(src, dst) AS (SELECT DISTINCT * FROM (VALUES {edges}) e(src, dst)),
    roots(obj_id) AS (SELECT DISTINCT r FROM (VALUES {roots}) r(r)),
    objects(obj_id, type_name) AS (SELECT * FROM (VALUES {objs}) o(i, t)),
    walk(node, depth, path) AS (
        SELECT obj_id, 0, lpad(CAST(obj_id AS VARCHAR), 8, '0') FROM roots
        UNION
        SELECT e.dst, w.depth + 1,
               w.path || '->' || lpad(CAST(e.dst AS VARCHAR), 8, '0')
        FROM walk w JOIN edges e ON e.src = w.node
        WHERE w.depth < 16
    ),
    best AS (
        SELECT node, depth, path,
               row_number() OVER (
                   PARTITION BY node ORDER BY depth, path) AS rn
        FROM walk
    )
    SELECT CAST(o.obj_id AS BIGINT) AS obj_id, o.type_name,
           CAST(b.depth AS INT) AS depth, b.path
    FROM best b JOIN objects o ON o.obj_id = b.node
    WHERE b.rn = 1
    ORDER BY o.obj_id
    """


@query("gc_root_path", oracle=_root_path_oracle())
def gc_root_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Why-is-this-alive: for every reachable object, the shortest
    reference path from a GC root (ties broken by the lexicographically
    smallest fixed-width path), as `root->...->object`. This is the
    path-to-GC-roots view every heap analyzer leads with; the
    reference's relational surface can only walk a fixed number of
    hops by writing one JOIN per hop
    (/root/reference/mcp_server/server.py:179-184), so arbitrary-depth
    paths are outside its expressible queries.

    BFS with path tracking: the frontier carries (node, path); each
    round extends paths over the edge list, keeps one min path per
    newly-discovered node, and anti-joins the visited set — per-round
    state is one fixed-width string per node, rounds = reference-chain
    depth. Ids are zero-padded so lexicographic order equals numeric
    order, which makes the per-layer greedy choice equal the global
    (depth, path) minimum the oracle computes by full enumeration."""
    from ..analytics.reachability import heap_edges, root_ids, walk_frontier

    wh = _fixture_warehouse(spark)
    edges = heap_edges(wh)
    pad = lambda c: F.lpad(c.cast("string"), 8, "0")  # noqa: E731

    def step(fr: DataFrame) -> DataFrame:
        return (
            edges.join(fr, edges.src == fr.obj_id)
            .select(
                F.col("dst").alias("obj_id"),
                (F.col("depth") + 1).alias("depth"),
                F.concat(F.col("path"), F.lit("->"), pad(F.col("dst"))).alias("path"),
            )
            .groupBy("obj_id", "depth")
            .agg(F.min("path").alias("path"))
        )

    seed = root_ids(wh).select(
        "obj_id", F.lit(0).alias("depth"), pad(F.col("obj_id")).alias("path")
    )
    visited = walk_frontier(seed, step, "gc_root_path")
    oi = wh.table("_object_index")
    return (
        visited.join(oi, "obj_id")
        .select("obj_id", "type_name", F.col("depth").cast("int").alias("depth"), "path")
        .orderBy("obj_id")
    )


_GRAPH_FIXTURE: tuple[str, dict] | None = None


def graph_fixture() -> tuple[str, dict]:
    """(path, ground-truth) for the dominator-analysis graph dump
    (ingest/hprof_writer.build_graph_dump) — diamond, multi-root
    confluence, chain, cycle, shared payload, garbage. Cached at a
    fixed scratch path like hprof_fixture."""
    global _GRAPH_FIXTURE
    if _GRAPH_FIXTURE is None:
        import tempfile

        from ..ingest.hprof_writer import build_graph_dump

        d = os.path.join(tempfile.gettempdir(), "hds_graph_fixture")
        os.makedirs(d, exist_ok=True)
        path = os.path.join(d, "g.hprof")
        tmp = os.path.join(d, f"g.hprof.tmp.{os.getpid()}")
        truth = build_graph_dump(tmp)
        os.replace(tmp, path)
        _GRAPH_FIXTURE = (path, truth)
    return _GRAPH_FIXTURE


_GRAPH_WH: tuple[int, object] | None = None


def _graph_warehouse(spark: SparkSession):
    from ..catalog import Warehouse
    from ..ingest import ingest_hprof

    # Memoized per session: Warehouse.table() caches the lazy
    # DataFrame handles (parquet footer/schema reads), and a fresh
    # Warehouse per query call would re-pay that driver-side listing
    # on every invocation — a long-running service holds one handle.
    global _GRAPH_WH
    if _GRAPH_WH is not None and _GRAPH_WH[0] == id(spark):
        return _GRAPH_WH[1]
    path, _ = graph_fixture()
    wh_dir = os.path.join(os.path.dirname(path), "wh")
    if not os.path.exists(os.path.join(wh_dir, "_SUCCESS")):
        ingest_hprof(spark, path, wh_dir, overwrite=True)
    wh = Warehouse(spark, wh_dir)
    _GRAPH_WH = (id(spark), wh)
    return wh


def _dominator_oracle() -> str:
    """Oracle for dominator_retained: DuckDB derives dominator sets
    from FIRST PRINCIPLES — enumerate every simple root-to-node path
    with a recursive CTE, then d dominates n iff d appears on ALL of
    n's paths (the definition; simple paths suffice because any walk
    contains a simple subpath over a subset of its nodes). Spark
    instead runs the BFS-seeded greatest-fixpoint dataflow over the
    INGESTED warehouse, so construction, engine, and input all differ."""
    _, truth = graph_fixture()
    edges = ", ".join(f"({s}, {d})" for s, d in truth["edges"])
    roots = ", ".join(f"({r})" for r in sorted(set(truth["roots"])))
    objs = ", ".join(f"({o}, '{t}', {sz})" for o, t, sz in truth["objects"])
    return f"""
    WITH RECURSIVE
    edges(src, dst) AS (
        SELECT DISTINCT * FROM (VALUES {edges}) e(s, d) WHERE s <> d),
    roots(obj_id) AS (SELECT DISTINCT r FROM (VALUES {roots}) r(r)),
    objects(obj_id, type_name, shallow_bytes) AS (
        SELECT * FROM (VALUES {objs}) o(i, t, b)),
    alledges(src, dst) AS (
        SELECT src, dst FROM edges UNION SELECT 0, obj_id FROM roots),
    walk(node, path) AS (
        SELECT CAST(0 AS BIGINT), [CAST(0 AS BIGINT)]
        UNION ALL
        SELECT e.dst, list_append(w.path, CAST(e.dst AS BIGINT))
        FROM walk w JOIN alledges e ON e.src = w.node
        WHERE NOT list_contains(w.path, e.dst)
    ),
    npaths AS (SELECT node, count(*) AS np FROM walk GROUP BY node),
    members AS (SELECT node, unnest(path) AS d FROM walk),
    domsets AS (
        SELECT m.node, m.d
        FROM members m JOIN npaths p USING (node)
        GROUP BY m.node, m.d, p.np
        HAVING count(*) = p.np
    ),
    depths AS (SELECT node, count(*) AS depth FROM domsets GROUP BY node),
    idom AS (
        SELECT s.node AS obj_id, arg_max(s.d, dd.depth) AS idom
        FROM domsets s JOIN depths dd ON dd.node = s.d
        WHERE s.d <> s.node AND s.node <> 0
        GROUP BY s.node
    ),
    retained AS (
        SELECT s.d AS obj_id,
               CAST(count(*) AS BIGINT) AS n_dominated,
               CAST(sum(o.shallow_bytes) AS BIGINT) AS retained_bytes
        FROM domsets s JOIN objects o ON o.obj_id = s.node
        WHERE s.d <> 0
        GROUP BY s.d
    )
    SELECT r.obj_id, o.type_name, i.idom, r.n_dominated, r.retained_bytes
    FROM retained r JOIN objects o USING (obj_id) JOIN idom i USING (obj_id)
    ORDER BY retained_bytes DESC, obj_id
    """


@query("dominator_retained", oracle=_dominator_oracle())
def dominator_retained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAT-style retained heap per object over the INGESTED graph
    dump: dominator sets via BFS-seeded greatest-fixpoint dataflow
    (analytics/dominators.py), then retained_bytes = Σ shallow over
    each object's dominated set and idom = its deepest strict
    dominator. This is the "how many bytes die with this object"
    metric neither the reference's class histograms
    (analyze_heap_parquet.py) nor fixed-hop joins (server.py:179-184)
    can express — it needs an arbitrary-depth all-paths property.

    Scale shape: state is the (node, dominator) pair set, bounded by
    Σ depth(n) — the same budget as storing one root path per node;
    per-round work is one join + one count aggregation on fixed-width
    longs, rounds are fixpoint-bounded with a non-convergence guard,
    and the driver only ever sees a scalar pair count per round.
    Graphs under the broadcast-small edge threshold take the
    in-process CHK fast path instead (analytics/dominators.py:
    DRIVER_FALLBACK_EDGES) — per-round scheduling latency would
    otherwise dominate by orders of magnitude."""
    from ..analytics.dominators import retained_sizes

    wh = _graph_warehouse(spark)
    return retained_sizes(wh)


@query(
    "star_join_supplier_volume",
    oracle=f"""
    SELECT n_name,
           {round_sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
           count(*) AS n_lines
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def star_join_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped six-table star join (local supplier volume):
    revenue by nation where customer and supplier share the nation,
    restricted to one region and a two-year order window. The
    join-ORDERING showcase: a naive left-to-right execution would
    shuffle lineitem twice and join region last; the correct plan
    prunes region→nation→supplier first (three broadcasts), shuffles
    the two fact tables once each on their join key, and pushes both
    the date range and (via the nation broadcast) the region
    restriction below the joins. The query is written in the
    declarative order a user would write it — Catalyst's join
    reordering + AQE produce the efficient order; the plan test pins
    the broadcast count and the pushed date filter.

    Cites the reference's single-table scope: its SQL surface has no
    multi-way join planner to compare against (mcp_server/server.py
    passthrough executes whatever single-statement SQL DuckDB gets);
    this query demonstrates the capability its users gain."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            round_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
        .orderBy(F.desc("revenue"), "n_name")
    )


@query(
    "fuzzy_join_levenshtein",
    oracle="""
    WITH names AS (SELECT DISTINCT p_name FROM part),
    keyed AS (
        SELECT p_name, string_split(p_name, ' ')[-1] AS blk FROM names
    )
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
    FROM keyed a JOIN keyed b
      ON a.blk = b.blk AND a.p_name < b.p_name
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    ORDER BY dist, name_a, name_b
    LIMIT 50
    """,
)
def fuzzy_join_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked fuzzy self-join: name pairs within edit distance 2,
    joined only INSIDE blocks keyed by the name's last token — the
    entity-resolution workhorse (match near-identical product/vendor
    names without an O(n²) cross join). Both engines implement the
    same Levenshtein definition, so distances are integer-exact.

    Scale shape: candidate space first collapses to DISTINCT names
    (the classic dedup-before-match reduction), then ONE equi-join on
    the block key with the edit-distance predicate as a residual
    filter — per-block quadratic, globally linear in the number of
    blocks; a skewed block would show up in `join_key_skew_profile`
    on the block key, and the fix (longer block keys: last token +
    length band) changes only the key expression."""
    p = _t(spark, sf_dir, "part")
    names = p.select("p_name").distinct()
    keyed = names.select(
        "p_name", F.element_at(F.split("p_name", " "), -1).alias("blk")
    )
    a = keyed.alias("a")
    b = keyed.alias("b")
    dist = F.levenshtein(F.col("a.p_name"), F.col("b.p_name"))
    return (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.p_name") < F.col("b.p_name")),
        )
        .filter(dist <= 2)
        .select(
            F.col("a.p_name").alias("name_a"),
            F.col("b.p_name").alias("name_b"),
            dist.cast("long").alias("dist"),
        )
        .orderBy("dist", "name_a", "name_b")
        .limit(50)
    )


@query(
    "price_trend_regression",
    oracle=f"""
    WITH pts AS (
        SELECT o_orderpriority,
               CAST(datediff('day', DATE '1996-01-01', o_orderdate) AS DOUBLE) AS x,
               o_totalprice AS y
        FROM orders
    )
    SELECT o_orderpriority,
           count(*) AS n,
           {round_sql("corr(y, x)", 5)} AS price_date_corr,
           {round_sql("covar_samp(y, x) / var_samp(x)", 5)} AS slope_per_day,
           {round_sql("avg(y) - covar_samp(y, x) / var_samp(x) * avg(x)", 2)} AS intercept,
           {round_sql("stddev_samp(y)", 2)} AS price_stddev
    FROM pts GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def price_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares trend via the statistical aggregates:
    corr / covar_samp / var_samp / stddev_samp — is order value
    drifting over time, per priority class? slope = cov(y,x)/var(x),
    intercept = E[y] - slope*E[x]; x is centered on a fixed mid-range
    date so the moment sums stay small-magnitude (catastrophic
    cancellation in cov/var is what breaks cross-engine float parity
    on epoch-scale x values).

    Both engines use single-pass co-moment accumulation for these
    aggregates, so one scan + one shuffle yields the full regression —
    the drift-monitoring shape (price/quality/score vs time per
    segment) that at 100 TB replaces any collect-and-fit: the fit IS
    the aggregation."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.select(
        "o_orderpriority",
        F.datediff("o_orderdate", F.lit("1996-01-01")).cast("double").alias("x"),
        F.col("o_totalprice").alias("y"),
    )
    slope = F.covar_samp("y", "x") / F.var_samp("x")
    return (
        pts.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            round_col(F.corr("y", "x"), 5).alias("price_date_corr"),
            round_col(slope, 5).alias("slope_per_day"),
            round_col(F.avg("y") - slope * F.avg("x"), 2).alias("intercept"),
            round_col(F.stddev_samp("y"), 2).alias("price_stddev"),
        )
        .orderBy("o_orderpriority")
    )


@query(
    "shipping_priority_topk",
    oracle=f"""
    SELECT l_orderkey,
           {round_sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-shaped shipping-priority query: the 10 highest-revenue
    unshipped orders for one market segment as of a cutoff date. The
    canonical selective-dimension → fact → fact chain: the segment
    filter keeps ~20% of customers, both date predicates push into the
    parquet scans (plan-pinned), and the final top-10 is TakeOrdered
    on the ROUNDED revenue (per-partition heap + driver merge, no
    global sort; ties broken by orderdate then orderkey so both
    engines pick identical rows).

    The customer side carries NO broadcast hint on purpose: 20% of
    customers is dimension-sized at test scale (AQE broadcasts it)
    but NOT at 100 TB, where forcing the hint would OOM the
    executors — size-dependent strategy is exactly what AQE's runtime
    statistics are for.

    At 100 TB: lineitem shuffles once on l_orderkey; orders arrives
    already filtered. The reference's single-statement DuckDB
    passthrough (mcp_server/server.py:343) runs this shape
    single-node; here Catalyst distributes it."""
    c = _t(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp_ntz")
    )
    li = _t(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp_ntz")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            round_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@query(
    "returned_item_revenue",
    oracle=f"""
    SELECT c_custkey, c_name,
           {round_sql("sum(l_extendedprice * (1 - l_discount))")} AS revenue,
           {round_sql("any_value(c_acctbal)")} AS c_acctbal,
           any_value(n_name) AS n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
      AND o_orderdate <  TIMESTAMP '1999-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_item_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10-shaped returned-item report: the 20 customers who
    returned the most revenue in one quarter. Group keys are kept
    MINIMAL (custkey, name) with the functionally-dependent columns
    (acctbal, nation) carried through `any_value` — narrower shuffle
    rows than grouping on all five columns, same semantics since they
    are constant per customer.

    Scale shape: the returnflag + quarter predicates push to the
    scans, nation broadcasts, lineitem→orders join shuffles each fact
    once on the order key, then ONE partial-aggregated exchange on
    custkey and a TakeOrdered(20) on the rounded revenue (ties broken
    by custkey — both engines pick identical rows)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = _t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp_ntz"))
        & (F.col("o_orderdate") < F.lit("1999-04-01").cast("timestamp_ntz"))
    )
    li = _t(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            round_col(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount")))
            ).alias("revenue"),
            round_col(F.any_value("c_acctbal")).alias("c_acctbal"),
            F.any_value("n_name").alias("n_name"),
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "dormant_rich_customers",
    oracle=f"""
    WITH thresh AS (
        SELECT {round_sql("avg(c_acctbal)", 4)} AS cutoff
        FROM customer WHERE c_acctbal > 0.0
    )
    SELECT n_name,
           count(*) AS n_cust,
           {round_sql("sum(c_acctbal)")} AS total_bal
    FROM customer
    JOIN nation ON c_nationkey = n_nationkey, thresh
    WHERE c_acctbal > cutoff
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY n_name
    ORDER BY n_name
    """,
)
def dormant_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22-shaped dormant-account analysis: customers with an
    above-average balance and no order in the trailing window (the
    churn-risk cut), rolled up by nation. Three planner shapes in one query: a GLOBAL scalar
    aggregate (the average balance, rounded 4dp on both engines so the
    comparison threshold is bit-identical) re-entering the pipeline as
    a 1-row broadcast crossJoin; a LEFT ANTI join against the orders
    key set (Spark builds the hash set once, never materializes the
    non-matches); and the final small rollup.

    At 100 TB the threshold is one Exchange-free scalar scan, the anti
    join shuffles customer once on custkey (or bloom-prunes first —
    the runtime filter the planner injects for selective anti joins),
    and orders contributes only its join key column (pruned scan)."""
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    o = (
        _t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp_ntz"))
        .select("o_custkey")
    )
    thresh = c.filter(F.col("c_acctbal") > 0.0).agg(
        round_col(F.avg("c_acctbal"), 4).alias("cutoff")
    )
    return (
        c.crossJoin(F.broadcast(thresh))
        .filter(F.col("c_acctbal") > F.col("cutoff"))
        .join(o, c.c_custkey == o.o_custkey, "left_anti")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            round_col(F.sum("c_acctbal")).alias("total_bal"),
        )
        .orderBy("n_name")
    )


@query(
    "copurchase_triangle_count",
    oracle="""
    WITH pairs AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l1.l_shipdate <  TIMESTAMP '1998-01-01'
          AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l2.l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    deg AS (
        SELECT v, count(*) AS d FROM (
            SELECT a AS v FROM pairs UNION ALL SELECT b AS v FROM pairs
        ) GROUP BY v
    ),
    e AS (
        SELECT CASE WHEN da.d * 1000000000 + a < db.d * 1000000000 + b
                    THEN da.d * 1000000000 + a
                    ELSE db.d * 1000000000 + b END AS src,
               CASE WHEN da.d * 1000000000 + a < db.d * 1000000000 + b
                    THEN db.d * 1000000000 + b
                    ELSE da.d * 1000000000 + a END AS dst
        FROM pairs JOIN deg da ON a = da.v JOIN deg db ON b = db.v
    )
    SELECT (SELECT count(*) FROM deg) AS n_vertices,
           (SELECT count(*) FROM pairs) AS n_edges,
           (SELECT count(*) FROM e e1
            JOIN e e2 ON e1.src = e2.src AND e1.dst < e2.dst
            JOIN e e3 ON e3.src = e1.dst AND e3.dst = e2.dst) AS n_triangles
    """,
)
def copurchase_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the part co-purchase graph (parts appearing
    in the same order within one ship year) — the graph-motif census
    behind community/cohesion metrics on item graphs.

    The naive wedge join is quadratic in vertex degree (sum of deg²
    wedge candidates — the 'curse of the last reducer'); this uses the
    standard distributed fix: ORIENT every edge from its lower-
    (degree, id) endpoint to its higher one, which (a) counts each
    triangle exactly once from its lowest-order apex and (b) bounds
    out-degree by O(sqrt(E)), so the wedge set stays near-linear even
    with power-law degrees — the skew-proof shape at 100 TB. The
    (degree, id) total order is encoded as deg*1e9+id in one BIGINT so
    both engines compare identically.

    Plan: pairs = one self-join co-partitioned on l_orderkey (one
    exchange, reused for both sides) + DISTINCT; degrees = one
    groupBy; the oriented edge list is localCheckpoint'ed ONCE and
    feeds all three legs of the triangle join — without it the whole
    pairs pipeline would re-execute per leg."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    deg = (
        pairs.select(F.col("a").alias("v"))
        .unionAll(pairs.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da, db = deg.alias("da"), deg.alias("db")
    oa = F.col("da.d") * F.lit(1000000000) + F.col("a")
    ob = F.col("db.d") * F.lit(1000000000) + F.col("b")
    e = (
        pairs.join(da, F.col("a") == F.col("da.v"))
        .join(db, F.col("b") == F.col("db.v"))
        .select(
            F.when(oa < ob, oa).otherwise(ob).alias("src"),
            F.when(oa < ob, ob).otherwise(oa).alias("dst"),
        )
        .localCheckpoint()
    )
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    tri = (
        e1.join(
            e2,
            (F.col("e1.src") == F.col("e2.src"))
            & (F.col("e1.dst") < F.col("e2.dst")),
        )
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nv = deg.agg(F.count(F.lit(1)).alias("n_vertices"))
    ne = pairs.agg(F.count(F.lit(1)).alias("n_edges"))
    return nv.crossJoin(F.broadcast(ne)).crossJoin(F.broadcast(tri))


@query(
    "relational_division",
    oracle=f"""
    WITH k AS (SELECT count(DISTINCT o_orderpriority) AS k FROM orders),
    per AS (
        SELECT o_custkey,
               count(DISTINCT o_orderpriority) AS np,
               count(*) AS n_orders,
               {round_sql("sum(o_totalprice)")} AS spend
        FROM orders GROUP BY o_custkey
    )
    SELECT o_custkey, n_orders, spend
    FROM per, k WHERE np = k.k
    ORDER BY o_custkey
    """,
)
def relational_division(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational division ("for all"): customers whose orders span
    EVERY priority class present in the data — the universal
    quantifier query (suppliers covering all regions, users hitting
    all feature flags) that naive SQL writes as nested NOT EXISTS
    pairs. The set-cover count identity does it in ONE aggregation:
    count distinct per group == global distinct count.

    The divisor cardinality is computed from the data (1-row broadcast
    crossJoin), never hardcoded, so the query stays correct when the
    domain grows. One shuffle on the group key; the global distinct is
    a 5-row scalar scan. No join against the divisor SET is needed at
    all — the count identity replaces it."""
    o = _t(spark, sf_dir, "orders")
    k = o.agg(F.countDistinct("o_orderpriority").alias("k"))
    per = o.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("np"),
        F.count(F.lit(1)).alias("n_orders"),
        round_col(F.sum("o_totalprice")).alias("spend"),
    )
    return (
        per.crossJoin(F.broadcast(k))
        .filter(F.col("np") == F.col("k"))
        .select("o_custkey", "n_orders", "spend")
        .orderBy("o_custkey")
    )


@query(
    "rfm_segmentation",
    oracle=f"""
    WITH per_cust AS (
        SELECT o_custkey,
               date_diff('day', CAST(max(o_orderdate) AS DATE),
                         DATE '2001-09-01') AS recency_days,
               count(*) AS frequency,
               sum(o_totalprice) AS monetary
        FROM orders GROUP BY o_custkey
    ),
    cuts AS (
        SELECT quantile_cont(recency_days, [0.2, 0.4, 0.6, 0.8]) AS rc,
               quantile_cont(frequency, [0.2, 0.4, 0.6, 0.8]) AS fc,
               quantile_cont(monetary, [0.2, 0.4, 0.6, 0.8]) AS mc
        FROM per_cust
    ),
    scored AS (
        SELECT 5 - len(list_filter(c.rc, x -> x < p.recency_days)) AS r,
               1 + len(list_filter(c.fc, x -> x < p.frequency)) AS f,
               1 + len(list_filter(c.mc, x -> x < p.monetary)) AS m
        FROM per_cust p, cuts c
    )
    SELECT CASE WHEN r >= 4 AND f >= 4 AND m >= 4 THEN 'champion'
                WHEN r >= 3 AND f >= 3 THEN 'loyal'
                WHEN r >= 4 THEN 'recent'
                WHEN f >= 4 OR m >= 4 THEN 'at_risk_valuable'
                ELSE 'hibernating' END AS segment,
           count(*) AS n_customers,
           {round_sql("avg(r)", 4)} AS avg_r,
           {round_sql("avg(f)", 4)} AS avg_f,
           {round_sql("avg(m)", 4)} AS avg_m
    FROM scored GROUP BY 1 ORDER BY segment
    """,
)
def rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — recency / frequency / monetary
    quintile scores rolled into named behavioral segments (champion,
    loyal, recent, at-risk-valuable, hibernating): the lifecycle
    classification behind retention and win-back campaigns.

    All three quintile scorings use the broadcast-cut-points pattern
    (ONE percentile aggregate over the per-customer rollup, probe via
    comparison count) — never a global NTILE sort; recency scores
    INVERTED (recent = high). The per-customer rollup is the only
    fact-scale shuffle; everything after is k-bounded. The anchor
    date is fixed (max order date + 1 month) so results are
    reproducible, not wall-clock-dependent."""
    o = _t(spark, sf_dir, "orders")
    per_cust = o.groupBy("o_custkey").agg(
        F.datediff(
            F.lit("2001-09-01").cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("recency_days"),
        F.count(F.lit(1)).alias("frequency"),
        F.sum("o_totalprice").alias("monetary"),
    )
    qs = F.array(*[F.lit(q) for q in (0.2, 0.4, 0.6, 0.8)])
    cuts = per_cust.agg(
        F.percentile("recency_days", qs).alias("rc"),
        F.percentile("frequency", qs).alias("fc"),
        F.percentile("monetary", qs).alias("mc"),
    )

    def probe(arr: str, col: str):
        return F.size(F.filter(F.col(arr), lambda x: x < F.col(col)))

    scored = per_cust.crossJoin(F.broadcast(cuts)).select(
        (F.lit(5) - probe("rc", "recency_days")).alias("r"),
        (F.lit(1) + probe("fc", "frequency")).alias("f"),
        (F.lit(1) + probe("mc", "monetary")).alias("m"),
    )
    segment = (
        F.when((F.col("r") >= 4) & (F.col("f") >= 4) & (F.col("m") >= 4), "champion")
        .when((F.col("r") >= 3) & (F.col("f") >= 3), "loyal")
        .when(F.col("r") >= 4, "recent")
        .when((F.col("f") >= 4) | (F.col("m") >= 4), "at_risk_valuable")
        .otherwise("hibernating")
    )
    return (
        scored.groupBy(segment.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            round_col(F.avg("r"), 4).alias("avg_r"),
            round_col(F.avg("f"), 4).alias("avg_f"),
            round_col(F.avg("m"), 4).alias("avg_m"),
        )
        .orderBy("segment")
    )


@query(
    "late_supplier_blame",
    oracle=f"""
    WITH flagged AS (
        SELECT l.l_orderkey, l.l_suppkey,
               CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                    THEN 1 ELSE 0 END AS late
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE o.o_orderstatus = 'F'
    ),
    per AS (
        SELECT l_orderkey, l_suppkey, max(late) AS late
        FROM flagged GROUP BY l_orderkey, l_suppkey
    )
    SELECT p.l_suppkey AS suppkey, count(*) AS n_blamed_orders
    FROM per p
    WHERE p.late = 1
      AND EXISTS (SELECT 1 FROM per q
                  WHERE q.l_orderkey = p.l_orderkey
                    AND q.l_suppkey <> p.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM per r
                      WHERE r.l_orderkey = p.l_orderkey
                        AND r.l_suppkey <> p.l_suppkey
                        AND r.late = 1)
    GROUP BY p.l_suppkey
    ORDER BY n_blamed_orders DESC, suppkey
    LIMIT 20
    """,
)
def late_supplier_blame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21-shaped "who to blame": suppliers who were the SOLE
    late shipper on finished multi-supplier orders — one EXISTS (other
    suppliers participated) and one NOT EXISTS (none of them was also
    late) correlated on the same relation, the classic
    semi-join + anti-join planning pair.

    Spark spelling: collapse lineitem to one row per (order, supplier,
    late-flag) first — ONE aggregation that makes both subqueries
    joins against a REDUCED relation — then a semi join for
    co-suppliers and an anti join for other-late-suppliers, both on
    l_orderkey with a non-equal-supplier residual. The reduced
    relation is reused three times from one localCheckpoint, so the
    fact table is scanned once.

    The 60-day lateness predicate stands in for the reference
    schema's receipt/commit dates (not present in this data model)."""
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    o = _t(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    per = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_suppkey",
            F.when(
                F.col("l_shipdate") > F.date_add(F.col("o_orderdate"), 60), 1
            )
            .otherwise(0)
            .alias("late"),
        )
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("late").alias("late"))
        .localCheckpoint()
    )
    mine = per.filter(F.col("late") == 1)
    others = per.select(
        F.col("l_orderkey").alias("ok"),
        F.col("l_suppkey").alias("sk"),
        F.col("late").alias("lt"),
    )
    co_exists = (
        F.col("l_orderkey") == F.col("ok")
    ) & (F.col("l_suppkey") != F.col("sk"))
    blamed = (
        mine.join(others, co_exists, "left_semi")
        .join(
            others.filter(F.col("lt") == 1),
            co_exists,
            "left_anti",
        )
    )
    return (
        blamed.groupBy(F.col("l_suppkey").alias("suppkey"))
        .agg(F.count(F.lit(1)).alias("n_blamed_orders"))
        .orderBy(F.desc("n_blamed_orders"), "suppkey")
        .limit(20)
    )


@query(
    "large_volume_orders",
    oracle=f"""
    WITH big AS (
        SELECT l_orderkey, sum(l_quantity) AS total_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING sum(l_quantity) > 120
    )
    SELECT c.c_name, o.o_orderkey, o.o_orderdate,
           {round_sql("o.o_totalprice")} AS totalprice,
           {round_sql("b.total_qty", 4)} AS total_qty
    FROM big b
    JOIN orders o ON b.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    ORDER BY totalprice DESC, o.o_orderkey
    LIMIT 25
    """,
)
def large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18-shaped large-volume-order report: orders whose total
    line quantity clears a threshold, joined BACK to orders+customer
    for the details — the aggregate-then-rejoin pattern (HAVING on a
    fact rollup used as a semi-filter for detail retrieval).

    Scale shape: the quantity rollup is the only fact-sized shuffle
    and emits just (orderkey, qty) survivors; the join back runs
    survivor-side (AQE broadcasts it when the threshold is
    selective — runtime stats, not a hint, since selectivity depends
    on the cutoff), and customer attaches last. TakeOrdered(25) on the
    rounded price, orderkey tiebreak."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .filter(F.col("total_qty") > 120)
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            round_col(F.col("o_totalprice")).alias("totalprice"),
            round_col(F.col("total_qty"), 4).alias("total_qty"),
        )
        .orderBy(F.desc("totalprice"), "o_orderkey")
        .limit(25)
    )


@query(
    "gini_revenue_concentration",
    oracle=f"""
    WITH per_cust AS (
        SELECT c.c_mktsegment AS segment, o.o_custkey,
               sum(o.o_totalprice) AS spend
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        GROUP BY c.c_mktsegment, o.o_custkey
    ),
    ranked AS (
        SELECT segment, spend,
               row_number() OVER (PARTITION BY segment
                                  ORDER BY spend, o_custkey) AS i,
               count(*) OVER (PARTITION BY segment) AS n
        FROM per_cust
    )
    SELECT segment,
           CAST(any_value(n) AS BIGINT) AS n_customers,
           {round_sql("sum(spend)")} AS total_spend,
           {round_sql(
               "2.0 * sum(i * spend) / (any_value(n) * sum(spend))"
               " - (any_value(n) + 1.0) / any_value(n)", 6)} AS gini
    FROM ranked GROUP BY segment ORDER BY segment
    """,
)
def gini_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of revenue concentration per market segment —
    the inequality metric behind "how dependent are we on our top
    customers" (0 = everyone spends alike, →1 = one whale): the
    business-risk lens on the same skew that `join_key_skew_profile`
    measures for shuffles. Computed by the rank identity
    G = 2·Σi·xᵢ/(n·Σx) − (n+1)/n over spend ranked ascending.

    The rank window partitions by segment — the exact formula's
    inherent per-group ordered scan (ties broken by custkey so both
    engines rank identically). At 100-TB customer counts the same
    number falls out of the Lorenz curve sampled at percentile grid
    points (the `decile_binning_broadcast_cuts` pattern, no rank
    window); the exact form is kept here because the oracle
    hash-matches it."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    per_cust = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"), "o_custkey")
        .agg(F.sum("o_totalprice").alias("spend"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("segment").orderBy("spend", "o_custkey")
    wn = Window.partitionBy("segment")
    ranked = per_cust.select(
        "segment",
        "spend",
        F.row_number().over(w).alias("i"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    gini = (
        F.lit(2.0)
        * F.sum(F.col("i") * F.col("spend"))
        / (F.any_value("n") * F.sum("spend"))
        - (F.any_value("n") + F.lit(1.0)) / F.any_value("n")
    )
    return (
        ranked.groupBy("segment")
        .agg(
            F.any_value("n").cast("long").alias("n_customers"),
            round_col(F.sum("spend")).alias("total_spend"),
            round_col(gini, 6).alias("gini"),
        )
        .orderBy("segment")
    )


@query(
    "prefilter_pruned_semi_join",
    oracle=f"""
    WITH dim AS (
        SELECT c_custkey FROM customer
        WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 5000
    )
    SELECT CAST(year(o_orderdate) AS INT) AS order_year,
           count(*) AS n_orders,
           {round_sql("sum(o_totalprice)")} AS revenue
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM dim)
    GROUP BY 1 ORDER BY 1
    """,
)
def prefilter_pruned_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The prune-then-verify runtime-filter pattern made explicit —
    what Spark's runtime bloom-filter rewrite (and dynamic partition
    pruning) does for shuffle joins, expressed as an operator: the
    filtered dimension reduces to a compact membership set (distinct
    16-bit buckets of xxhash64 over the join key — a bloom stand-in
    HARD-BOUNDED at 65536 ints regardless of dimension size), the set
    is collected as driver-side index metadata and pushed into the
    fact scan stage as an InSet literal predicate, and an exact semi
    join scrubs the bucket collisions. Correctness is
    hash-function-independent: the probe keeps a superset (no false
    negatives by construction) and the verify join removes exactly
    the false positives, so the oracle is the plain semi join. At
    100 TB the payoff is shuffle volume — rows that can't match are
    dropped inside the scan stage and never enter an exchange. The
    collect is k-bounded (≤65536 ints ≈ 0.5 MB, the same metadata
    class as a broadcast-join build side or IVF centroid table); an
    expression-level two-phase plan was measured to let Catalyst
    reorder the probe ABOVE the verify join, which defeats the
    pattern — the literal predicate pins probe-before-join by
    construction."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    dim = c.filter(
        (F.col("c_mktsegment") == "BUILDING") & (F.col("c_acctbal") > 5000)
    ).select("c_custkey")
    buckets = sorted(
        r[0]
        for r in dim.select(
            F.pmod(F.xxhash64("c_custkey"), F.lit(65536)).alias("b")
        )
        .distinct()
        .collect()
    )
    pruned = o.filter(
        F.pmod(F.xxhash64("o_custkey"), F.lit(65536)).isin(buckets)
    )
    return (
        pruned.join(
            F.broadcast(dim), pruned.o_custkey == dim.c_custkey, "left_semi"
        )
        .groupBy(F.year("o_orderdate").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            round_col(F.sum("o_totalprice"), 2).alias("revenue"),
        )
        .orderBy("order_year")
    )


@query(
    "association_rules_lift",
    oracle="""
    WITH basket AS (
        SELECT DISTINCT l_orderkey AS okey, l_partkey AS item
        FROM lineitem
    ),
    n AS (SELECT CAST(count(DISTINCT okey) AS DOUBLE) AS n_orders FROM basket),
    item_cnt AS (
        SELECT item, count(*) AS c FROM basket GROUP BY item
    ),
    pairs AS (
        SELECT a.item AS item_a, b.item AS item_b, count(*) AS co
        FROM basket a JOIN basket b
          ON a.okey = b.okey AND a.item < b.item
        GROUP BY a.item, b.item
    )
    SELECT p.item_a, p.item_b,
           CAST(p.co AS BIGINT) AS co_count,
           p.co / n.n_orders AS support,
           p.co / CAST(ca.c AS DOUBLE) AS confidence_a_to_b,
           (p.co * n.n_orders) / (CAST(ca.c AS DOUBLE) * cb.c) AS lift
    FROM pairs p
    JOIN item_cnt ca ON ca.item = p.item_a
    JOIN item_cnt cb ON cb.item = p.item_b, n
    WHERE p.co >= 3
    ORDER BY lift DESC, item_a, item_b
    LIMIT 20
    """,
)
def association_rules_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules (Agrawal & Srikant 1994's
    output surface without the Apriori iterations — pair-level
    support/confidence/lift directly): which parts co-occur in orders
    beyond chance. The graph-free complement of
    `copurchase_triangle_count`: that query measures co-purchase
    CONNECTIVITY, this one emits the ranked RULES (lift = observed
    co-rate over the independence expectation) with a min-support
    floor so noise pairs can't top the list. All measures are
    integer-count ratios — engine-exact, no rounding helper needed.

    Scale shape: baskets dedup in one (order, item) shuffle; the pair
    space is the per-order self-join — fan-out bounded by basket size
    squared (single-digit items per order here and in most commerce
    data; cap or sample mega-baskets the way the shingle pipelines
    cap hot buckets), then pairs aggregate on fixed-width keys, item
    marginals broadcast back, and top-20 is TakeOrdered."""
    li = load_table(spark, sf_dir, "lineitem")
    basket = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("item")
    ).distinct()
    n_orders = basket.agg(
        F.countDistinct("okey").cast("double").alias("n_orders")
    )
    item_cnt = basket.groupBy("item").agg(F.count(F.lit(1)).alias("c"))
    a, b = basket.alias("a"), basket.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.okey") == F.col("b.okey"))
            & (F.col("a.item") < F.col("b.item")),
        )
        .groupBy(
            F.col("a.item").alias("item_a"), F.col("b.item").alias("item_b")
        )
        .agg(F.count(F.lit(1)).alias("co"))
        .filter(F.col("co") >= 3)
    )
    ca = item_cnt.select(
        F.col("item").alias("item_a"), F.col("c").alias("ca")
    )
    cb = item_cnt.select(
        F.col("item").alias("item_b"), F.col("c").alias("cb")
    )
    return (
        pairs.join(F.broadcast(ca), "item_a")
        .join(F.broadcast(cb), "item_b")
        .crossJoin(F.broadcast(n_orders))
        .select(
            "item_a",
            "item_b",
            F.col("co").cast("long").alias("co_count"),
            (F.col("co") / F.col("n_orders")).alias("support"),
            (F.col("co") / F.col("ca").cast("double")).alias(
                "confidence_a_to_b"
            ),
            (
                (F.col("co") * F.col("n_orders"))
                / (F.col("ca").cast("double") * F.col("cb"))
            ).alias("lift"),
        )
        .orderBy(F.desc("lift"), "item_a", "item_b")
        .limit(20)
    )


def _pagerank_oracle(iters: int = 6) -> str:
    """Unrolled fixed-point PageRank oracle. Aggregates are not
    allowed in a DuckDB recursive term, so the bounded iteration
    count unrolls into pr0..pr{iters} CTEs — same integer arithmetic
    as the Spark loop: scores in nano-units (1e12 total mass), every
    division an integer floor, so both engines produce bit-identical
    BIGINT scores with no float anywhere."""
    rounds = []
    for k in range(1, iters + 1):
        rounds.append(f"""
    pr{k} AS (
        SELECT d0.v,
               (15 * (1000000000000 // nv.n)
                + 85 * coalesce(c.c, 0)) // 100 AS s
        FROM deg d0 CROSS JOIN nv
        LEFT JOIN (
            SELECT e.dst AS v, sum(p.s // dg.d) AS c
            FROM edges e
            JOIN pr{k - 1} p ON p.v = e.src
            JOIN deg dg ON dg.v = e.src
            GROUP BY e.dst
        ) c ON c.v = d0.v
    )""")
    return f"""
    WITH pairs AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l1.l_shipdate <  TIMESTAMP '1998-01-01'
          AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l2.l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs
    ),
    deg AS (SELECT src AS v, count(*) AS d FROM edges GROUP BY src),
    nv AS (SELECT count(*) AS n FROM deg),
    pr0 AS (SELECT v, 1000000000000 // n AS s FROM deg, nv),
    {",".join(rounds)}
    SELECT CAST(v AS BIGINT) AS partkey, CAST(s AS BIGINT) AS score_nano
    FROM pr{iters}
    ORDER BY s DESC, v LIMIT 10
    """


@query("pagerank_copurchase_topk", oracle=_pagerank_oracle())
def pagerank_copurchase_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality on the part co-purchase graph (same 1997
    edge set as `copurchase_triangle_count`): the 10 most central
    products after 6 damped power-iteration rounds — the
    item-importance ranking behind 'customers also bought' seeds and
    canonical-product choice.

    Exactness without floats: scores live in integer NANO-UNITS
    (total mass 1e12) and every division is an integer floor —
    s' = (15·(1e12//n) + 85·Σ_u s(u)//deg(u)) // 100 — so the Spark
    loop and the DuckDB oracle (same recurrence unrolled into CTEs;
    DuckDB forbids aggregates in a recursive term) produce
    bit-identical BIGINT scores. Float PageRank would accumulate
    order-dependent last-ulp error across rounds on both engines.

    Scale shape: the pair self-join is co-partitioned on l_orderkey;
    each of the 6 bounded rounds is one src-keyed join + one
    dst-keyed groupBy over fixed-width longs, lineage truncated by
    localCheckpoint per round (the `dedup_connected_components`
    pattern); the driver sees one scalar (the vertex count), never
    data. Dangling-mass handling is moot on an undirected graph
    (every vertex has out-edges)."""
    li = (
        _t(spark, sf_dir, "lineitem")
        .filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp_ntz"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp_ntz"))
        )
        .select("l_orderkey", "l_partkey")
    )
    x, y = li.alias("x"), li.alias("y")
    pairs = (
        x.join(
            y,
            (F.col("x.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("x.l_partkey") < F.col("y.l_partkey")),
        )
        .select(F.col("x.l_partkey").alias("a"), F.col("y.l_partkey").alias("b"))
        .distinct()
        .localCheckpoint()
    )
    edges = pairs.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionAll(
        pairs.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d")).select(
        F.col("src").alias("v"), "d"
    ).localCheckpoint()
    n = deg.count()  # driver traffic: ONE scalar
    init = 10**12 // n
    s = deg.select("v", F.lit(init).cast("long").alias("s"))
    for _ in range(6):
        contrib = (
            edges.join(s.select(F.col("v").alias("sv"), "s"), F.col("src") == F.col("sv"))
            .join(deg.select(F.col("v").alias("dv"), "d"), F.col("src") == F.col("dv"))
            .select(F.col("dst"), F.expr("s div d").alias("w"))
        )
        c = contrib.groupBy("dst").agg(F.sum("w").alias("c"))
        s = (
            deg.select("v")
            .join(c, F.col("v") == F.col("dst"), "left")
            .selectExpr(
                "v",
                f"CAST(({15 * init} + 85 * coalesce(c, 0)) div 100 AS BIGINT) AS s",
            )
            .localCheckpoint()
        )
    return (
        s.select(F.col("v").alias("partkey"), F.col("s").alias("score_nano"))
        .orderBy(F.desc("score_nano"), "partkey")
        .limit(10)
    )


@query(
    "item_item_cofilter_topk",
    oracle=f"""
    WITH basket AS (
        SELECT DISTINCT l_orderkey, l_partkey
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01'
          AND l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    supp AS (
        SELECT l_partkey AS item, CAST(count(*) AS BIGINT) AS n_orders
        FROM basket GROUP BY l_partkey
        HAVING count(*) >= 5
    ),
    pairs AS (
        SELECT a.l_partkey AS ia, b.l_partkey AS ib,
               CAST(count(*) AS BIGINT) AS together
        FROM basket a JOIN basket b
          ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        GROUP BY a.l_partkey, b.l_partkey
    ),
    scored AS (
        SELECT ia, ib, together,
               together / (sqrt(CAST(sa.n_orders AS DOUBLE))
                           * sqrt(CAST(sb.n_orders AS DOUBLE))) AS cosine
        FROM pairs
        JOIN supp sa ON sa.item = ia
        JOIN supp sb ON sb.item = ib
    ),
    bidir AS (
        SELECT ia AS item, ib AS neighbor, together, cosine FROM scored
        UNION ALL
        SELECT ib AS item, ia AS neighbor, together, cosine FROM scored
    ),
    ranked AS (
        SELECT item, neighbor, together, cosine,
               row_number() OVER (
                   PARTITION BY item ORDER BY cosine DESC, neighbor
               ) AS rk
        FROM bidir
    )
    SELECT item, neighbor, together,
           {round_sql("cosine", 6)} AS cosine,
           CAST(rk AS INT) AS rk
    FROM ranked WHERE rk <= 3
    ORDER BY item, rk
    """,
)
def item_item_cofilter_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 most-similar parts per
    part by co-occurrence cosine over 1997 order baskets —
    sim(i,j) = |orders with both| / √(|orders with i|·|orders with j|)
    — the classic "customers who bought X also bought" neighborhood
    model, built on the same basket relation as
    `copurchase_triangle_count`. A ≥5-order support floor drops rare
    items (standard practice: their similarities are noise, and at
    catalog scale they bloat the pair set for no recall).

    Determinism: ranking happens on the UNROUNDED cosine, which is
    bit-identical across engines — counts are exact BIGINTs and
    together/(√na·√nb) is spelled with the same IEEE-correctly-rounded
    op sequence in both; ties break on neighbor id. Scale shape: the
    pair join is order-keyed (baskets are bounded per order, so pair
    fan-out is bounded per row — never all-pairs across the catalog);
    the top-k window partitions by item. At 100 TB the same plan
    holds, with AQE skew-split handling mega-baskets (or a per-order
    item cap upstream, the standard guard in production CF)."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem")
    basket = (
        li.filter(
            (F.col("l_shipdate") >= "1997-01-01")
            & (F.col("l_shipdate") < "1998-01-01")
        )
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    supp = (
        basket.groupBy(F.col("l_partkey").alias("item"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_orders"))
        .filter(F.col("n_orders") >= 5)
    )
    a = basket.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ia"))
    b = basket.select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("ib"))
    pairs = (
        a.join(b, "ok")
        .filter(F.col("ia") < F.col("ib"))
        .groupBy("ia", "ib")
        .agg(F.count(F.lit(1)).cast("long").alias("together"))
    )
    scored = (
        pairs.join(supp.select(F.col("item").alias("ia"), F.col("n_orders").alias("na")), "ia")
        .join(supp.select(F.col("item").alias("ib"), F.col("n_orders").alias("nb")), "ib")
        .select(
            "ia",
            "ib",
            "together",
            (
                F.col("together")
                / (
                    F.sqrt(F.col("na").cast("double"))
                    * F.sqrt(F.col("nb").cast("double"))
                )
            ).alias("cosine"),
        )
    )
    bidir = scored.select(
        F.col("ia").alias("item"), F.col("ib").alias("neighbor"), "together", "cosine"
    ).unionByName(
        scored.select(
            F.col("ib").alias("item"), F.col("ia").alias("neighbor"), "together", "cosine"
        )
    )
    w = Window.partitionBy("item").orderBy(F.desc("cosine"), "neighbor")
    return (
        bidir.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 3)
        .select(
            "item",
            "neighbor",
            "together",
            round_col(F.col("cosine"), 6).alias("cosine"),
            F.col("rk").cast("int").alias("rk"),
        )
        .orderBy("item", "rk")
    )


def _kcore_oracle(k: int = 3, rounds: int = 6) -> str:
    """Unrolled synchronized-peel k-core oracle (DuckDB forbids
    aggregates in a recursive term, so the bounded round count unrolls
    into alive0..alive{rounds} CTEs — the same trick as
    `_pagerank_oracle`). All integer counts; no float anywhere."""
    cte = []
    for r in range(1, rounds + 1):
        cte.append(f"""
    alive{r} AS (
        SELECT e.src AS v FROM edges e
        JOIN alive{r - 1} s ON s.v = e.src
        JOIN alive{r - 1} t ON t.v = e.dst
        GROUP BY e.src HAVING count(*) >= {k}
    )""")
    rows = ",\n".join(
        f"""
    stat{r} AS (
        SELECT {r} AS round,
               (SELECT count(*) FROM alive{r}) AS survivors,
               (SELECT count(*) FROM pairs p
                JOIN alive{r} x ON x.v = p.a
                JOIN alive{r} y ON y.v = p.b) AS live_edges
    )"""
        for r in range(1, rounds + 1)
    )
    union = "\n    UNION ALL ".join(
        f"SELECT * FROM stat{r}" for r in range(1, rounds + 1)
    )
    return f"""
    WITH pairs AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l1.l_shipdate <  TIMESTAMP '1998-01-01'
          AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l2.l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs
    ),
    alive0 AS (SELECT src AS v FROM edges GROUP BY src),
    {",".join(cte)},
    {rows}
    SELECT CAST(round AS INT) AS round,
           CAST(survivors AS BIGINT) AS survivors,
           CAST(live_edges AS BIGINT) AS live_edges
    FROM ({union}) ORDER BY round
    """


@query("kcore_decomposition", oracle=_kcore_oracle())
def kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core extraction on the part co-purchase graph (same 1997
    edge set as `copurchase_triangle_count`/`pagerank_copurchase_topk`)
    by synchronized peeling: each round recomputes degrees over the
    surviving subgraph and drops vertices with degree < 3; the output
    is the per-round (survivors, live-edges) trajectory for 6 rounds —
    the dense-subgraph census behind community seeds, spam-ring
    detection, and curriculum "well-connected item" selection. The
    contract is EXPLICITLY a bounded-budget trajectory, not a
    fixpoint: co-purchase peeling has a long sparsification tail
    (measured: 15 rounds to fixpoint at sf0.01, 27 at sf0.1), so a
    production run loops until the survivor count stops changing
    (scalar driver probe per round, as in
    `dedup_connected_components`) while THIS query pins the first 6
    rounds so the oracle can replay them exactly — an until-fixpoint
    SQL twin would need data-dependent recursion DuckDB can't express
    with aggregates.

    Exactness: every quantity is an integer count — no float anywhere,
    like the pagerank twin. Scale shape: each round is one
    alive-filtered degree aggregate (two semi-join-shaped hash joins +
    groupBy on vertex id); the alive set only shrinks, each round's
    result is localCheckpoint-ed so round r+1 starts from materialized
    vertices instead of replaying (and combinatorially nesting) the
    lineage, and the round count is a fixed budget — the standard
    bounded-iteration discipline for distributed graph fixpoints."""
    li = _t(spark, sf_dir, "lineitem")
    year = li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_partkey")
    a, b = year.alias("a"), year.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
        # localCheckpoint truncates lineage: without it each of the 6
        # rounds' plans nests the full prior-round tree and the final
        # 6-way union's logical plan grows combinatorially (observed
        # as a catalyst OOM before a single task ran) — the same
        # discipline as dedup_connected_components' label loop
        .localCheckpoint()
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    alive = edges.select(F.col("src").alias("v")).distinct().localCheckpoint()
    out = None
    for r in range(1, 7):
        alive_s = alive.select(F.col("v").alias("src"))
        alive_d = alive.select(F.col("v").alias("dst"))
        alive = (
            edges.join(alive_s, "src")
            .join(alive_d, "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 3)
            .select("v")
            .localCheckpoint()
        )
        surv = alive.agg(F.count(F.lit(1)).cast("long").alias("survivors"))
        live = (
            pairs.join(alive.select(F.col("v").alias("pa")), "pa")
            .join(alive.select(F.col("v").alias("pb")), "pb")
            .agg(F.count(F.lit(1)).cast("long").alias("live_edges"))
        )
        row = (
            surv.crossJoin(live)
            .select(
                F.lit(r).cast("int").alias("round"), "survivors", "live_edges"
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")


def _lpa_oracle(rounds: int = 4) -> str:
    """Unrolled synchronous label-propagation oracle (aggregates can't
    appear in a DuckDB recursive term — same unroll trick as
    `_pagerank_oracle`/`_kcore_oracle`): each round every vertex
    adopts the most frequent neighbor label, ties to the smallest
    label. Labels are vertex ids (BIGINT) throughout — no float."""
    cte = []
    for r in range(1, rounds + 1):
        cte.append(f"""
    cnt{r} AS (
        SELECT e.dst AS v, p.label, count(*) AS c
        FROM edges e JOIN lab{r - 1} p ON p.v = e.src
        GROUP BY e.dst, p.label
    ),
    mx{r} AS (SELECT v, max(c) AS mc FROM cnt{r} GROUP BY v),
    lab{r} AS (
        SELECT c.v, min(c.label) AS label
        FROM cnt{r} c JOIN mx{r} m ON m.v = c.v AND c.c = m.mc
        GROUP BY c.v
    )""")
    return f"""
    WITH pairs AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l1.l_shipdate <  TIMESTAMP '1998-01-01'
          AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l2.l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs
    ),
    lab0 AS (SELECT src AS v, src AS label FROM edges GROUP BY src),
    {",".join(cte)}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(count(*) AS BIGINT) AS size
    FROM lab{rounds} GROUP BY label
    ORDER BY size DESC, community LIMIT 10
    """


@query("label_propagation_communities", oracle=_lpa_oracle())
def label_propagation_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the part co-purchase graph by
    synchronous label propagation (4 fixed rounds): every vertex
    adopts its neighbors' MODE label (ties → smallest), seeded with
    vertex ids — unlike `dedup_connected_components` (min-label =
    connectivity), mode propagation splits a connected graph into
    densely-linked communities; output is the top-10 communities by
    size. Deterministic by construction: synchronous rounds + total
    tiebreak order, no RNG — the async/random-order LPA variant
    converges faster but is irreproducible, the wrong trade for an
    oracle-gated pipeline.

    Exactness: labels are vertex ids, counts are counts — BIGINT
    end-to-end. Scale shape: each round is one src-keyed join (label
    lookup co-partitioned with edges), one (dst,label) aggregate, and
    one per-vertex argmax (max-count then min-label, expressed as two
    grouped aggregates, NOT a window over the corpus); rounds
    localCheckpoint so lineage stays flat. The fixed round budget is
    the same bounded-iteration contract as `kcore_decomposition`."""
    li = _t(spark, sf_dir, "lineitem")
    year = li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_partkey")
    a, b = year.alias("a"), year.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
        .localCheckpoint()
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    labels = (
        edges.select(F.col("src").alias("v"))
        .distinct()
        .select("v", F.col("v").alias("label"))
        .localCheckpoint()
    )
    for _ in range(4):
        cnt = (
            edges.join(labels.withColumnRenamed("v", "src"), "src")
            .groupBy(F.col("dst").alias("v"), "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        # argmax by (count DESC, label ASC) as ONE grouped aggregate:
        # max over (c, -label) picks the highest count, then the
        # smallest label — no corpus-wide window needed
        labels = (
            cnt.groupBy("v")
            .agg(F.max(F.struct(F.col("c"), (-F.col("label")).alias("nl"))).alias("m"))
            .select("v", (-F.col("m.nl")).alias("label"))
            .localCheckpoint()
        )
    return (
        labels.groupBy(F.col("label").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("size"))
        .select(F.col("community").cast("long"), "size")
        .orderBy(F.desc("size"), "community")
        .limit(10)
    )


@query(
    "mutual_information_categorical",
    oracle=f"""
    WITH cells AS (
        SELECT o_orderpriority AS x, o_orderstatus AS y,
               CAST(count(*) AS BIGINT) AS nxy
        FROM orders GROUP BY o_orderpriority, o_orderstatus
    ),
    margins AS (
        SELECT x, y, nxy,
               CAST(sum(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx,
               CAST(sum(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny,
               CAST(sum(nxy) OVER () AS BIGINT) AS n
        FROM cells
    )
    SELECT CAST(count(*) AS BIGINT) AS n_cells,
           CAST(max(n) AS BIGINT) AS n_rows,
           {stable_render_sql(
               "sum((CAST(nxy AS DOUBLE) / n) * "
               "ln(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny)))",
               6
           )} AS mi_nats,
           {stable_render_sql(
               "sum((CAST(nxy AS DOUBLE) / n) * "
               "ln(CAST(nxy AS DOUBLE) * n / (CAST(nx AS DOUBLE) * ny)))"
               " / sqrt("
               "  (-sum((CAST(nxy AS DOUBLE) / n) * ln(CAST(nx AS DOUBLE) / n)))"
               "  * "
               "  (-sum((CAST(nxy AS DOUBLE) / n) * ln(CAST(ny AS DOUBLE) / n)))"
               ")",
               6
           )} AS nmi
    FROM margins
    """,
)
def mutual_information_categorical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information between order priority and order status —
    the feature-relevance measure behind categorical feature
    selection and leakage audits (an MI near the label entropy flags
    a feature that IS the label): MI = Σ p(x,y)·ln(p(x,y)/(p(x)p(y)))
    in nats, plus NMI = MI/√(H(X)·H(Y)) — the marginal entropies
    fall out of the same cell sum via Σ_y p(x,y)·ln p(x) =
    p(x)·ln p(x), so no extra aggregation level. The chi-square twin
    (`chi_square_independence`) tests independence; MI measures its
    STRENGTH on an information scale.

    Determinism: cell and margin counts are exact BIGINTs via
    partitioned windows over the bounded cell table (k_x·k_y rows);
    ln chains go through `stable_render` (decimal-string at 6dp —
    the libm-absorption discipline of `tfidf_top_terms`/
    `token_entropy_by_source`). Scale shape: one grouped scan to the
    cell table; margins are windows over it, never a rescan."""
    from pyspark.sql import Window

    o = _t(spark, sf_dir, "orders")
    cells = o.groupBy(
        F.col("o_orderpriority").alias("x"), F.col("o_orderstatus").alias("y")
    ).agg(F.count(F.lit(1)).cast("long").alias("nxy"))
    margins = cells.select(
        "x",
        "y",
        "nxy",
        F.sum("nxy").over(Window.partitionBy("x")).cast("long").alias("nx"),
        F.sum("nxy").over(Window.partitionBy("y")).cast("long").alias("ny"),
        F.sum("nxy").over(Window.partitionBy()).cast("long").alias("n"),
    )
    p = F.col("nxy").cast("double") / F.col("n")
    mi = F.sum(
        p
        * F.log(
            F.col("nxy").cast("double")
            * F.col("n")
            / (F.col("nx").cast("double") * F.col("ny"))
        )
    )
    hx = -F.sum(p * F.log(F.col("nx").cast("double") / F.col("n")))
    hy = -F.sum(p * F.log(F.col("ny").cast("double") / F.col("n")))
    return margins.agg(
        F.count(F.lit(1)).cast("long").alias("n_cells"),
        F.max("n").cast("long").alias("n_rows"),
        stable_render(mi, 6).alias("mi_nats"),
        stable_render(mi / F.sqrt(hx * hy), 6).alias("nmi"),
    )


# ---------------------------------------------------------------------------
# assortativity_degree — degree-degree correlation of the co-purchase graph
# ---------------------------------------------------------------------------


@query(
    "assortativity_degree",
    oracle=f"""
    WITH pairs AS (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l1.l_shipdate <  TIMESTAMP '1998-01-01'
          AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l2.l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    edges AS (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs
    ),
    deg AS (
        SELECT src AS v, CAST(count(*) AS BIGINT) AS d
        FROM edges GROUP BY src
    ),
    joined AS (
        SELECT da.d AS ds, db.d AS dd
        FROM edges e
        JOIN deg da ON da.v = e.src
        JOIN deg db ON db.v = e.dst
    )
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM deg) AS n_vertices,
           (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_edges,
           {round_sql(
               "2.0 * (SELECT count(*) FROM pairs)"
               " / (SELECT count(*) FROM deg)", 4
           )} AS avg_degree,
           {round_sql("(SELECT corr(ds, dd) FROM joined)", 6)}
               AS assortativity
    """,
)
def assortativity_degree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the part co-purchase
    graph — the Pearson correlation of endpoint degrees over the
    directed edge list (same 1997 edge set as
    `copurchase_triangle_count`/`kcore_decomposition`): positive
    means hubs link to hubs (social-network shape), negative means
    hub-and-spoke (catalog/anchor-item shape) — the one-number
    topology summary that decides whether degree-based sampling or
    salting is needed before heavier graph ops, and a drift canary
    for the co-purchase structure itself.

    Exactness: degrees are exact BIGINT counts; the single float is
    corr() over the directed edge relation — both engines' co-moment
    accumulation agreeing well inside 6dp (the `daily_acf`
    discipline, here over integer inputs). Scale shape: one distinct
    pair build, one degree aggregate, two degree lookups joined back
    on edge endpoints (vertex-keyed shuffles), one corr — no window,
    no collect, no pairwise blow-up beyond the edge list itself."""
    li = _t(spark, sf_dir, "lineitem")
    year = li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_partkey")
    a, b = year.alias("a"), year.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
        .localCheckpoint()
    )
    edges = pairs.select(
        F.col("pa").alias("src"), F.col("pb").alias("dst")
    ).unionByName(
        pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("d")
    )
    joined = (
        edges.join(deg.select(F.col("v").alias("src"), F.col("d").alias("ds")), "src")
        .join(deg.select(F.col("v").alias("dst"), F.col("d").alias("dd")), "dst")
    )
    nv = deg.agg(F.count(F.lit(1)).cast("long").alias("n_vertices"))
    ne = pairs.agg(F.count(F.lit(1)).cast("long").alias("n_edges"))
    r = joined.agg(F.corr("ds", "dd").alias("r"))
    return (
        nv.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(r))
        .select(
            "n_vertices",
            "n_edges",
            round_col(
                2.0 * F.col("n_edges") / F.col("n_vertices"), 4
            ).alias("avg_degree"),
            round_col(F.col("r"), 6).alias("assortativity"),
        )
    )


def _kcore_fixpoint_oracle(k: int = 3, budget: int = 40) -> str:
    """Until-fixpoint k-core oracle: unroll a FIXED budget of peel
    rounds (MATERIALIZED so the deep CTE chain evaluates once per
    round, not exponentially), then pick the first round whose
    survivor count matches the previous round's — by monotonicity of
    peeling (the alive set only shrinks) equal counts mean equal
    sets, i.e. the fixpoint. Valid while the true fixpoint arrives
    within the budget (measured: 15 rounds at sf0.01, 27 at sf0.1;
    budget 40 leaves headroom, and the Spark side loops until
    convergence and is budget-free). If the fixpoint ever exceeds the
    budget the oracle raises via DuckDB error() instead of silently
    yielding NULLs, so a budget overrun is distinguishable from a
    real parity mismatch (r9 ADVICE)."""
    cte = []
    for r in range(1, budget + 1):
        cte.append(f"""
    alive{r} AS MATERIALIZED (
        SELECT e.src AS v FROM edges e
        JOIN alive{r - 1} s ON s.v = e.src
        JOIN alive{r - 1} t ON t.v = e.dst
        GROUP BY e.src HAVING count(*) >= {k}
    )""")
    counts = "\n    UNION ALL ".join(
        f"SELECT {r} AS round, (SELECT count(*) FROM alive{r}) AS s"
        for r in range(0, budget + 1)
    )
    lives = "\n    UNION ALL ".join(
        f"""SELECT {r} AS round,
               (SELECT count(*) FROM pairs p
                JOIN alive{r} x ON x.v = p.a
                JOIN alive{r} y ON y.v = p.b) AS le"""
        for r in range(1, budget + 1)
    )
    return f"""
    WITH pairs AS MATERIALIZED (
        SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
        FROM lineitem l1
        JOIN lineitem l2
          ON l1.l_orderkey = l2.l_orderkey AND l1.l_partkey < l2.l_partkey
        WHERE l1.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l1.l_shipdate <  TIMESTAMP '1998-01-01'
          AND l2.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l2.l_shipdate <  TIMESTAMP '1998-01-01'
    ),
    edges AS MATERIALIZED (
        SELECT a AS src, b AS dst FROM pairs
        UNION ALL SELECT b, a FROM pairs
    ),
    alive0 AS MATERIALIZED (SELECT src AS v FROM edges GROUP BY src),
    {",".join(cte)},
    counts AS ({counts}),
    seq AS (
        SELECT round, s, lag(s) OVER (ORDER BY round) AS prev
        FROM counts
    ),
    fix AS (
        SELECT min(round) AS fr FROM seq WHERE s = prev
    ),
    lives AS ({lives}),
    fixchk AS (
        SELECT CASE WHEN fr IS NULL
                    THEN error('kcore oracle: fixpoint beyond {budget}-round unroll budget')
                    ELSE fr END AS fr
        FROM fix
    )
    SELECT CAST(fr - 1 AS INT) AS rounds_to_fixpoint,
           CAST((SELECT s FROM counts WHERE round = fr) AS BIGINT)
               AS survivors,
           CAST((SELECT le FROM lives WHERE round = fr) AS BIGINT)
               AS live_edges
    FROM fixchk
    """


@query("kcore_fixpoint", oracle=_kcore_fixpoint_oracle())
def kcore_fixpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Until-FIXPOINT 3-core of the part co-purchase graph — the
    production variant `kcore_decomposition`'s docstring promises
    (that query pins a 6-round trajectory so the oracle can replay it
    exactly; THIS one peels until the survivor set stops changing,
    the way a real dense-subgraph extraction runs): each round
    recomputes degrees over the surviving subgraph, drops vertices
    below k=3, and a SCALAR count per round (the
    `dedup_connected_components` convergence-probe discipline —
    driver traffic is one integer per round, never rows) decides
    termination, since peeling is monotone and an unchanged count
    means an unchanged set. Output: rounds needed, core size, edges
    inside the core.

    Exactness: integer counts end-to-end. The oracle unrolls a
    30-round budget (MATERIALIZED CTEs) and selects its own first
    no-change round, so both engines find the SAME fixpoint while
    only Spark iterates data-dependently (measured: 15 rounds at
    sf0.01, 27 at sf0.1). Scale shape: each round is two
    semi-join-shaped hash joins + a vertex-keyed degree aggregate on
    a shrinking alive set, checkpoint_flat-ed so lineage stays flat
    AND stats stay constant (each round references `alive` twice, so
    plain localCheckpoint squares the Catalyst size estimate per
    round — a BigInt whose digits double each round OOMed the driver
    at round 27 before any task ran; see iterate.checkpoint_flat);
    a safety cap (100) bounds the loop against pathological inputs."""
    from ..iterate import checkpoint_flat

    li = _t(spark, sf_dir, "lineitem")
    year = li.filter(
        (F.col("l_shipdate") >= "1997-01-01")
        & (F.col("l_shipdate") < "1998-01-01")
    ).select("l_orderkey", "l_partkey")
    a, b = year.alias("a"), year.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(
            F.col("a.l_partkey").alias("pa"), F.col("b.l_partkey").alias("pb")
        )
        .distinct()
        .localCheckpoint()
    )
    # r14 (verdict item 9, the dedup_cc §2.2 treatment): the symmetric
    # edge list is STATIC across all ~27 peel rounds but was re-derived
    # from the pairs checkpoint (two scans + a union) every round;
    # checkpoint it once, hash-repartitioned by the round-join key so
    # AQE sizes the checkpoint partitions by data (1-2 locally, many at
    # scale) instead of inheriting the union's layout.
    edges = (
        pairs.select(F.col("pa").alias("src"), F.col("pb").alias("dst"))
        .unionByName(
            pairs.select(F.col("pb").alias("src"), F.col("pa").alias("dst"))
        )
        .repartition("src")
        .localCheckpoint()
    )
    alive = checkpoint_flat(
        edges.select(F.col("src").alias("v")).distinct()
    )
    prev = alive.count()
    rounds = 0
    for _ in range(100):
        nxt = checkpoint_flat(
            edges.join(alive.select(F.col("v").alias("src")), "src")
            .join(alive.select(F.col("v").alias("dst")), "dst")
            .groupBy(F.col("src").alias("v"))
            .agg(F.count(F.lit(1)).alias("deg"))
            .filter(F.col("deg") >= 3)
            .select("v")
        )
        cnt = nxt.count()
        alive = nxt
        if cnt == prev:
            break
        prev = cnt
        rounds += 1
    surv = alive.agg(F.count(F.lit(1)).cast("long").alias("survivors"))
    live = (
        pairs.join(alive.select(F.col("v").alias("pa")), "pa")
        .join(alive.select(F.col("v").alias("pb")), "pb")
        .agg(F.count(F.lit(1)).cast("long").alias("live_edges"))
    )
    return (
        surv.crossJoin(F.broadcast(live))
        .select(
            F.lit(rounds).cast("int").alias("rounds_to_fixpoint"),
            "survivors",
            "live_edges",
        )
    )


# ---------------------------------------------------------------------------
# Data-layout advisor: Z-order vs linear sort (r11 batch 2)
# ---------------------------------------------------------------------------

# 8-bit quantization per dimension, 16-bit Morton code, top-6-bit file
# assignment (64 files), and a 16x16-cell rectangle probe. All-integer
# arithmetic so the oracle replays it bit-exactly.
_Z_BITS = 8
_Z_FILE_SHIFT = 10  # 16-bit z >> 10 -> 64 z-order files
_Z_RECT = (32, 47, 96, 111)  # qx0, qx1, qy0, qy1


def _z_interleave_sql(qx: str, qy: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({qx} >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((({qy} >> {i}) & 1) << {2 * i})")
    return " + ".join(terms)


def _zorder_oracle() -> str:
    x0, x1, y0, y1 = _Z_RECT
    return f"""
    WITH dom AS (
        SELECT max(l_partkey) AS mx, max(l_suppkey) AS my FROM lineitem
    ),
    q AS (
        SELECT CAST((l_partkey * 256) // (mx + 1) AS BIGINT) AS qx,
               CAST((l_suppkey * 256) // (my + 1) AS BIGINT) AS qy
        FROM lineitem, dom
    ),
    coded AS (
        SELECT qx, qy,
               (qx >> 2) AS file_linear,
               (({_z_interleave_sql("qx", "qy")}) >> {_Z_FILE_SHIFT}) AS file_zorder,
               CASE WHEN qx BETWEEN {x0} AND {x1}
                     AND qy BETWEEN {y0} AND {y1} THEN 1 ELSE 0 END AS hit
        FROM q
    ),
    per_file AS (
        SELECT layout, file_id, count(*) AS rows_in_file,
               sum(hit) AS hits_in_file,
               min(qx) AS min_x, max(qx) AS max_x,
               min(qy) AS min_y, max(qy) AS max_y
        FROM (
            SELECT 'linear' AS layout, file_linear AS file_id, qx, qy, hit
            FROM coded
            UNION ALL
            SELECT 'zorder', file_zorder, qx, qy, hit FROM coded
        )
        GROUP BY layout, file_id
    )
    SELECT layout,
           count(*) AS n_files,
           CAST(sum(CASE WHEN max_x >= {x0} AND min_x <= {x1}
                          AND max_y >= {y0} AND min_y <= {y1}
                    THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
           CAST(sum(CASE WHEN max_x >= {x0} AND min_x <= {x1}
                          AND max_y >= {y0} AND min_y <= {y1}
                    THEN rows_in_file ELSE 0 END) AS BIGINT) AS rows_scanned,
           CAST(sum(hits_in_file) AS BIGINT) AS matching_rows
    FROM per_file
    GROUP BY layout ORDER BY layout
    """


@query("zorder_clustering_audit", oracle=_zorder_oracle())
def zorder_clustering_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout advisor: how many parquet files would a 2-D
    rectangle predicate scan under a LINEAR (sort-by-x) layout versus
    a Z-ORDER (Morton-interleaved) layout, given file-level min/max
    statistics — the decision Delta/Iceberg `OPTIMIZE ZORDER BY`
    automates, audited from the data itself.

    Both layouts are simulated from all-integer arithmetic: each
    dimension quantizes to 8 bits ((v * 256) div (max+1)), the Morton
    code interleaves the two bit-streams, and a file is the top 6 bits
    of its layout's sort key (64 files each). Pruning replays the
    standard min/max-overlap test per file. One corpus scan, two
    64-group aggregates, two output rows — at 100 TB this runs as a
    metadata-sized aggregation and tells you whether rewriting the
    table Z-ordered is worth it BEFORE you burn the cluster time
    (complements `partition_key_advisor`, which picks the partition
    column; this picks the within-partition sort).

    The quantized-space audit is exact for the quantized predicate by
    construction; real file stats would add only residual skew inside
    a quantization cell."""
    x0, x1, y0, y1 = _Z_RECT
    li = _t(spark, sf_dir, "lineitem")
    dom = li.agg(
        F.max("l_partkey").alias("mx"), F.max("l_suppkey").alias("my")
    )
    q = li.crossJoin(F.broadcast(dom)).select(
        F.floor(F.col("l_partkey") * 256 / (F.col("mx") + 1)).alias("qx"),
        F.floor(F.col("l_suppkey") * 256 / (F.col("my") + 1)).alias("qy"),
    )
    coded = q.select(
        "qx",
        "qy",
        F.shiftright(F.col("qx"), 2).alias("file_linear"),
        F.shiftright(
            F.expr(_z_interleave_sql("qx", "qy")), _Z_FILE_SHIFT
        ).alias("file_zorder"),
        F.when(
            F.col("qx").between(x0, x1) & F.col("qy").between(y0, y1), 1
        ).otherwise(0).alias("hit"),
    )
    # One corpus scan: each row fans out to its two (layout, file_id)
    # assignments via a 2-element explode instead of a UNION ALL of two
    # copies of the scan subtree (AQE would otherwise scan lineitem and
    # recompute the domain aggregate once per branch).
    stacked = coded.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.col("file_linear").alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.col("file_zorder").alias("file_id"),
                ),
            )
        ).alias("lf"),
        "qx", "qy", "hit",
    ).select("lf.layout", "lf.file_id", "qx", "qy", "hit")
    per_file = stacked.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).alias("rows_in_file"),
        F.sum("hit").alias("hits_in_file"),
        F.min("qx").alias("min_x"), F.max("qx").alias("max_x"),
        F.min("qy").alias("min_y"), F.max("qy").alias("max_y"),
    )
    overlaps = (
        (F.col("max_x") >= x0) & (F.col("min_x") <= x1)
        & (F.col("max_y") >= y0) & (F.col("min_y") <= y1)
    )
    return (
        per_file.groupBy("layout")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.when(overlaps, 1).otherwise(0)).cast("long").alias("files_scanned"),
            F.sum(F.when(overlaps, F.col("rows_in_file")).otherwise(0))
            .cast("long")
            .alias("rows_scanned"),
            F.sum("hits_in_file").cast("long").alias("matching_rows"),
        )
        .orderBy("layout")
    )


# ---------------------------------------------------------------------------
# WARC source tally (r11 batch 7) — drives format("warc") end-to-end
# ---------------------------------------------------------------------------

# Deterministic fixture spec: (file, gzipped, [(type, uri, payload)]).
# The oracle is the constant tally of this spec; change BOTH together.
_WARC_FIXTURE_SPEC = [
    (
        "crawl-0.warc",
        False,
        [
            ("response", "http://example.com/0", b"alpha beta " * 6),   # 66 B
            ("response", "http://example.com/1", b"x" * 100),           # 100 B
            ("request", "http://example.com/2", b"GET /2 HTTP/1.1\r\n"),  # 17 B
        ],
    ),
    (
        "crawl-1.warc.gz",
        True,
        [
            ("response", "http://example.com/3", b"gzip payload one!"),  # 17 B
            ("response", "http://example.com/4", b"gz" * 20),            # 40 B
            ("metadata", "http://example.com/4", b"fetch-ms: 12\r\n"),   # 14 B
        ],
    ),
]


def warc_fixture_dir() -> str:
    """Build (once per content hash) the deterministic WARC fixture
    directory — the staging + atomic-rename caching discipline of the
    HPROF fixtures."""
    import gzip as _gzip
    import hashlib
    import tempfile

    def record(wtype: str, uri: str, payload: bytes, rid: int) -> bytes:
        head = (
            f"WARC/1.0\r\n"
            f"WARC-Type: {wtype}\r\n"
            f"WARC-Record-ID: <urn:uuid:fixture-{rid}>\r\n"
            f"WARC-Target-URI: {uri}\r\n"
            f"WARC-Date: 2024-01-15T00:00:00Z\r\n"
            f"Content-Type: text/plain\r\n"
            f"Content-Length: {len(payload)}\r\n\r\n"
        ).encode()
        return head + payload + b"\r\n\r\n"

    digest = hashlib.md5(repr(_WARC_FIXTURE_SPEC).encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"hds_warc_fixture.{digest}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        staging = f"{out}.build.{os.getpid()}"
        os.makedirs(staging, exist_ok=True)
        rid = 0
        for fname, gzipped, records in _WARC_FIXTURE_SPEC:
            blobs = []
            for wtype, uri, payload in records:
                raw = record(wtype, uri, payload, rid)
                rid += 1
                blobs.append(
                    _gzip.compress(raw, mtime=0) if gzipped else raw
                )
            with open(os.path.join(staging, fname), "wb") as f:
                f.write(b"".join(blobs))
        with open(os.path.join(staging, "_DONE"), "w") as f:
            f.write("ok")
        try:
            os.rename(staging, out)
        except OSError:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    return out


def _warc_tally_oracle() -> str:
    agg: dict[str, list[int]] = {}
    for fname, _gz, records in _WARC_FIXTURE_SPEC:
        for wtype, _uri, payload in records:
            n, b, files = agg.setdefault(wtype, [0, 0, 0])
            agg[wtype][0] = n + 1
            agg[wtype][1] = b + len(payload)
    for fname, _gz, records in _WARC_FIXTURE_SPEC:
        for wtype in {t for t, _u, _p in records}:
            agg[wtype][2] += 1
    values = ", ".join(
        f"('{t}', CAST({n} AS BIGINT), CAST({b} AS BIGINT), CAST({f} AS BIGINT))"
        for t, (n, b, f) in sorted(agg.items())
    )
    return f"""
    SELECT * FROM (VALUES {values})
        AS t(warc_type, n_records, total_bytes, n_files)
    ORDER BY warc_type
    """


@query("warc_record_tally", oracle=_warc_tally_oracle())
def warc_record_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type record tally THROUGH the lazy ``format("warc")``
    DataSource — drives the crawl-archive source end-to-end under the
    driver's oracle gate: per-file partitions, streamed stdlib record
    framing (plain AND per-record-gzip members), typed headers, then
    a plain groupBy. The input is the deterministic fixture built at
    call time (the HPROF constant-oracle pattern), so the oracle is
    its known tally; parquet fixtures play no role by design — this
    verifies the non-parquet crawl ingestion path.

    Scale shape: one task per WARC file streaming its own bytes (the
    Common-Crawl posture — thousands of ~1 GB files, zero
    coordination); payloads reduce to length() executor-side, so only
    the kilobyte-sized (type, count, bytes) tally ever shuffles."""
    from ..sources import register_warc

    path = warc_fixture_dir()
    register_warc(spark)
    df = spark.read.format("warc").load(path)
    return (
        df.groupBy("warc_type")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum(F.length("payload")).cast("long").alias("total_bytes"),
            F.count_distinct("file").alias("n_files"),
        )
        .orderBy("warc_type")
    )


# ---------------------------------------------------------------------------
# Arrow IPC source gate (r12): drive format("arrowipc") end-to-end
# under the driver's oracle, the warc_record_tally pattern.
# ---------------------------------------------------------------------------

# (file name, container format, rows) — rows are (category, v).
# Two batches in the FILE container prove multi-batch iteration; the
# STREAM container proves the magic-sniffing path.
_ARROW_FIXTURE_SPEC = (
    (
        "feature_export.arrow",
        "file",
        (
            (("img", 3), ("txt", 5), ("img", 7), ("aud", 2)),
            (("txt", 11), ("img", 1), ("txt", 6)),
        ),
    ),
    (
        "feed_tail.arrows",
        "stream",
        ((("aud", 9), ("txt", 4), ("img", 8), ("vid", 10)),),
    ),
)


def arrow_fixture_dir() -> str:
    """Build (once per content hash) the deterministic Arrow IPC
    fixture directory — staging + atomic rename, the WARC/HPROF
    fixture discipline."""
    import hashlib
    import tempfile

    import pyarrow as pa
    import pyarrow.ipc as ipc

    digest = hashlib.md5(repr(_ARROW_FIXTURE_SPEC).encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"hds_arrow_fixture.{digest}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        staging = f"{out}.build.{os.getpid()}"
        os.makedirs(staging, exist_ok=True)
        schema = pa.schema(
            [pa.field("category", pa.string()), pa.field("v", pa.int64())]
        )
        for fname, fmt, batches in _ARROW_FIXTURE_SPEC:
            path = os.path.join(staging, fname)
            opener = ipc.new_file if fmt == "file" else ipc.new_stream
            with opener(path, schema) as w:
                for rows in batches:
                    w.write_batch(
                        pa.record_batch(
                            [
                                pa.array([c for c, _v in rows], pa.string()),
                                pa.array([v for _c, v in rows], pa.int64()),
                            ],
                            schema=schema,
                        )
                    )
        with open(os.path.join(staging, "_DONE"), "w") as f:
            f.write("ok")
        try:
            os.rename(staging, out)
        except OSError:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    return out


def _arrow_tally_oracle() -> str:
    agg: dict[str, list[int]] = {}
    for _fname, _fmt, batches in _ARROW_FIXTURE_SPEC:
        for rows in batches:
            for c, v in rows:
                n_s = agg.setdefault(c, [0, 0])
                n_s[0] += 1
                n_s[1] += v
    values = ", ".join(
        f"('{c}', CAST({n} AS BIGINT), CAST({s} AS BIGINT))"
        for c, (n, s) in sorted(agg.items())
    )
    return f"""
    SELECT * FROM (VALUES {values}) AS t(category, n_rows, total_v)
    ORDER BY category
    """




def _pid_keyed_export_dir(family: str, sf_dir: str) -> str:
    """Export directory for a write-then-read-back query, keyed by
    (sf, pid): stable across re-runs within one process (the
    read-back plan stays valid), disjoint across concurrent processes
    (a driver pass and a local gate can never interleave their
    overwrite commits on the same directory). Each call also reaps
    every *family* sibling — any sf — whose owning pid no longer
    runs: the dir must outlive the calling function (the returned
    plan reads it lazily), so the steady state is one export per LIVE
    process, not one per run."""
    import hashlib
    import shutil
    import tempfile

    prefix = family + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    tmp = tempfile.gettempdir()
    for name in os.listdir(tmp):
        if not name.startswith(family):
            continue
        try:
            owner = int(name.rsplit(".", 1)[1])
        except ValueError:
            # pre-pid-keyed layout: no live process can own it
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
            continue
        if owner == os.getpid():
            continue
        try:
            os.kill(owner, 0)  # liveness probe only, no signal sent
        except ProcessLookupError:
            shutil.rmtree(os.path.join(tmp, name), ignore_errors=True)
        except OSError:
            pass  # e.g. EPERM: pid exists but isn't ours — leave it
    return os.path.join(tmp, f"{prefix}.{os.getpid()}")





@query("arrow_ipc_record_tally", oracle=_arrow_tally_oracle())
def arrow_ipc_record_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category tally THROUGH the ``format("arrowipc")``
    DataSource — drives the Arrow IPC ingestion path end-to-end under
    the driver's oracle gate: per-file partitions, pyarrow decode,
    RecordBatches forwarded to the JVM as Arrow buffers (no per-row
    Python), BOTH container layouts (FILE with multiple batches and
    STREAM sniffed by magic), then a plain groupBy. Input is the
    deterministic fixture built at call time (the warc_record_tally
    constant-oracle pattern); parquet fixtures play no role by design.

    Scale shape: one task per Arrow file streaming its own batches —
    feature-store exports ship as many moderate files, so file count
    is the parallelism unit; only the kilobyte tally shuffles."""
    from ..sources import register_arrow_ipc

    path = arrow_fixture_dir()
    register_arrow_ipc(spark)
    df = spark.read.format("arrowipc").load(path)
    return (
        df.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("v").alias("total_v"),
        )
        .orderBy("category")
    )


@query(
    "arrow_ipc_roundtrip_tally",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def arrow_ipc_roundtrip_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITER gate for the Arrow IPC sink: export the documents
    table's (lang, n_chars) projection with
    ``df.write.format("arrowipc")`` (staged-rename commit, one IPC
    FILE container per partition), read the export back through the
    same source, and tally — the oracle computes the identical tally
    from the parquet directly, so any row lost, duplicated or
    corrupted by the write/read cycle fails the value hash. Exercises
    the export path a training pipeline uses to hand curated data to
    Arrow-native dataloaders.

    Scale shape: the export is one narrow projection written
    partition-parallel (no shuffle), the read-back is one partition
    per exported file; only the per-lang tally shuffles."""
    from ..sources import register_arrow_ipc

    register_arrow_ipc(spark)
    d = _t(spark, sf_dir, "documents").select("lang", "n_chars")
    out = _pid_keyed_export_dir("hds_arrow_roundtrip.", sf_dir)
    d.write.format("arrowipc").mode("overwrite").save(out)
    back = spark.read.format("arrowipc").load(out)
    return (
        back.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# TFRecord source gates (r13): framing/CRC tally + writer round-trip.
# ---------------------------------------------------------------------------

#: (file name, records) where each record is (category, payload body
#: length, crc_good). Payload text is f"{category}:{'x' * body_len}".
#: One record per fixture carries a deliberately corrupted payload CRC
#: so the crc_ok=false path is under the oracle gate too.
_TFR_FIXTURE_SPEC = (
    (
        "shard-00000.tfrecord",
        (
            ("img", 7, True),
            ("txt", 3, True),
            ("img", 19, True),
            ("aud", 0, True),
            ("txt", 64, False),
        ),
    ),
    (
        "shard-00001.tfrecord",
        (
            ("vid", 11, True),
            ("txt", 5, True),
            ("img", 2, True),
        ),
    ),
)


def _tfr_payload(cat: str, body_len: int) -> bytes:
    return f"{cat}:{'x' * body_len}".encode()


def tfrecord_fixture_dir() -> str:
    """Build (once per content hash) the deterministic TFRecord
    fixture directory — staging + atomic rename, the WARC/Arrow
    fixture discipline."""
    import hashlib
    import struct
    import tempfile

    from ..sources.tfrecord_source import masked_crc, write_record

    digest = hashlib.md5(repr(_TFR_FIXTURE_SPEC).encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"hds_tfr_fixture.{digest}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        staging = f"{out}.build.{os.getpid()}"
        os.makedirs(staging, exist_ok=True)
        for fname, records in _TFR_FIXTURE_SPEC:
            with open(os.path.join(staging, fname), "wb") as f:
                for cat, body_len, good in records:
                    payload = _tfr_payload(cat, body_len)
                    if good:
                        write_record(f, payload)
                    else:
                        header = struct.pack("<Q", len(payload))
                        f.write(header)
                        f.write(struct.pack("<I", masked_crc(header)))
                        f.write(payload)
                        f.write(
                            struct.pack(
                                "<I", masked_crc(payload) ^ 0x1
                            )
                        )
        with open(os.path.join(staging, "_DONE"), "w") as f:
            f.write("ok")
        try:
            os.rename(staging, out)
        except OSError:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    return out


def _tfr_tally_oracle() -> str:
    agg: dict[str, list[int]] = {}
    for _fname, records in _TFR_FIXTURE_SPEC:
        for cat, body_len, good in records:
            row = agg.setdefault(cat, [0, 0, 0])
            row[0] += 1
            row[1] += len(_tfr_payload(cat, body_len))
            row[2] += int(good)
    values = ", ".join(
        f"('{c}', CAST({n} AS BIGINT), CAST({b} AS BIGINT), "
        f"CAST({ok} AS BIGINT))"
        for c, (n, b, ok) in sorted(agg.items())
    )
    return f"""
    SELECT * FROM (VALUES {values})
        AS t(category, n_records, total_payload_bytes, n_crc_ok)
    ORDER BY category
    """


@query("tfrecord_record_tally", oracle=_tfr_tally_oracle())
def tfrecord_record_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-category tally THROUGH the ``format("tfrecord")``
    DataSource — drives TFRecord ingestion end-to-end under the
    driver's oracle gate: per-file partitions, length-delimited
    framing, masked-CRC32C validation (one fixture record carries a
    deliberately corrupted payload CRC, so the crc_ok=false leg is
    asserted too, not just the happy path), Arrow-batched rows to the
    JVM, then a plain groupBy over the category parsed from the
    payload. Input is the deterministic fixture built at call time
    (the warc/arrow constant-oracle pattern).

    Scale shape: one task per shard streaming its own records —
    TFRecord datasets ship as many uniform shards, so file count is
    the parallelism unit; only the per-category tally shuffles. CRC
    validation is the pure-Python slow path and is OFF by option at
    100 TB (structural framing still enforced)."""
    from ..sources import register_tfrecord

    path = tfrecord_fixture_dir()
    register_tfrecord(spark)
    df = spark.read.format("tfrecord").load(path)
    cat = F.substring_index(F.decode("payload", "utf-8"), ":", 1)
    return (
        df.select(cat.alias("category"), "length", "crc_ok")
        .groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_records"),
            F.sum("length").alias("total_payload_bytes"),
            F.sum(F.col("crc_ok").cast("long")).alias("n_crc_ok"),
        )
        .orderBy("category")
    )


@query(
    "tfrecord_roundtrip_tally",
    oracle="""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(strlen(text)) AS BIGINT) AS total_text_bytes
    FROM documents GROUP BY lang ORDER BY lang
    """,
)
def tfrecord_roundtrip_tally(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITER gate for the TFRecord sink: export the documents table
    as ``lang\\ttext`` payloads with ``df.write.format("tfrecord")``
    (staged-rename commit, one shard per partition, masked-CRC32C
    framing), read the export back through the same source, and tally
    per-lang doc counts and text BYTE totals — the oracle computes
    the identical tally from the parquet directly (strlen = bytes in
    DuckDB, octet_length in Spark), so any record lost, duplicated,
    re-framed wrong or CRC-corrupted by the write/read cycle fails
    the value hash. Exercises the export path that hands curated
    text to ``tf.data`` consumers.

    Scale shape: partition-parallel export (no shuffle), one task per
    shard on read-back; only the per-lang tally shuffles."""
    from ..sources import register_tfrecord

    register_tfrecord(spark)
    d = _t(spark, sf_dir, "documents")
    payload = F.encode(
        F.concat(F.col("lang"), F.lit("\t"), F.col("text")), "utf-8"
    )
    out = _pid_keyed_export_dir("hds_tfr_roundtrip.", sf_dir)
    d.select(payload.alias("payload")).write.format("tfrecord").mode(
        "overwrite"
    ).save(out)
    back = spark.read.format("tfrecord").load(out)
    decoded = F.decode("payload", "utf-8")
    lang = F.substring_index(decoded, "\t", 1)
    return (
        back.select(
            lang.alias("lang"),
            (
                F.col("length") - F.octet_length(lang) - F.lit(1)
            ).alias("text_bytes"),
            "crc_ok",
        )
        .filter(F.col("crc_ok"))  # corrupt records must not tally
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("text_bytes").alias("total_text_bytes"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# tf.train.Example decode gate (r13): wire-format codec, no protobuf.
# ---------------------------------------------------------------------------

#: (file, records); each record = (category, ids, scores, encoding)
#: where encoding is "packed" (our encoder), "unpacked" (the legacy
#: per-element repeated encoding some writers emit), or
#: "unknown_field" (packed + an unknown top-level field the decoder
#: must skip). Scores are exact in float32 so cross-engine sums carry
#: zero rounding drift.
_TFEX_FIXTURE_SPEC = (
    (
        "examples-00000.tfrecord",
        (
            ("img", (1, 2, 3), (0.5, 1.25), "packed"),
            ("txt", (10, -4), (2.0,), "packed"),
            ("img", (7,), (0.75, 0.25, 1.5), "unpacked"),
            ("aud", (2**40, -(2**40)), (4.5,), "unknown_field"),
        ),
    ),
    (
        "examples-00001.tfrecord",
        (
            ("txt", (5, 5, 5), (0.125,), "packed"),
            ("img", (0,), (3.25, 0.5), "unpacked"),
        ),
    ),
)


def _tfex_payload(cat: str, ids, scores, encoding: str) -> bytes:
    from ..sources.tf_example import (
        _I32,
        _LEN,
        _VARINT,
        _tag,
        _write_len_field,
        _write_varint,
        encode_example,
    )

    if encoding in ("packed", "unknown_field"):
        buf = encode_example(
            {"cat": [cat.encode()], "ids": list(ids), "score": list(scores)}
        )
        if encoding == "unknown_field":
            extra = bytearray()
            _write_varint(extra, _tag(99, _VARINT))
            _write_varint(extra, 12345)
            buf += bytes(extra)
        return buf
    # unpacked: per-element repeated encodings (legacy writers)
    import struct as _struct

    def feature(kind_field: int, body: bytes) -> bytes:
        f = bytearray()
        _write_len_field(f, kind_field, body)
        return bytes(f)

    ids_body = bytearray()
    for v in ids:
        _write_varint(ids_body, _tag(1, _VARINT))
        _write_varint(ids_body, v)
    sc_body = bytearray()
    for s in scores:
        _write_varint(sc_body, _tag(1, _I32))
        sc_body.extend(_struct.pack("<f", s))
    cat_body = bytearray()
    _write_len_field(cat_body, 1, cat.encode())
    feats = bytearray()
    for name, feat in (
        ("cat", feature(1, bytes(cat_body))),
        ("ids", feature(3, bytes(ids_body))),
        ("score", feature(2, bytes(sc_body))),
    ):
        entry = bytearray()
        _write_len_field(entry, 1, name.encode())
        _write_len_field(entry, 2, feat)
        _write_len_field(feats, 1, bytes(entry))
    out = bytearray()
    _write_len_field(out, 1, bytes(feats))
    return bytes(out)


def tfexample_fixture_dir() -> str:
    """Build (once per content hash) the Example-payload TFRecord
    fixture — staging + atomic rename."""
    import hashlib
    import tempfile

    from ..sources.tfrecord_source import write_record

    digest = hashlib.md5(repr(_TFEX_FIXTURE_SPEC).encode()).hexdigest()[:10]
    out = os.path.join(tempfile.gettempdir(), f"hds_tfex_fixture.{digest}")
    if not os.path.exists(os.path.join(out, "_DONE")):
        staging = f"{out}.build.{os.getpid()}"
        os.makedirs(staging, exist_ok=True)
        for fname, records in _TFEX_FIXTURE_SPEC:
            with open(os.path.join(staging, fname), "wb") as f:
                for cat, ids, scores, encoding in records:
                    write_record(f, _tfex_payload(cat, ids, scores, encoding))
        with open(os.path.join(staging, "_DONE"), "w") as f:
            f.write("ok")
        try:
            os.rename(staging, out)
        except OSError:
            import shutil

            shutil.rmtree(staging, ignore_errors=True)
    return out


def _tfex_oracle() -> str:
    agg: dict[str, list] = {}
    for _fname, records in _TFEX_FIXTURE_SPEC:
        for cat, ids, scores, _enc in records:
            row = agg.setdefault(cat, [0, 0, 0, 0.0])
            row[0] += 1
            row[1] += len(ids)
            row[2] += sum(ids)
            row[3] += sum(scores)  # float32-exact values: no drift
    values = ", ".join(
        f"('{c}', CAST({n} AS BIGINT), CAST({ni} AS BIGINT), "
        f"CAST({si} AS BIGINT), CAST({ss!r} AS DOUBLE))"
        for c, (n, ni, si, ss) in sorted(agg.items())
    )
    return f"""
    SELECT * FROM (VALUES {values})
        AS t(category, n_examples, n_ids, sum_ids, sum_score)
    ORDER BY category
    """


@query("tfrecord_example_decode_stats", oracle=_tfex_oracle())
def tfrecord_example_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """tf.train.Example DECODE gate: read Example-proto payloads
    through ``format("tfrecord")`` and decode them with the engine's
    own protobuf WIRE-format codec (`sources/tf_example.py` — no
    protobuf runtime; the wire encoding is the published spec), then
    aggregate typed feature stats per category. The fixture pins the
    three tolerance contracts a real decoder needs: PACKED repeated
    scalars (modern writers), UNPACKED per-element encodings (legacy
    writers), and unknown-field skipping (forward compatibility) —
    all three encodings must tally identically or the constant oracle
    fails. Scores are float32-exact values so sums carry no rounding.

    Scale shape: decode runs inside ONE Arrow-batched mapInPandas
    stage over the payload column (per-record Python is the price of
    a Python wire codec — batched transfer keeps it off the row-at-a-
    time path), one task per shard; only the per-category tally
    shuffles."""
    import pandas as pd

    from ..sources import register_tfrecord
    from ..sources.tf_example import decode_example

    register_tfrecord(spark)
    path = tfexample_fixture_dir()
    raw = spark.read.format("tfrecord").load(path).select("payload")

    def decode(batches):
        for pdf in batches:
            rows = []
            for payload in pdf["payload"]:
                ex = decode_example(bytes(payload))
                cat = ex["cat"][1][0].decode()
                ids = ex["ids"][1]
                scores = ex["score"][1]
                rows.append((cat, len(ids), sum(ids), float(sum(scores))))
            yield pd.DataFrame(
                rows, columns=["category", "n_ids", "sum_ids", "sum_score"]
            )

    decoded = raw.mapInPandas(
        decode,
        "category string, n_ids long, sum_ids long, sum_score double",
    )
    return (
        decoded.groupBy("category")
        .agg(
            F.count(F.lit(1)).alias("n_examples"),
            F.sum("n_ids").alias("n_ids"),
            F.sum("sum_ids").alias("sum_ids"),
            F.sum("sum_score").alias("sum_score"),
        )
        .orderBy("category")
    )
