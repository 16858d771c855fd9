"""The 13 waste-detection checks, re-expressed as PySpark pipelines.

Each check reproduces the semantics of its counterpart in the reference
analysis library (citations per-check into
/root/reference/scripts/analyze_heap_parquet.py), operating on a
:class:`~heapdumpstardiver_spark.catalog.Warehouse` with the robo-mode
heap layout (bare BIGINT refs + `_object_index`, SURVEY.md §1.3).

Spark-first design notes:
- every check is one or two DataFrame jobs that aggregate down to a
  handful of rows before ``collect()`` — no driver-side iteration over
  data;
- content hashing uses a canonical comma-joined form
  (``md5(concat_ws(',', values))``) — fixed-width group keys so the
  dedup shuffles never carry array payloads;
- the String ⋈ byte[] join and the collection-sizing joins are
  key-equi joins that AQE plans as shuffle or broadcast depending on
  actual sizes; at 100 TB both sides shuffle on obj_id and the
  optional Bernoulli sample (``sample_fraction``) bounds cost the same
  way the reference's USING SAMPLE does.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..catalog import Warehouse
from ..ingest.hprof import PRIM_WIDTHS
from .findings import (
    ARRAY_HEADER,
    ARRAYLIST_SHELL_SIZE,
    CHM_NODE_SIZE,
    CHM_SHELL_SIZE,
    HASHMAP_ENTRY_SIZE,
    HASHMAP_SHELL_SIZE,
    LINKEDLIST_NODE_SIZE,
    LINKEDLIST_SHELL_SIZE,
    OBJECT_HEADER,
    REF_SIZE,
    STRING_OBJ_OVERHEAD,
    TREEMAP_ENTRY_SIZE,
    TREEMAP_SHELL_SIZE,
    WasteFinding,
    classify_severity,
    format_bytes,
)


# Auto-sampling rule for the duplicate-strings scan, mirroring the
# reference's "sample 20% above 5M strings" heuristic
# (analyze_heap_parquet.py:264-274): when the caller passes no explicit
# sample_fraction and the String table exceeds AUTO_SAMPLE_ROWS rows,
# a seeded Bernoulli sample engages and results are scaled up.
AUTO_SAMPLE_ROWS = 5_000_000
AUTO_SAMPLE_FRACTION = 0.20


def _table(wh: Warehouse, name: str) -> Optional[DataFrame]:
    try:
        return wh.table(name)
    except KeyError:
        return None


def _rows(wh: Warehouse, name: str) -> int:
    """Footer row count of a table (no Spark job); 0 when it is absent."""
    try:
        return wh.row_count(name)
    except KeyError:
        return 0


def _content_hash(col: str | Column) -> Column:
    """Canonical content hash of an array column: md5 over the
    comma-joined decimal rendering. Equivalent role to the reference's
    ``md5(CAST(list AS VARCHAR))`` (analyze_heap_parquet.py:278) with a
    canonical form both Spark and DuckDB can reproduce
    (``md5(array_to_string(values, ','))``). At 100 TB, swap md5 for
    xxhash64 — same plan shape, cheaper hash."""
    c = F.col(col) if isinstance(col, str) else col
    return F.md5(F.concat_ws(",", c.cast("array<string>")))


# ---------------------------------------------------------------------------
# Tier 1
# ---------------------------------------------------------------------------


def check_duplicate_strings(
    wh: Warehouse, sample_fraction: float | None = None
) -> Optional[WasteFinding]:
    """Duplicate Strings: String.value → byte[] join, content-hash
    grouping, HAVING > 1, waste rollup + top-10 weighted sub-findings
    (analyze_heap_parquet.py:255-342)."""
    strings = _table(wh, "java.lang.String")
    bytes_t = _table(wh, "_primitive_arrays_byte")
    if strings is None or bytes_t is None:
        return None

    scale = 1.0
    s = strings.select("obj_id", F.col("value").alias("byte_id"))
    if sample_fraction is None and wh.row_count("java.lang.String") > AUTO_SAMPLE_ROWS:
        sample_fraction = AUTO_SAMPLE_FRACTION  # reference's >5M rule
    if sample_fraction is not None and sample_fraction < 1.0:
        s = s.sample(fraction=sample_fraction, seed=42)
        scale = 1.0 / sample_fraction

    b = bytes_t.filter(F.col("obj_id") != 0).select(
        F.col("obj_id").alias("byte_id"),
        _content_hash("values").alias("hash"),
        F.size("values").alias("str_len"),
        F.element_at("values", 1).alias("first_byte"),
    )
    joined = s.join(b, "byte_id")
    dups = (
        joined.groupBy("hash")
        .agg(
            F.count(F.lit(1)).alias("dup_count"),
            F.min("str_len").alias("str_len"),
        )
        .filter(F.col("dup_count") > 1)
    )
    roll = dups.agg(
        F.sum("dup_count").alias("total_dups"),
        F.sum((F.col("dup_count") - 1) * F.col("str_len")).alias("wasted"),
        F.count(F.lit(1)).alias("unique_vals"),
        F.max("dup_count").alias("max_dups"),
        F.max("str_len").alias("max_len"),
    ).collect()[0]
    if roll["total_dups"] is None:
        return None

    total_dups = int((roll["total_dups"] or 0) * scale)
    wasted = int((roll["wasted"] or 0) * scale)
    unique_vals = int((roll["unique_vals"] or 0) * scale)
    wasted_total = wasted + (total_dups - unique_vals) * STRING_OBJ_OVERHEAD

    top = (
        dups.orderBy((F.col("dup_count") * F.col("str_len")).desc(), "hash")
        .limit(10)
        .collect()
    )
    sub = [
        f"  hash={r['hash'][:8]}... count={r['dup_count']:,} len={r['str_len']} "
        f"waste={format_bytes(r['dup_count'] * r['str_len'])}"
        for r in top
    ]

    details = f"{total_dups:,} duplicate strings across {unique_vals:,} unique values"
    if roll["max_dups"]:
        details += f" (worst: {int(roll['max_dups'] * scale):,} copies)"
    if scale != 1.0:
        details += f" [sampled {sample_fraction:.0%}, scaled]"

    return WasteFinding(
        check_name="Duplicate Strings",
        tier=1,
        severity=classify_severity(wasted_total),
        affected_count=total_dups,
        estimated_waste_bytes=wasted_total,
        details=details,
        recommendation=(
            "Intern frequently duplicated strings or use a string deduplication "
            "agent (-XX:+UseStringDeduplication with G1)"
        ),
        sub_findings=sub,
    )


# (class table, size column, empty-waste, single-waste) per collection type
# — constants per analyze_heap_parquet.py:345-457.
_COLLECTION_SPECS = [
    (
        "java.util.HashMap",
        "size",
        HASHMAP_SHELL_SIZE + ARRAY_HEADER + 16 * REF_SIZE,
        HASHMAP_SHELL_SIZE + ARRAY_HEADER + 16 * REF_SIZE + HASHMAP_ENTRY_SIZE - 2 * REF_SIZE,
    ),
    (
        "java.util.ArrayList",
        "size",
        ARRAYLIST_SHELL_SIZE + ARRAY_HEADER + 10 * REF_SIZE,
        ARRAYLIST_SHELL_SIZE + ARRAY_HEADER + 10 * REF_SIZE - REF_SIZE,
    ),
    (
        "java.util.LinkedList",
        "size",
        LINKEDLIST_SHELL_SIZE,
        LINKEDLIST_SHELL_SIZE + LINKEDLIST_NODE_SIZE - REF_SIZE,
    ),
    (
        "java.util.TreeMap",
        "size",
        TREEMAP_SHELL_SIZE,
        TREEMAP_SHELL_SIZE + TREEMAP_ENTRY_SIZE - 2 * REF_SIZE,
    ),
    (
        "java.util.concurrent.ConcurrentHashMap",
        "baseCount",  # baseCount is the CHM size proxy (analyze_heap_parquet.py:416-429)
        CHM_SHELL_SIZE + ARRAY_HEADER + 16 * REF_SIZE,
        CHM_SHELL_SIZE + ARRAY_HEADER + 16 * REF_SIZE + CHM_NODE_SIZE - 2 * REF_SIZE,
    ),
]


def check_bad_collections(wh: Warehouse) -> Optional[WasteFinding]:
    """Bad Collections: empty/single-element counts per collection class
    with per-class waste constants (analyze_heap_parquet.py:345-457)."""
    per_class = []
    for name, size_col, empty_waste, single_waste in _COLLECTION_SPECS:
        t = _table(wh, name)
        if t is None:
            continue
        row = t.filter(F.col(size_col) <= 1).agg(
            F.count(F.when(F.col(size_col) == 0, 1)).alias("empty"),
            F.count(F.when(F.col(size_col) == 1, 1)).alias("single"),
        ).collect()[0]
        empty, single = row["empty"], row["single"]
        if empty + single > 0:
            waste = empty * empty_waste + single * single_waste
            per_class.append((name.rsplit(".", 1)[-1], empty, single, waste))

    if not per_class:
        return None
    total_empty = sum(p[1] for p in per_class)
    total_single = sum(p[2] for p in per_class)
    total_waste = sum(p[3] for p in per_class)
    sub = []
    for name, empty, single, waste in per_class:
        parts = ([f"{empty:,} empty"] if empty else []) + (
            [f"{single:,} single-element"] if single else []
        )
        sub.append(f"  {name}: {', '.join(parts)} ({format_bytes(waste)})")

    return WasteFinding(
        check_name="Bad Collections (empty/single-element)",
        tier=1,
        severity=classify_severity(total_waste),
        affected_count=total_empty + total_single,
        estimated_waste_bytes=total_waste,
        details=f"{total_empty:,} empty + {total_single:,} single-element collections",
        recommendation=(
            "Replace empty collections with Collections.emptyMap/List/Set(); "
            "single-element with Collections.singletonMap/List/Set() or direct fields"
        ),
        sub_findings=sub,
    )


def check_bad_object_arrays(wh: Warehouse) -> Optional[WasteFinding]:
    """Bad Object Arrays: zero-length / all-null / single-element /
    sparse(>70% null, len>3) classifier (analyze_heap_parquet.py:460-523).
    Null refs are id=0 (the non-nullable zero-sentinel, SURVEY §1.2)."""
    oa = _table(wh, "_object_arrays")
    if oa is None:
        return None
    n = F.size("elements")
    nulls = F.size(F.filter("elements", lambda x: x == 0))
    pattern = (
        F.when(n == 0, "zero_length")
        .when(nulls == n, "all_null")
        .when(n == 1, "single_element")
        .when((n > 3) & (nulls.cast("double") / n > 0.7), "sparse")
    )
    rows = (
        oa.select(pattern.alias("pattern"), n.alias("n"))
        .filter(F.col("pattern").isNotNull())
        .groupBy("pattern")
        .agg(F.count(F.lit(1)).alias("count"), F.sum("n").alias("total_slots"))
        .collect()
    )
    if not rows:
        return None

    total_count = 0
    total_waste = 0
    sub = []
    for r in rows:
        cnt, slots = r["count"], r["total_slots"] or 0
        total_count += cnt
        if r["pattern"] == "zero_length":
            waste = cnt * ARRAY_HEADER
            sub.append(f"  Zero-length: {cnt:,} arrays ({format_bytes(waste)})")
        elif r["pattern"] == "all_null":
            waste = cnt * ARRAY_HEADER + slots * REF_SIZE
            sub.append(f"  All-null: {cnt:,} arrays, {slots:,} null slots ({format_bytes(waste)})")
        elif r["pattern"] == "single_element":
            waste = cnt * (ARRAY_HEADER - REF_SIZE)
            sub.append(f"  Single-element: {cnt:,} arrays ({format_bytes(waste)})")
        else:  # sparse: ~70% of slots are null by threshold
            waste = int(slots * 0.7) * REF_SIZE
            sub.append(f"  Sparse (>70% null): {cnt:,} arrays ({format_bytes(waste)})")
        total_waste += waste

    return WasteFinding(
        check_name="Bad Object Arrays",
        tier=1,
        severity=classify_severity(total_waste),
        affected_count=total_count,
        estimated_waste_bytes=total_waste,
        details=f"{total_count:,} wasteful object arrays",
        recommendation=(
            "Use empty array constants (EMPTY_ARRAY), replace single-element "
            "arrays with direct references, compact sparse arrays"
        ),
        sub_findings=sub,
    )


def check_bad_primitive_arrays(wh: Warehouse) -> Optional[WasteFinding]:
    """Bad Primitive Arrays: zero-length / single / all-zero across all 8
    element types (analyze_heap_parquet.py:526-590). The 8 per-type scans
    are unioned into one Spark job instead of 8 sequential queries."""
    per_type: list[DataFrame] = []
    for ptype, elem_size in PRIM_WIDTHS.items():
        t = _table(wh, f"_primitive_arrays_{ptype}")
        if t is None:
            continue
        n = F.size("values")
        # boolean arrays: all-zero means all-false. exists()
        # short-circuits at the first non-zero element (r13) — the
        # filter-then-size form scanned every element of every array.
        zero_val = F.lit(False) if ptype == "boolean" else F.lit(0)
        all_zero = (n > 1) & ~F.exists("values", lambda x: x != zero_val)
        pattern = (
            F.when(n == 0, "zero_length").when(n == 1, "single").when(all_zero, "all_zero")
        )
        per_type.append(
            t.select(
                F.lit(ptype).alias("ptype"),
                pattern.alias("pattern"),
                (n * elem_size).alias("data_bytes"),
            ).filter(F.col("pattern").isNotNull())
        )
    if not per_type:
        return None
    unioned = per_type[0]
    for t in per_type[1:]:
        unioned = unioned.unionByName(t)
    rows = (
        unioned.groupBy("ptype", "pattern")
        .agg(F.count(F.lit(1)).alias("count"), F.sum("data_bytes").alias("data_bytes"))
        .collect()
    )

    by_type: dict[str, tuple[int, int]] = {}
    for r in rows:
        cnt, data = r["count"], r["data_bytes"] or 0
        elem = PRIM_WIDTHS[r["ptype"]]
        if r["pattern"] == "zero_length":
            waste = cnt * ARRAY_HEADER
        elif r["pattern"] == "all_zero":
            waste = data + cnt * ARRAY_HEADER
        else:  # single
            waste = cnt * (ARRAY_HEADER - elem)
        c0, w0 = by_type.get(r["ptype"], (0, 0))
        by_type[r["ptype"]] = (c0 + cnt, w0 + waste)

    if not by_type:
        return None
    total_count = sum(c for c, _ in by_type.values())
    total_waste = sum(w for _, w in by_type.values())
    sub = [
        f"  {ptype}[]: {cnt:,} wasteful ({format_bytes(waste)})"
        for ptype, (cnt, waste) in sorted(by_type.items())
    ]
    return WasteFinding(
        check_name="Bad Primitive Arrays",
        tier=1,
        severity=classify_severity(total_waste),
        affected_count=total_count,
        estimated_waste_bytes=total_waste,
        details=f"{total_count:,} wasteful primitive arrays (zero-length, single, all-zero)",
        recommendation=(
            "Replace zero-length with shared constants, avoid single-element arrays "
            "where a scalar field suffices, check all-zero arrays for uninitialized buffers"
        ),
        sub_findings=sub,
    )


_WRAPPERS = (
    "java.lang.Integer",
    "java.lang.Long",
    "java.lang.Short",
    "java.lang.Byte",
    "java.lang.Float",
    "java.lang.Double",
    "java.lang.Boolean",
    "java.lang.Character",
)


def check_boxed_numbers(wh: Warehouse) -> Optional[WasteFinding]:
    """Boxed Primitives: instance counts × 16-byte header overhead
    (analyze_heap_parquet.py:593-641)."""
    total_count = 0
    total_waste = 0
    sub = []
    for wtype in _WRAPPERS:
        cnt = _rows(wh, wtype)
        if cnt == 0:
            continue
        waste = cnt * OBJECT_HEADER
        total_count += cnt
        total_waste += waste
        sub.append(f"  {wtype.rsplit('.', 1)[-1]}: {cnt:,} ({format_bytes(waste)})")
    if total_count == 0:
        return None
    return WasteFinding(
        check_name="Boxed Primitives",
        tier=1,
        severity=classify_severity(total_waste),
        affected_count=total_count,
        estimated_waste_bytes=total_waste,
        details=f"{total_count:,} boxed primitives (16-byte overhead each vs raw primitive)",
        recommendation=(
            "Use primitive types directly, IntArrayList/LongArrayList from "
            "fastutil/Eclipse Collections instead of List<Integer>/List<Long>"
        ),
        sub_findings=sub,
    )


# ---------------------------------------------------------------------------
# Tier 2
# ---------------------------------------------------------------------------


def check_collection_sizing(wh: Warehouse) -> Optional[WasteFinding]:
    """Collection Sizing: HashMaps <33% utilized (≥16 slots) and
    ArrayLists with >2× oversized backing arrays (>8 spare slots)
    (analyze_heap_parquet.py:644-712). Both are id-equi joins against
    `_object_arrays`."""
    oa = _table(wh, "_object_arrays")
    if oa is None:
        return None
    arrays = oa.select(F.col("obj_id").alias("arr_id"), F.size("elements").alias("arr_len"))

    total_count = 0
    total_waste = 0
    sub = []

    hm = _table(wh, "java.util.HashMap")
    if hm is not None:
        cand = hm.filter((F.col("size") >= 2) & (F.col("table") != 0)).select(
            F.col("size"), F.col("table").alias("arr_id")
        )
        util = F.col("size").cast("double") / F.col("arr_len")
        row = (
            cand.join(arrays, "arr_id")
            .filter((F.col("arr_len") >= 16) & (util < 0.33))
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.sum(F.col("arr_len") * REF_SIZE).alias("wasted"),
                F.avg(util).alias("avg_util"),
            )
            .collect()[0]
        )
        if row["count"]:
            total_count += row["count"]
            total_waste += int(row["wasted"] or 0)
            sub.append(
                f"  Sparse HashMaps (<33% full, >=16 slots): {row['count']:,} "
                f"(avg util: {row['avg_util']:.1%}, wasted slots: "
                f"{format_bytes(int(row['wasted'] or 0))})"
            )

    al = _table(wh, "java.util.ArrayList")
    if al is not None:
        cand = al.filter((F.col("size") >= 1) & (F.col("elementData") != 0)).select(
            F.col("size"), F.col("elementData").alias("arr_id")
        )
        row = (
            cand.join(arrays, "arr_id")
            .filter(
                (F.col("arr_len") > F.col("size") * 2)
                & (F.col("arr_len") - F.col("size") > 8)
            )
            .agg(
                F.count(F.lit(1)).alias("count"),
                F.sum((F.col("arr_len") - F.col("size")) * REF_SIZE).alias("wasted"),
            )
            .collect()[0]
        )
        if row["count"]:
            total_count += row["count"]
            total_waste += int(row["wasted"] or 0)
            sub.append(
                f"  Oversized ArrayList backing arrays (>2x needed, >8 spare): "
                f"{row['count']:,} ({format_bytes(int(row['wasted'] or 0))})"
            )

    if total_count == 0:
        return None
    return WasteFinding(
        check_name="Collection Sizing Issues",
        tier=2,
        severity=classify_severity(total_waste),
        affected_count=total_count,
        estimated_waste_bytes=total_waste,
        details=f"{total_count:,} poorly-sized collections",
        recommendation=(
            "Use initial capacity hints: new HashMap<>(expectedSize) or "
            "new ArrayList<>(expectedSize); call trimToSize() after bulk adds"
        ),
        sub_findings=sub,
    )


def _dup_rollup(df: DataFrame, len_col: Column, per_elem_bytes: int) -> Optional[dict]:
    """Shared dedup rollup: content-hash group → HAVING>1 → totals."""
    dups = (
        df.groupBy("hash")
        .agg(F.count(F.lit(1)).alias("dup_count"), F.min(len_col).alias("arr_len"))
        .filter(F.col("dup_count") > 1)
    )
    r = dups.agg(
        F.sum("dup_count").alias("total_dups"),
        F.sum((F.col("dup_count") - 1) * F.col("arr_len") * per_elem_bytes).alias("wasted"),
        F.count(F.lit(1)).alias("unique_vals"),
    ).collect()[0]
    if not r["total_dups"]:
        return None
    return {
        "total_dups": r["total_dups"],
        "wasted": int(r["wasted"] or 0),
        "unique_vals": r["unique_vals"],
    }


def check_duplicate_byte_arrays(wh: Warehouse) -> Optional[WasteFinding]:
    """Duplicate byte[]: content-hash dedup over arrays ≤10KB — the cost
    cap keeps the hash input bounded (analyze_heap_parquet.py:715-761)."""
    b = _table(wh, "_primitive_arrays_byte")
    if b is None:
        return None
    n = F.size("values")
    # r13: group by xxhash64 over the array VALUE — the
    # md5-over-decimal-rendering canonical form materialized ~3.7
    # bytes of string per element before hashing and dominated this
    # check's wall. Only group membership matters here (sub_findings
    # are empty; the DuckDB parity test compares counts). r14
    # The 64-bit hash alone invites birthday
    # collisions at billions of arrays, silently merging distinct
    # arrays into one "duplicate" group — the key is (hash, length),
    # one extra fixed-width column on the same scan (length is O(1)
    # on arrays; the md5 it replaced was 128-bit).
    hashed = b.filter((n > 0) & (n <= 10240)).select(
        F.struct(
            F.xxhash64("values").alias("h"), n.alias("n")
        ).alias("hash"),
        n.alias("arr_len"),
    )
    r = _dup_rollup(hashed, F.col("arr_len"), 1)
    if r is None:
        return None
    wasted_total = r["wasted"] + (r["total_dups"] - r["unique_vals"]) * ARRAY_HEADER
    return WasteFinding(
        check_name="Duplicate byte[] Arrays",
        tier=2,
        severity=classify_severity(wasted_total),
        affected_count=r["total_dups"],
        estimated_waste_bytes=wasted_total,
        details=(
            f"{r['total_dups']:,} duplicate byte arrays across "
            f"{r['unique_vals']:,} unique values (arrays <=10KB)"
        ),
        recommendation=(
            "Cache/intern frequently reused byte arrays; check for serialization "
            "producing identical buffers"
        ),
        sub_findings=[],
    )


def check_class_count(wh: Warehouse) -> Optional[WasteFinding]:
    """Class Count: classloader-leak heuristic on COUNT(DISTINCT
    type_name), thresholds 10K/20K/50K (analyze_heap_parquet.py:764-799)."""
    oi = _table(wh, "_object_index")
    if oi is None:
        return None
    cls_count = oi.agg(F.countDistinct("type_name").alias("c")).collect()[0]["c"]
    if cls_count < 10000:
        return None
    severity = "HIGH" if cls_count > 50000 else ("MEDIUM" if cls_count > 20000 else "INFO")
    return WasteFinding(
        check_name="Class Count / Leak Detection",
        tier=2,
        severity=severity,
        affected_count=cls_count,
        estimated_waste_bytes=cls_count * 8192,
        details=f"{cls_count:,} unique classes loaded",
        recommendation=(
            "If >20K, investigate classloader leaks (hot-deploy, OSGi, "
            "reflection-generated classes). Check for lambda/proxy class proliferation."
        ),
        sub_findings=[],
    )


def check_gc_roots(wh: Warehouse) -> Optional[WasteFinding]:
    """GC Roots breakdown by root_type (analyze_heap_parquet.py:802-837)."""
    roots = _table(wh, "_gc_roots")
    if roots is None:
        return None
    rows = (
        roots.groupBy("root_type")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "root_type")
        .collect()
    )
    if not rows:
        return None
    total = sum(r["count"] for r in rows)
    severity = "MEDIUM" if total > 100000 else ("LOW" if total > 50000 else "INFO")
    return WasteFinding(
        check_name="GC Roots Breakdown",
        tier=2,
        severity=severity,
        affected_count=total,
        estimated_waste_bytes=0,
        details=f"{total:,} GC roots across {len(rows)} root types",
        recommendation=(
            "High JavaStackFrame roots may indicate thread bloat. High JNI roots "
            "may indicate native resource leaks."
        ),
        sub_findings=[f"  {r['root_type']}: {r['count']:,}" for r in rows],
    )


def check_direct_byte_buffers(wh: Warehouse) -> Optional[WasteFinding]:
    """DirectByteBuffer off-heap: conditional aggregates over
    capacity/position/limit — `limit` is a reserved word, accessed with
    backticks (analyze_heap_parquet.py:840-888, B9)."""
    dbb = _table(wh, "java.nio.DirectByteBuffer")
    if dbb is None:
        return None
    untouched = F.when(
        (F.col("position") == 0) & (F.col("`limit`") == F.col("capacity")),
        F.col("capacity"),
    ).otherwise(0)
    r = dbb.agg(
        F.count(F.lit(1)).alias("count"),
        F.sum("capacity").alias("total_cap"),
        F.sum(untouched).alias("untouched"),
        F.count(F.when(F.col("capacity") == 0, 1)).alias("empty"),
        F.max("capacity").alias("max_cap"),
        F.avg("capacity").alias("avg_cap"),
    ).collect()[0]
    if not r["count"]:
        return None
    total_cap = int(r["total_cap"] or 0)
    waste = (r["empty"] or 0) * 64 + int(r["untouched"] or 0)
    sub = [
        f"  Total buffers: {r['count']:,}",
        f"  Total capacity: {format_bytes(total_cap)} (off-heap)",
        f"  Empty buffers: {r['empty'] or 0:,}",
        f"  Max single buffer: {format_bytes(int(r['max_cap'] or 0))}",
        f"  Avg buffer size: {format_bytes(int(r['avg_cap'] or 0))}",
    ]
    return WasteFinding(
        check_name="DirectByteBuffer Off-Heap",
        tier=2,
        severity=classify_severity(total_cap) if total_cap > 10 * 1024 * 1024 else "INFO",
        affected_count=r["count"],
        estimated_waste_bytes=waste,
        details=(
            f"{r['count']:,} DirectByteBuffers, {format_bytes(total_cap)} "
            f"total off-heap capacity"
        ),
        recommendation=(
            "Release unused DirectByteBuffers explicitly (sun.misc.Cleaner). "
            "Consider pooling for short-lived buffers."
        ),
        sub_findings=sub,
    )


_THREAD_FLAGS = [
    (0x0001, "ALIVE"),
    (0x0002, "TERMINATED"),
    (0x0004, "RUNNABLE"),
    (0x0010, "WAITING"),
    (0x0020, "TIMED_WAITING"),
    (0x0080, "SLEEPING"),
    (0x0100, "IN_OBJECT_WAIT"),
    (0x0200, "PARKED"),
    (0x0400, "BLOCKED"),
]


def check_thread_stacks(wh: Warehouse) -> Optional[WasteFinding]:
    """Thread Stacks: threadStatus bitmask breakdown, stack-depth buckets,
    thread-pool frame hunt (analyze_heap_parquet.py:972-1097). The
    bitmask decode is done engine-side with bitwiseAND (the reference
    post-processes in Python)."""
    trace_count = _rows(wh, "_stack_traces")
    if trace_count == 0:
        return None
    traces = wh.table("_stack_traces")

    threads = _table(wh, "java.lang.Thread")
    alive_count = 0
    total_threads = 0
    status_breakdown: list[tuple[str, int]] = []
    if threads is not None:
        s = F.col("threadStatus")
        state = F.when(s == 0, F.lit("NEW")).otherwise(
            F.concat_ws(
                "|",
                *[F.when(s.bitwiseAND(bit) > 0, name) for bit, name in _THREAD_FLAGS],
            )
        )
        is_alive = (s.bitwiseAND(0x0001) > 0) & (s.bitwiseAND(0x0002) == 0)
        rows = (
            threads.groupBy(
                s.alias("status"), state.alias("state"), is_alive.alias("alive")
            )
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "status")
            .collect()
        )
        for r in rows:
            total_threads += r["cnt"]
            if r["alive"]:
                alive_count += r["cnt"]
            state_str = r["state"] if r["state"] else f"UNKNOWN({r['status']})"
            status_breakdown.append((state_str, r["cnt"]))

    effective = alive_count if alive_count > 0 else trace_count

    sub = []
    if total_threads > 0:
        sub.append(
            f"java.lang.Thread instances: {total_threads:,} (alive: {alive_count:,}, "
            f"terminated: {total_threads - alive_count:,})"
        )
        sub.append(f"HPROF stack trace records: {trace_count:,}")
        sub.append("Thread status breakdown:")
        sub.extend(f"  {cnt:>6}  {state}" for state, cnt in status_breakdown)
    else:
        sub.append(f"HPROF stack trace records: {trace_count:,}")

    depth = F.size("frame_ids")
    bucket = (
        F.when(depth == 0, "0 (empty)")
        .when(depth <= 5, "1-5")
        .when(depth <= 20, "6-20")
        .when(depth <= 50, "21-50")
        .otherwise("50+")
    )
    depth_rows = (
        traces.groupBy(bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), "bucket")
        .collect()
    )
    if depth_rows:
        sub.append("Stack depth distribution:")
        sub.extend(f"  {r['bucket']:>12}: {r['cnt']:,}" for r in depth_rows)

    frames = _table(wh, "_stack_frames")
    if frames is not None:
        c = F.col("class_name")
        pool_rows = (
            frames.filter(
                c.like("%Thread%") | c.like("%Pool%") | c.like("%Executor%") | c.like("%Worker%")
            )
            .groupBy("class_name")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .orderBy(F.desc("cnt"), "class_name")
            .limit(10)
            .collect()
        )
        if pool_rows:
            sub.append("Top thread-related classes in frames:")
            sub.extend(f"  {r['cnt']:>6}  {r['class_name']}" for r in pool_rows)

    severity = "INFO"
    if effective > 5000:
        severity = "CRITICAL"
    elif effective > 2000:
        severity = "HIGH"
    elif effective > 1000:
        severity = "MEDIUM"

    details = f"{effective:,} alive threads"
    if total_threads > 0:
        details += (
            f" ({total_threads:,} total Thread instances, "
            f"{total_threads - alive_count:,} terminated)"
        )
    details += ". Classloader leak threshold is typically >1000."

    return WasteFinding(
        check_name="Thread Stacks",
        tier=2,
        severity=severity,
        affected_count=effective,
        estimated_waste_bytes=effective * 512 * 1024,
        details=details,
        recommendation=(
            "High thread counts increase memory overhead (~512KB stack per thread) "
            "and GC pressure. Check for thread pool over-provisioning or unbounded "
            "thread creation."
        ),
        sub_findings=sub,
    )


# ---------------------------------------------------------------------------
# Tier 3
# ---------------------------------------------------------------------------


def check_duplicate_object_arrays(wh: Warehouse) -> Optional[WasteFinding]:
    """Duplicate Object Arrays: content-hash dedup over arrays of 1-100
    elements (analyze_heap_parquet.py:891-934)."""
    oa = _table(wh, "_object_arrays")
    if oa is None:
        return None
    n = F.size("elements")
    hashed = oa.filter(n.between(1, 100)).select(
        _content_hash("elements").alias("hash"), n.alias("arr_len")
    )
    r = _dup_rollup(hashed, F.col("arr_len"), REF_SIZE)
    if r is None:
        return None
    wasted = r["wasted"] + (r["total_dups"] - r["unique_vals"]) * ARRAY_HEADER
    return WasteFinding(
        check_name="Duplicate Object Arrays",
        tier=3,
        severity=classify_severity(wasted),
        affected_count=r["total_dups"],
        estimated_waste_bytes=wasted,
        details=(
            f"{r['total_dups']:,} duplicate object arrays across "
            f"{r['unique_vals']:,} unique values (arrays 1-100 elements)"
        ),
        recommendation="Share immutable arrays or use flyweight pattern for identical element sequences",
        sub_findings=[],
    )


def check_estimated_shallow_size(wh: Warehouse) -> Optional[WasteFinding]:
    """Estimated Shallow Size: top-50 type counts × flat 48-byte model
    (analyze_heap_parquet.py:937-969)."""
    oi = _table(wh, "_object_index")
    if oi is None:
        return None
    rows = (
        oi.groupBy("type_name")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "type_name")
        .limit(50)
        .collect()
    )
    if not rows:
        return None
    avg_obj = OBJECT_HEADER + 32
    total_est = sum(r["count"] * avg_obj for r in rows)
    sub = [
        f"  {r['type_name']}: {r['count']:,} (~{format_bytes(r['count'] * avg_obj)})"
        for r in rows[:15]
    ]
    return WasteFinding(
        check_name="Estimated Shallow Size (top 50 types)",
        tier=3,
        severity="INFO",
        affected_count=sum(r["count"] for r in rows),
        estimated_waste_bytes=0,
        details=(
            f"Top 50 types estimated at ~{format_bytes(total_est)} "
            f"(assuming avg {avg_obj}B per object)"
        ),
        recommendation=(
            "Use -XX:+PrintClassHistogram for exact shallow sizes. "
            "This is an approximation."
        ),
        sub_findings=sub,
    )
