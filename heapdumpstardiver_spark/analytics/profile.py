"""Heap profiling queries — the reference's summary/top-types/category/
byte-distribution surface (analyze_heap_parquet.py:162-247), as PySpark
pipelines over a :class:`~heapdumpstardiver_spark.catalog.Warehouse`
holding the robo-mode heap layout (SURVEY.md §1.3).

All of these are single-shuffle groupBy/top-k plans; none collects more
than the (small) result to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..catalog import Warehouse


def run_summary(wh: Warehouse) -> DataFrame:
    """Total objects + unique classes from `_object_index`
    (analyze_heap_parquet.py:160-173)."""
    oi = wh.table("_object_index")
    return oi.agg(
        F.count(F.lit(1)).alias("total_objects"),
        F.countDistinct("type_name").alias("unique_classes"),
    )


def run_top_types(wh: Warehouse, limit: int = 30) -> DataFrame:
    """Top types by object count (analyze_heap_parquet.py:177-185).
    Executes as partial-agg + TakeOrdered; no global sort."""
    oi = wh.table("_object_index")
    return (
        oi.groupBy("type_name")
        .agg(F.count(F.lit(1)).alias("obj_count"))
        .orderBy(F.desc("obj_count"), "type_name")
        .limit(limit)
    )


def run_category_breakdown(wh: Warehouse) -> DataFrame:
    """Namespace categorizer via LIKE chains
    (analyze_heap_parquet.py:188-207)."""
    oi = wh.table("_object_index")
    t = F.col("type_name")
    category = (
        F.when(t.like("%kafka%") | t.like("%Kafka%"), "Kafka")
        .when(t.like("%MBean%") | t.like("%javax.management%") | t.like("%jmx%"), "JMX/MBeans")
        .when(t.like("%netty%") | t.like("%Netty%"), "Netty")
        .when(t.like("%rocksdb%") | t.like("%RocksDB%"), "RocksDB")
        .when(t.like("%grpc%") | t.like("%Grpc%"), "gRPC")
        .when(t.like("%guava%") | t.like("%google.common%"), "Guava")
        .when(t.like("java.%") | t.like("sun.%") | t.like("jdk.%"), "JDK")
        .otherwise("Other")
    )
    return (
        oi.groupBy(category.alias("category"))
        .agg(F.count(F.lit(1)).alias("obj_count"))
        .orderBy(F.desc("obj_count"), "category")
    )


def run_byte_array_distribution(wh: Warehouse) -> DataFrame:
    """Byte-array size histogram with MB sums
    (analyze_heap_parquet.py:210-229)."""
    b = wh.table("_primitive_arrays_byte")
    n = F.size("values")
    bucket = (
        F.when(n < 100, "0-99")
        .when(n < 1000, "100-999")
        .when(n < 10000, "1K-10K")
        .when(n < 100000, "10K-100K")
        .otherwise("100K+")
    )
    return (
        b.groupBy(bucket.alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("count"),
            F.round(F.sum(n) / 1048576.0, 2).alias("total_mb"),
        )
        .orderBy(F.desc("total_mb"), "bucket")
    )


def run_large_byte_arrays(wh: Warehouse, min_bytes: int = 102400, limit: int = 20) -> DataFrame:
    """Top large byte arrays >100KB (analyze_heap_parquet.py:232-247)."""
    b = wh.table("_primitive_arrays_byte")
    n = F.size("values")
    return (
        b.select(
            "obj_id",
            n.alias("size_bytes"),
            F.round(n / 1024.0, 1).alias("size_kb"),
        )
        .filter(F.col("size_bytes") > min_bytes)
        .orderBy(F.desc("size_bytes"), "obj_id")
        .limit(limit)
    )
