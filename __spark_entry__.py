"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash).

The implementations live in ``heapdumpstardiver_spark`` (see
SURVEY.md §2 for the operator inventory each entry maps to).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

import heapdumpstardiver_spark as hds


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return hds.QUERIES["pricing_summary"](spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    return dict(hds.QUERIES)


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL twin for each query (same column names/types)."""
    return dict(hds.ORACLE_SQL)
