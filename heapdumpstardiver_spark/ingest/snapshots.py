"""Incremental heap-dump snapshots over one Parquet warehouse.

The reference converts one dump to one warehouse per run; an ops/
training pipeline takes dumps repeatedly (before/after a deploy, once
an hour, ...) and asks *what changed*. This module appends each dump
as a Hive-partitioned snapshot (``<table>/snapshot=<id>/part-*``) so:

- one snapshot reads are **partition-pruned** at the scan (zero I/O for
  other snapshots — `tests/test_snapshots.py` asserts PartitionFilters);
- cross-snapshot queries (growth, leak candidates) are plain DataFrame
  ops over the `snapshot` partition column;
- appending snapshot N never rewrites snapshots < N (object-store
  friendly: immutable part files, no compaction needed).

Diff semantics are exact, not sampled: HPROF object ids are addresses,
so "same id present in both" is the standard retained/new/freed
approximation every heap-diff tool uses (address reuse can alias — at
typical dump cadences this is the accepted trade; a content-hash join
is the expensive alternative and stays in the waste checks).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, functions as F

from ..catalog import Warehouse, footer_rows, partition_keys, physical_name
from .convert import ingest_hprof

SNAP_COL = "snapshot"


def append_snapshot(
    spark,
    hprof_path: str,
    warehouse_dir: str,
    snapshot_id: int,
    overwrite: bool = False,
    **ingest_kwargs,
) -> dict:
    """Ingest *hprof_path* as snapshot *snapshot_id* of the warehouse.

    Each table gains a ``snapshot=<id>`` partition directory; existing
    snapshots are untouched. A duplicate id is refused unless
    ``overwrite=True`` (which replaces only that partition).
    """
    snapshot_id = int(snapshot_id)
    return ingest_hprof(
        spark,
        hprof_path,
        warehouse_dir,
        overwrite=overwrite,
        partition=f"{SNAP_COL}={snapshot_id}",
        **ingest_kwargs,
    )


class SnapshotView(Warehouse):
    """A Warehouse facade pinned to one snapshot: every table is
    filtered to ``snapshot == id`` (partition-pruned at the scan — the
    predicate is a directory filter, zero I/O for other snapshots) and
    the partition column is dropped, so the entire analytics layer
    (waste checks, profiling, SQL service) runs unchanged against any
    historical heap state."""

    def __init__(self, spark, root: str, snapshot_id: int):
        super().__init__(spark, root)
        self.snapshot_id = int(snapshot_id)

    def table(self, name: str) -> DataFrame:
        df = super().table(name)
        if SNAP_COL in df.columns:
            df = df.filter(F.col(SNAP_COL) == self.snapshot_id).drop(SNAP_COL)
        return df

    def row_count(self, name: str) -> int:
        """Footer row count of this snapshot's ``snapshot=<id>/`` only."""
        path = self._resolve(name)
        if SNAP_COL not in partition_keys(path):
            return super().row_count(name)
        path = os.path.join(path, f"{SNAP_COL}={self.snapshot_id}")
        return footer_rows(path) if os.path.isdir(path) else 0


def list_snapshots(warehouse_dir: str) -> list[int]:
    """Snapshot ids present in the warehouse (from the object-index
    table's partition directories — every snapshot writes one)."""
    d = os.path.join(warehouse_dir, physical_name("_object_index"))
    if not os.path.isdir(d):
        return []
    ids = []
    for entry in os.listdir(d):
        if entry.startswith(f"{SNAP_COL}="):
            ids.append(int(entry.split("=", 1)[1]))
    return sorted(ids)


def snapshot_summary(wh: Warehouse) -> DataFrame:
    """Per-snapshot object census: one row per snapshot with object
    count and distinct type count. One scan, one shuffle on the
    (tiny-cardinality) snapshot column."""
    oi = wh.table("_object_index")
    return (
        oi.groupBy(SNAP_COL)
        .agg(
            F.count(F.lit(1)).alias("n_objects"),
            F.countDistinct("type_name").alias("n_types"),
        )
        .orderBy(SNAP_COL)
    )


def type_histogram_delta(wh: Warehouse, before: int, after: int) -> DataFrame:
    """Per-type object-count delta between two snapshots — the heap-
    growth table ("which classes grew?"). Partition pruning limits the
    scan to the two snapshots; a single hash aggregation on type_name
    computes both censuses at once (no self-join, one shuffle)."""
    oi = wh.table("_object_index")
    s = F.col(SNAP_COL)
    return (
        oi.filter(s.isin(int(before), int(after)))
        .groupBy("type_name")
        .agg(
            F.sum(F.when(s == int(before), 1).otherwise(0)).cast("long").alias("n_before"),
            F.sum(F.when(s == int(after), 1).otherwise(0)).cast("long").alias("n_after"),
        )
        .withColumn("delta", F.col("n_after") - F.col("n_before"))
        .orderBy(F.desc("delta"), "type_name")
    )


def object_diff(
    wh: Warehouse, before: int, after: int, include_retained: bool = False
) -> DataFrame:
    """Object-level diff between two snapshots: ``status`` is ``new``
    (only in *after*), ``freed`` (only in *before*), or ``retained``.

    One shuffle, on obj_id — grouped presence flags instead of two
    anti-joins (which would scan and shuffle the index twice).
    """
    oi = wh.table("_object_index")
    s = F.col(SNAP_COL)
    flags = (
        oi.filter(s.isin(int(before), int(after)))
        .groupBy("obj_id")
        .agg(
            F.max((s == int(before)).cast("int")).alias("in_before"),
            F.max((s == int(after)).cast("int")).alias("in_after"),
            F.max("type_name").alias("type_name"),
        )
    )
    status = (
        F.when((F.col("in_before") == 1) & (F.col("in_after") == 0), F.lit("freed"))
        .when((F.col("in_before") == 0) & (F.col("in_after") == 1), F.lit("new"))
        .otherwise(F.lit("retained"))
    )
    out = flags.select("obj_id", "type_name", status.alias("status"))
    if not include_retained:
        out = out.filter(F.col("status") != "retained")
    return out
