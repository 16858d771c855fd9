"""Default-mode (non-robo) warehouse materialization.

The reference's default output resolves every reference field to
``Struct{id, type}`` where *type* is the RUNTIME type of the target
object (src/util.rs:139-174 ``resolve_ref_type_str``): ``"null"`` for
id 0, the class name for instances and object arrays, ``"{prim}[]"``
for primitive arrays, ``"class X"`` for class objects, and
``"(unresolved)"`` otherwise — and ``_static_fields`` carries an extra
``ref_type`` column (dump_to_parquet.rs:584-632). Robo mode defers that
resolution to query time; default mode materializes it.

Spark-first shape: the reference resolves refs through its in-memory
single-machine index; here resolution is a distributed join against
``_object_index`` (which holds exactly the reference's type vocabulary).
To stay O(1) in the number of ref columns, each class table is MELTED —
one exploded (obj_id, field, ref_id) row per ref cell — joined once
against the index, re-pivoted by obj_id, and joined back onto the
non-ref columns: four exchanges per table regardless of how many ref
fields the class declares, vs one join per ref column in the naive
plan. Small tables collapse to broadcast joins under AQE automatically.

Rewrites are atomic per table: written to a temp dir by Spark's own
committer, then directory-swapped.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import Warehouse, swap_in

#: columns that are object ids but must stay bare (join keys, not refs)
_NON_REF_ID_COLS = {"obj_id"}


def _ref_type_col(ref_id, type_name):
    """resolve_ref_type_str, as one expression over the joined index."""
    return (
        F.when(ref_id == 0, F.lit("null"))
        .when(type_name.isNotNull(), type_name)
        .otherwise(F.lit("(unresolved)"))
    )


def _resolve_table(df: DataFrame, ref_cols: list[str], oindex: DataFrame) -> DataFrame:
    """Replace each bare int64 ref column with struct(id, type)."""
    idx = oindex.select(
        F.col("obj_id").alias("_ref_target"), F.col("type_name").alias("_ref_type")
    )
    melted = df.select(
        "obj_id",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(c).alias("f"), F.col(c).alias("ref_id"))
                    for c in ref_cols
                ]
            )
        ).alias("e"),
    ).select("obj_id", F.col("e.f").alias("f"), F.col("e.ref_id").alias("ref_id"))
    resolved = melted.join(
        idx, melted.ref_id == idx._ref_target, "left"
    ).select(
        "obj_id",
        "f",
        F.struct(
            F.col("ref_id").alias("id"),
            _ref_type_col(F.col("ref_id"), F.col("_ref_type")).alias("type"),
        ).alias("ref"),
    )
    pivoted = resolved.groupBy("obj_id").agg(
        *[F.max(F.when(F.col("f") == c, F.col("ref"))).alias(c) for c in ref_cols]
    )
    keep = [c for c in df.columns if c not in ref_cols]
    # re-select in the original column order, structs in their old slots
    merged = df.select(*keep).join(pivoted, "obj_id")
    return merged.select(
        *[F.col(f"`{c}`") for c in df.columns]
    )


def resolve_refs_default_mode(spark: SparkSession, warehouse_dir: str) -> dict:
    """Convert a robo warehouse in *warehouse_dir* to the reference's
    default-mode view, in place: every declared-Object field in every
    class table becomes ``struct(id, type)``, and ``_static_fields``
    gains ``ref_type``. Returns {"tables_rewritten": n}.

    ``_object_arrays`` keeps bare element ids (the reference resolves
    field refs, not array elements) and ``_object_index`` is retained —
    a strict superset of the reference's default-mode table set.
    """
    wh = Warehouse(spark, warehouse_dir)
    ft = wh.table("_field_types")
    ref_fields = (
        ft.filter(F.col("field_type") == "Object")
        .select("class_name", "field_name")
        .collect()
    )  # metadata-sized: one row per declared ref field
    by_class: dict[str, list[str]] = {}
    for r in ref_fields:
        by_class.setdefault(r["class_name"], []).append(r["field_name"])

    oindex = wh.table("_object_index")
    rewritten = 0
    for cls, fields in sorted(by_class.items()):
        try:
            df = wh.table(cls)
        except KeyError:
            continue  # class had no instances → no table
        ref_cols = [c for c in df.columns if c in set(fields) and c not in _NON_REF_ID_COLS]
        if not ref_cols:
            continue
        out = _resolve_table(df, ref_cols, oindex)
        swap_in(out, wh._resolve(cls))
        wh.invalidate(cls)
        rewritten += 1

    # _static_fields.ref_type (dump_to_parquet.rs:609-632)
    sf = wh.table("_static_fields")
    idx = oindex.select(
        F.col("obj_id").alias("_ref_target"), F.col("type_name").alias("_ref_type")
    )
    sf2 = (
        sf.join(idx, sf.ref_id == idx._ref_target, "left")
        .select(
            *[F.col(c) for c in sf.columns],
            F.when(F.col("field_type") != "Object", F.lit(""))
            .otherwise(_ref_type_col(F.col("ref_id"), F.col("_ref_type")))
            .alias("ref_type"),
        )
    )
    swap_in(sf2, wh._resolve("_static_fields"))
    wh.invalidate("_static_fields")
    return {"tables_rewritten": rewritten + 1}
