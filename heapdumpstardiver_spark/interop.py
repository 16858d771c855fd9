"""Interop with warehouses produced by the reference binary.

The reference's converter writes a FLAT directory of parquet files
(/root/reference/src/commands/dump_to_parquet.rs:404, 669-694):

- class tables:  ``{ClassName}_{classObjId}.parquet``            (default)
                 ``{ClassName}_{classObjId}_chunk{N}.parquet``   (robo)
- system tables: ``_{name}.parquet`` / ``_{name}_chunk{N}.parquet``

resolved by glob at query time (scripts/analyze_heap_parquet.py:92-127):
every class id sharing a class name is one logical relation, robo mode is
detected by ``_object_index_chunk*.parquet``. Ids are unsigned 64-bit;
default (non-robo) mode resolves reference fields to ``Struct{id, type}``
(src/util.rs:139-142).

Spark's file index silently drops "_"-prefixed paths (reserved for
metadata), so the reference's system tables cannot be read in place.
Attaching therefore builds a VIEW DIRECTORY of symlinks in the engine's
native layout (``<table-dir>/part-{i}.parquet``, ``sys_`` prefix for
system tables) — zero data copy, and scans / predicate pushdown / column
pruning work exactly as on a native warehouse. The view directory is
derived metadata: cheap to rebuild, safe to delete.

Type normalization on read (:meth:`ReferenceWarehouse.table`):

- parquet UInt64 surfaces in Spark as ``decimal(20,0)``; every such
  column — including array elements and struct fields — is reinterpreted
  into the engine's signed-int64 id convention (two's-complement, the
  same rule as ingest's ``_s64``), so reference-produced and
  native-ingested warehouses expose identical schemas.
- with ``flatten_refs=True`` (default), default-mode ``Struct{id,type}``
  reference columns are projected down to the bare id, presenting the
  robo view the analytics layer expects; ``flatten_refs=False`` keeps
  the struct (id normalized) for dual-mode access (B6).
"""

from __future__ import annotations

import os
import re
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .catalog import Warehouse, part_files, partition_keys, physical_name

_CHUNK_RE = re.compile(r"_chunk(\d+)$")
_CLASS_ID_RE = re.compile(r"_(\d+)$")


def scan_reference_dir(ref_dir: str) -> dict[str, list[str]]:
    """Map each logical table in a reference-layout directory to its
    backing files. Mirrors the reference resolver's globs: the chunk
    suffix and the class-obj-id suffix are stripped (rightmost match —
    the same disambiguation the reference's ``{base}_*`` glob applies),
    and class ids sharing a name merge into one relation."""
    tables: dict[str, list[str]] = {}
    for entry in sorted(os.listdir(ref_dir)):
        if not entry.endswith(".parquet"):
            continue
        full = os.path.join(ref_dir, entry)
        if not os.path.isfile(full):
            continue
        stem = entry[: -len(".parquet")]
        stem = _CHUNK_RE.sub("", stem)
        if not stem.startswith("_"):
            stem = _CLASS_ID_RE.sub("", stem)
        tables.setdefault(stem, []).append(full)
    return tables


def is_robo_layout(ref_dir: str) -> bool:
    """The reference's own mode probe (analyze_heap_parquet.py:96)."""
    import glob as globmod

    return bool(globmod.glob(os.path.join(ref_dir, "_object_index_chunk*.parquet")))


def attach_reference_warehouse(
    spark: SparkSession,
    ref_dir: str,
    view_dir: str,
    flatten_refs: bool = True,
) -> "ReferenceWarehouse":
    """Attach a warehouse written by the reference binary: build the
    symlink view directory (rebuilt from scratch each call) and return a
    :class:`ReferenceWarehouse` over it."""
    tables = scan_reference_dir(ref_dir)
    if not tables:
        raise FileNotFoundError(f"no reference-layout parquet files under {ref_dir!r}")
    if os.path.isdir(view_dir):
        shutil.rmtree(view_dir)
    os.makedirs(view_dir)
    for logical, files in tables.items():
        d = os.path.join(view_dir, physical_name(logical))
        os.makedirs(d)
        for i, src in enumerate(files):
            os.symlink(os.path.abspath(src), os.path.join(d, f"part-{i}.parquet"))
    return ReferenceWarehouse(spark, view_dir, flatten_refs=flatten_refs)


# 2^63 / 2^64 as decimal literals (too wide for a Spark long literal).
_D63 = "CAST('9223372036854775808' AS DECIMAL(20,0))"
_D64 = "CAST('18446744073709551616' AS DECIMAL(21,0))"


def _is_u64(dt: T.DataType) -> bool:
    return isinstance(dt, T.DecimalType) and dt.precision == 20 and dt.scale == 0


def _s64_col(c):
    """decimal(20,0) unsigned id → two's-complement signed int64."""
    return F.when(c >= F.expr(_D63), (c - F.expr(_D64)).cast("long")).otherwise(
        c.cast("long")
    )


def normalize_u64(df: DataFrame, flatten_refs: bool = True) -> DataFrame:
    """Reinterpret every u64-derived decimal(20,0) column as signed
    int64, recursing into arrays and (one level of) structs. Struct
    columns with an ``id`` field are the reference's default-mode
    resolved refs: flattened to the bare id, or kept with a normalized
    id. A single projection — stays inside whole-stage codegen."""
    cols = []
    changed = False
    for f in df.schema.fields:
        c = F.col(f"`{f.name}`")
        dt = f.dataType
        if _is_u64(dt):
            cols.append(_s64_col(c).alias(f.name))
            changed = True
        elif isinstance(dt, T.ArrayType) and _is_u64(dt.elementType):
            cols.append(F.transform(c, _s64_col).alias(f.name))
            changed = True
        elif isinstance(dt, T.StructType) and "id" in dt.fieldNames():
            id_dt = dt["id"].dataType
            id_col = _s64_col(c["id"]) if _is_u64(id_dt) else c["id"].cast("long")
            if flatten_refs:
                cols.append(id_col.alias(f.name))
            else:
                rebuilt = [id_col.alias("id")] + [
                    c[n].alias(n) for n in dt.fieldNames() if n != "id"
                ]
                cols.append(F.struct(*rebuilt).alias(f.name))
            changed = True
        else:
            cols.append(c)
    return df.select(*cols) if changed else df


def looks_like_reference_layout(path: str) -> bool:
    """Heuristic mode probe: the reference writes a flat directory where
    system files start with a literal "_" and class files end with the
    class-obj-id digits (optionally + _chunk{N}); the native layout uses
    table directories / ``sys_``-prefixed files, which match neither."""
    try:
        entries = os.listdir(path)
    except OSError:
        return False
    for e in entries:
        if not e.endswith(".parquet") or not os.path.isfile(os.path.join(path, e)):
            continue
        stem = e[: -len(".parquet")]
        if stem.startswith("_"):
            return True
        if _CLASS_ID_RE.search(_CHUNK_RE.sub("", stem)):
            return True
    return False


def open_warehouse(
    spark: SparkSession,
    path: str,
    view_dir: str | None = None,
    flatten_refs: bool = True,
) -> Warehouse:
    """Open a warehouse in either on-disk dialect, auto-detected:
    the engine's native table-per-directory layout, or the flat layout
    written by the reference binary (attached via a symlink view dir —
    a temp dir unless *view_dir* is given). The analytics / query /
    service layers accept the returned object either way."""
    if looks_like_reference_layout(path):
        if view_dir is None:
            import tempfile

            view_dir = tempfile.mkdtemp(prefix="hdsd-ref-view-")
        return attach_reference_warehouse(
            spark, path, view_dir, flatten_refs=flatten_refs
        )
    return Warehouse(spark, path)


class ReferenceWarehouse(Warehouse):
    """A :class:`Warehouse` over an attached reference-layout view dir.

    Reads merge schemas across part files (distinct class ids sharing a
    name may have drifted layouts across dump versions) and normalize
    u64 ids / struct refs, so the analytics layer and every query run
    unchanged on a dump converted by the reference binary."""

    def __init__(self, spark: SparkSession, root: str, flatten_refs: bool = True):
        super().__init__(spark, root)
        self.flatten_refs = flatten_refs

    def table(self, name: str) -> DataFrame:
        if name not in self._cache:
            df = self.spark.read.option("mergeSchema", "true").parquet(
                self._resolve(name)
            )
            self._cache[name] = normalize_u64(df, flatten_refs=self.flatten_refs)
        return self._cache[name]


# ---------------------------------------------------------------------------
# Export: native warehouse → reference flat layout
# ---------------------------------------------------------------------------

# Signed-int64 columns that are HPROF ids (and therefore UInt64 in the
# reference's files, util.rs:139-142) in each system table. Class-table
# ref columns are not listed here — they come from `_field_types`.
_SYS_U64_COLS = {
    "_object_index": ["obj_id"],
    "_object_arrays": ["obj_id", "elements"],
    "_gc_roots": ["obj_id"],
    "_class_hierarchy": ["class_obj_id", "super_class_obj_id"],
    "_field_types": ["class_obj_id"],
    "_static_fields": ["class_obj_id", "ref_id"],
    "_stack_frames": ["frame_id"],
    "_stack_traces": ["frame_ids"],
}


def _to_u64(col):
    """Bit-reinterpret an int64 arrow column (scalar, list<int64>, or
    struct with an int64 ``id`` field) as unsigned 64-bit — the inverse
    of ingest's two's-complement `_s64`. Validity bitmaps survive."""
    import pyarrow as pa

    arr = col.combine_chunks() if isinstance(col, pa.ChunkedArray) else col
    t = arr.type
    if t == pa.int64():
        return arr.view(pa.uint64())
    if isinstance(t, pa.ListType) and t.value_type == pa.int64():
        return pa.ListArray.from_arrays(
            arr.offsets, arr.values.view(pa.uint64()),
            mask=arr.is_null() if arr.null_count else None,
        )
    if isinstance(t, pa.StructType) and t.get_field_index("id") >= 0:
        fields, arrays = [], []
        for i in range(t.num_fields):
            f = t.field(i)
            child = arr.field(i)
            if f.name == "id" and f.type == pa.int64():
                child = child.view(pa.uint64())
                f = pa.field("id", pa.uint64(), f.nullable)
            fields.append(f)
            arrays.append(child)
        return pa.StructArray.from_arrays(
            arrays, fields=fields,
            mask=arr.is_null() if arr.null_count else None,
        )
    return arr


def _export_task(args: tuple) -> tuple:
    """One (logical table, chunk) → one reference-layout file. Runs on
    an executor; same temp-name + atomic-rename commit discipline as the
    ingest writer (ingest/convert.py:_write_part)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from .ingest.convert import _attempt_token

    src_paths, out_path, u64_cols = args
    t = pa.concat_tables(
        [pq.read_table(p) for p in src_paths], promote_options="default"
    )
    for name in u64_cols:
        i = t.schema.get_field_index(name)
        if i < 0:
            continue
        conv = _to_u64(t.column(i))
        t = t.set_column(i, pa.field(name, conv.type), conv)
    tmp = os.path.join(
        os.path.dirname(out_path), f".{os.path.basename(out_path)}.{_attempt_token()}.tmp"
    )
    try:
        pq.write_table(t, tmp, compression="snappy")
        os.replace(tmp, out_path)
    finally:
        if os.path.exists(tmp):
            os.remove(tmp)
    return os.path.basename(out_path), t.num_rows


def export_reference_layout(
    spark: SparkSession,
    warehouse_root: str,
    out_dir: str,
    robo: bool = True,
    chunks: int = 16,
) -> dict:
    """Write a native warehouse back out in the reference binary's flat
    layout (dump_to_parquet.rs:404,669-694) so its own analysis scripts
    (scripts/analyze_heap_parquet.py) can consume it unchanged:

    - class tables → ``{ClassName}_{classObjId}[_chunkN].parquet``, the
      class-obj-id taken from ``_class_hierarchy`` (min id when shadowed
      layouts merged under one name at ingest — the reference resolver
      globs ``{base}_*`` and merges by name, so a single representative
      id round-trips);
    - system tables → literal ``_{name}[_chunkN].parquet``;
    - id and object-ref columns re-encoded as UInt64 (two's-complement
      inverse of ingest's `_s64`), ref columns of class tables
      identified from ``_field_types``; default-mode ``Struct{id,type}``
      refs keep the struct with a u64 id.

    Work is distributed: one Spark task per (table, chunk) — source
    part files are round-robined into *chunks* groups per table in robo
    mode — each task writing via temp-name + atomic rename. Snapshot-
    partitioned warehouses are refused (the reference has no snapshot
    concept; export a pinned state instead).
    """
    import glob as globmod

    import pyarrow.parquet as pq_  # noqa: F401 - imported for executor pickling

    wh = Warehouse(spark, warehouse_root)
    names = wh.table_names()
    if not names:
        raise FileNotFoundError(f"no tables under {warehouse_root!r}")

    def parts_of(name: str) -> list[str]:
        path = wh._resolve(name)
        if partition_keys(path):
            raise ValueError(
                f"table {name!r} is snapshot-partitioned; the reference "
                "layout has no snapshot dimension — export a pinned state"
            )
        return part_files(path)

    # class-obj-id per class name (driver-side: metadata-sized table)
    cid_by_name: dict[str, int] = {}
    if "_class_hierarchy" in names:
        import pyarrow.parquet as pq

        for p in parts_of("_class_hierarchy"):
            t = pq.read_table(p, columns=["class_obj_id", "class_name"])
            for cid, cname in zip(
                t.column("class_obj_id").to_pylist(), t.column("class_name").to_pylist()
            ):
                prev = cid_by_name.get(cname)
                u = cid & 0xFFFFFFFFFFFFFFFF
                if prev is None or u < prev:
                    cid_by_name[cname] = u
    ref_fields: dict[str, list[str]] = {}
    if "_field_types" in names:
        import pyarrow.parquet as pq

        for p in parts_of("_field_types"):
            t = pq.read_table(p, columns=["class_name", "field_name", "field_type"])
            for cname, fname, ftype in zip(
                t.column("class_name").to_pylist(),
                t.column("field_name").to_pylist(),
                t.column("field_type").to_pylist(),
            ):
                if ftype == "Object":
                    ref_fields.setdefault(cname, []).append(fname)

    os.makedirs(out_dir, exist_ok=True)
    for stale in globmod.glob(os.path.join(out_dir, "*.parquet")):
        os.remove(stale)

    tasks = []
    for name in names:
        files = parts_of(name)
        if not files:
            continue
        if name.startswith("_"):
            base, u64_cols = name, _SYS_U64_COLS.get(name, [])
            if name.startswith("_primitive_arrays_"):
                u64_cols = ["obj_id"]
        else:
            cid = cid_by_name.get(name, 0)
            base = f"{name}_{cid}"
            u64_cols = ["obj_id"] + ref_fields.get(name, [])
        if robo:
            n = min(chunks, len(files))
            groups = [files[k::n] for k in range(n)]
            for k, grp in enumerate(groups):
                tasks.append(
                    (grp, os.path.join(out_dir, f"{base}_chunk{k}.parquet"), u64_cols)
                )
        else:
            tasks.append((files, os.path.join(out_dir, f"{base}.parquet"), u64_cols))

    sc = spark.sparkContext
    results = sc.parallelize(tasks, len(tasks)).map(_export_task).collect()
    return {
        "files": len(results),
        "tables": len(names),
        "rows": sum(r for _, r in results),
        "robo": robo,
    }
