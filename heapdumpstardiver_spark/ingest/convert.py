"""Pass 2 — distributed HPROF → Parquet warehouse conversion.

The Spark translation of the reference's rayon pipeline + sharded
writer pool (/root/reference/src/commands/dump_to_parquet.rs:900-975,
653-745): the driver's metadata index plans byte-range splits aligned
to sub-record boundaries; each Spark task parses its ranges and writes
per-table Parquet part files directly (Arrow); the 16-thread writer
pool disappears — part-files-per-task *is* Spark's sink model, and the
chunked robo layout (`_chunk{0..15}`) maps 1:1 onto part files.

Output is robo-mode only (SURVEY §1.3/§4: bare int64 refs +
`_object_index` + `_class_hierarchy`), the scalable variant — type
resolution is deferred to query-time joins. Unsigned 64-bit HPROF ids
are reinterpreted as signed int64 (documented deviation, SURVEY §1.4);
ids are opaque join keys so only equality matters.

Tasks open the HPROF file by path: local mode reads the local file; on
a cluster the path must be on shared storage (DFS/NFS/object store
with a fuse mount) — the standard arrangement for side-input files.
"""

from __future__ import annotations

import os
from collections import defaultdict

import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import SparkSession

from ..catalog import physical_name
from . import hprof as H
from .index import HprofIndex, build_index


def _s64(v: int) -> int:
    """Reinterpret an unsigned 64-bit id as signed int64."""
    return v - (1 << 64) if v >= (1 << 63) else v


_FIELD_ARROW = {
    H.T_OBJECT: pa.int64(),
    H.T_BOOLEAN: pa.bool_(),
    H.T_CHAR: pa.int32(),
    H.T_FLOAT: pa.float32(),
    H.T_DOUBLE: pa.float64(),
    H.T_BYTE: pa.int8(),
    H.T_SHORT: pa.int16(),
    H.T_INT: pa.int32(),
    H.T_LONG: pa.int64(),
}

_PRIM_LIST_ARROW = {
    "boolean": pa.bool_(),
    "char": pa.int32(),
    "float": pa.float32(),
    "double": pa.float64(),
    "byte": pa.int8(),
    "short": pa.int16(),
    "int": pa.int32(),
    "long": pa.int64(),
}


def _class_registry(idx: HprofIndex) -> dict:
    """The minimal per-class decode registry shipped to executors:
    class_obj_id → (java name, struct fmt, field names, type codes)."""
    id_code = "Q" if idx.header.id_size == 8 else "I"
    reg = {}
    for cid, info in idx.classes.items():
        fmt = ">" + "".join(
            id_code if f.type_code == H.T_OBJECT else H.PRIM_STRUCT[f.type_code]
            for f in info.layout
        )
        reg[cid] = (
            info.name,
            fmt,
            [f.name for f in info.layout],
            [f.type_code for f in info.layout],
        )
    return reg


def _attempt_token() -> str:
    """Unique per-task-attempt token for temp file names. On an executor
    this is Spark's monotonically-unique task attempt id, so a retried or
    speculatively-executed task never collides with another attempt's
    in-flight temp file; driver-side writes fall back to a random token."""
    try:
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None:
            return f"attempt-{ctx.taskAttemptId()}"
    except Exception:
        pass
    import uuid

    return f"driver-{uuid.uuid4().hex[:12]}"


def _write_part(out_dir: str, table: str, split_id, arrow_table: pa.Table,
                partition: str | None = None) -> tuple:
    """Task-commit protocol (≙ the reference writer's close-and-footer
    discipline, dump_to_parquet.rs:737-744, adapted to task retries):
    write the part under a hidden attempt-scoped temp name, then
    ``os.replace`` it into its final name. The rename is atomic on a
    POSIX filesystem, so a reader (or a second task attempt) only ever
    sees either no file or a complete file under the final name — never
    a torn one. Duplicate attempts write distinct temps and the last
    complete rename wins with identical content. Orphaned temps from a
    killed attempt start with "." so Spark's file index ignores them;
    the driver sweeps them after the job commits."""
    d = os.path.join(out_dir, physical_name(table))
    if partition:
        d = os.path.join(d, partition)  # Hive-style `snapshot=<id>` subdir
    os.makedirs(d, exist_ok=True)
    path = os.path.join(d, f"part-{split_id}.parquet")
    tmp = os.path.join(d, f"._part-{split_id}.{_attempt_token()}.tmp")
    # Dictionary-encode only string columns (class/type names — highly
    # repetitive, big size win). On numeric columns dictionary building
    # costs ~2x encode time and usually grows int-heavy heap tables —
    # measured the dominant cost of a convert task.
    str_cols = [f.name for f in arrow_table.schema if pa.types.is_string(f.type)]
    try:
        pq.write_table(
            arrow_table, tmp, compression="snappy",
            use_dictionary=str_cols or False,
        )
        os.replace(tmp, path)
    finally:
        if os.path.exists(tmp):  # write or rename failed mid-flight
            try:
                os.remove(tmp)
            except OSError:
                pass
    return (table, arrow_table.num_rows, path)


def _process_split(args, hprof_path: str, out_dir: str, registry: dict,
                   class_names: dict, id_size: int, partition: str | None = None):
    """One task: parse [start, end) sub-record ranges, write part files.
    Returns manifest tuples (table, rows, path).

    Decode strategy: the Python walk only LOCATES records (tag dispatch
    + offset collection); all value decoding is vectorized — per-class
    instance bytes are gathered and reinterpreted with a packed
    big-endian numpy structured dtype, array payloads with
    ``np.frombuffer`` + one ListArray per table. Unsigned-u64 → signed
    int64 id reinterpretation is a zero-copy ``view(int64)``. This
    keeps per-record Python work to one tuple append, the only part
    numpy can't do (record boundaries are data-dependent).

    Each range is read with seek+read — a task touches ONLY its own
    bytes (reading the whole file per task is O(file × tasks) I/O and
    memory, which is exactly what kills a 1000-executor ingest).
    """
    import numpy as np

    split_id, ranges = args

    _NP_FIELD = {
        H.T_OBJECT: ">u8" if id_size == 8 else ">u4",
        H.T_BOOLEAN: "u1",
        H.T_CHAR: ">u2",
        H.T_FLOAT: ">f4",
        H.T_DOUBLE: ">f8",
        H.T_BYTE: "i1",
        H.T_SHORT: ">i2",
        H.T_INT: ">i4",
        H.T_LONG: ">i8",
    }
    _NP_PRIM = {t: _NP_FIELD[t] for t in _NP_FIELD}

    def native(a):
        # pyarrow rejects byte-swapped (big-endian) numpy arrays
        if a.dtype.byteorder == ">":
            return a.astype(a.dtype.newbyteorder("="))
        return a

    def ids_to_i64(a):
        a = np.ascontiguousarray(a, dtype=">u8").astype(np.uint64)
        return a.view(np.int64)

    def field_to_pa(col, code):
        if code == H.T_OBJECT:
            if id_size == 8:
                return pa.array(ids_to_i64(col), type=pa.int64())
            return pa.array(col.astype(np.int64), type=pa.int64())
        if code == H.T_BOOLEAN:
            return pa.array(col.astype(np.bool_))
        if code == H.T_CHAR:
            return pa.array(col.astype(np.int32), type=pa.int32())
        return pa.array(native(col))

    # -- per-table accumulators --------------------------------------------
    # instances: cid -> [(buf_np, oids, offs)] pieces; oids/offs are
    # python lists (scalar walk) or numpy arrays (vectorized runs).
    # arrays: batch entries — (buf_np, oids, offs, n[, acids]) with a
    # COMMON element count n per entry (scalar records are 1-element
    # batches, runs are R-element batches).
    inst_pieces: dict[int, list] = {}
    oa_meta: list = []                              # (buf_np, oids, offs, n, acids)
    prim_meta: dict[int, list] = defaultdict(list)  # t -> (buf_np, oids, offs, n)
    roots = {"root_type": [], "obj_id": [], "thread_serial": [], "frame_index": []}
    cls_oindex: tuple[list, list] = ([], [])

    g = H.SUB_RECORDS[id_size]
    u_inst = g.header[H.SUB_INSTANCE_DUMP].unpack_from  # oid, stack, cid, nbytes
    u_parr = g.header[H.SUB_PRIMITIVE_ARRAY_DUMP].unpack_from  # oid, stack, n, type
    u_oarr = g.header[H.SUB_OBJECT_ARRAY_DUMP].unpack_from  # oid, stack, n, class
    h_inst = g.payload[H.SUB_INSTANCE_DUMP]
    h_parr = g.payload[H.SUB_PRIMITIVE_ARRAY_DUMP]
    h_oarr = g.payload[H.SUB_OBJECT_ARRAY_DUMP]
    INST, PARR, OARR, CLS = (
        H.SUB_INSTANCE_DUMP,
        H.SUB_PRIMITIVE_ARRAY_DUMP,
        H.SUB_OBJECT_ARRAY_DUMP,
        H.SUB_CLASS_DUMP,
    )

    # The Python walk visits one record, or one run of equal-length
    # records found by the grammar's prober. A run's record starts are
    # an arithmetic sequence, so its ids are read through numpy strided
    # views instead of one Python iteration per record.
    with open(hprof_path, "rb") as f:
        for start, end in ranges:
            f.seek(start)
            buf = f.read(end - start)
            bnp = np.frombuffer(buf, dtype=np.uint8)
            pos, n_buf = 0, end - start
            # per-range scalar collectors (flushed into inst_pieces so
            # piece order matches record order even when runs interleave)
            r_inst: dict[int, tuple[list, list]] = {}

            def flush_inst(cid):
                acc = r_inst.pop(cid, None)
                if acc is not None:
                    inst_pieces.setdefault(cid, []).append((bnp, acc[0], acc[1]))

            while pos < n_buf:
                tag = buf[pos]
                if tag == CLS:
                    info, pos = H.parse_class_dump(buf, pos + 1, id_size)
                    cls_oindex[0].append(_s64(info.class_obj_id))
                    cls_oindex[1].append(
                        f"class {class_names.get(info.class_obj_id, '(unresolved)')}"
                    )
                    continue
                try:
                    stride = g.size(buf, pos)
                except ValueError as e:
                    raise ValueError(f"{e} of the split at file offset {start}") from None
                run = g.probe_run(buf, pos, stride, n_buf - pos)
                if run > 1:
                    base = pos + stride * np.arange(run, dtype=np.int64)
                    oids = g.run_ids(buf, pos, stride, run, 1)
                if tag == INST:
                    if run > 1:
                        cids = g.run_ids(buf, pos, stride, run, g.class_id)
                        bodies = base + h_inst
                        if bool((cids == cids[0]).all()):
                            # homogeneous run (the common case): one piece
                            pieces = [(int(cids[0]), oids, bodies)]
                        else:
                            pieces = [
                                (int(c), oids[cids == c], bodies[cids == c])
                                for c in np.unique(cids)
                            ]
                        for ci, o, b in pieces:
                            if ci in registry:
                                flush_inst(ci)
                                inst_pieces.setdefault(ci, []).append((bnp, o, b))
                    else:
                        oid, _, cid, _ = u_inst(buf, pos + 1)
                        if cid in registry:
                            acc = r_inst.get(cid)
                            if acc is None:
                                acc = r_inst[cid] = ([], [])
                            acc[0].append(oid)
                            acc[1].append(pos + h_inst)
                elif tag == PARR:
                    oid, _, n, t = u_parr(buf, pos + 1)
                    if run > 1:
                        prim_meta[t].append((bnp, oids, base + h_parr, n))
                    else:
                        prim_meta[t].append((bnp, [oid], [pos + h_parr], n))
                elif tag == OARR:
                    oid, _, n, acid = u_oarr(buf, pos + 1)
                    if run > 1:
                        acids = g.run_ids(buf, pos, stride, run, g.array_class)
                        oa_meta.append((bnp, oids, base + h_oarr, n, acids))
                    else:
                        oa_meta.append((bnp, [oid], [pos + h_oarr], n, [acid]))
                else:  # a GC root
                    vals = g.header[tag].unpack_from(buf, pos + 1)
                    roots["root_type"].append(H.ROOT_NAMES[tag])
                    roots["obj_id"].append(_s64(vals[0]))
                    roots["thread_serial"].append(vals[1] if tag in H.ROOT_WITH_THREAD else None)
                    roots["frame_index"].append(vals[2] if tag in H.ROOT_WITH_FRAME else None)
                pos += run * stride
            for cid, acc in r_inst.items():
                inst_pieces.setdefault(cid, []).append((bnp, acc[0], acc[1]))

    manifest = []
    oindex_ids: list = []
    oindex_names: list = []

    # -- instances: strided-gather + structured-dtype batch decode ----------
    for cid, pieces in inst_pieces.items():
        name, _, fnames, fcodes = registry[cid]
        np_dt = np.dtype([(f"f{i}", _NP_FIELD[c]) for i, c in enumerate(fcodes)])
        size = np_dt.itemsize
        oids_u64 = (
            np.concatenate([np.asarray(o, dtype=np.uint64) for _, o, _ in pieces])
            if pieces
            else np.array([], dtype=np.uint64)
        )
        if size:
            # one 2-D fancy gather per piece: rows (R, size) u8 viewed
            # as the packed big-endian struct dtype — no Python loop
            span = np.arange(size, dtype=np.int64)
            recs = [
                b[np.asarray(offs, dtype=np.int64)[:, None] + span]
                .view(np_dt)
                .ravel()
                for b, _, offs in pieces
                if len(offs)
            ]
            rec = np.concatenate(recs) if recs else np.frombuffer(b"", dtype=np_dt)
        else:
            rec = None
        oid_arr = oids_u64.view(np.int64) if id_size == 8 else oids_u64.astype(np.int64)
        cols = {"obj_id": pa.array(oid_arr, type=pa.int64())}
        for i, (fn, c) in enumerate(zip(fnames, fcodes)):
            cols[fn] = field_to_pa(rec[f"f{i}"], c) if rec is not None else pa.array([], type=_FIELD_ARROW[c])
        schema = pa.schema(
            [("obj_id", pa.int64())] + [(fn, _FIELD_ARROW[c]) for fn, c in zip(fnames, fcodes)]
        )
        manifest.append(
            _write_part(out_dir, name, split_id, pa.table(cols, schema=schema), partition)
        )
        oindex_ids.append(oid_arr)
        oindex_names.append((name, len(oids_u64)))

    # -- object arrays: strided-gather values buffer + ListArray ------------
    if oa_meta:
        el_dt = np.dtype(">u8" if id_size == 8 else ">u4")
        esz = el_dt.itemsize
        val_parts, ns_parts, oid_parts, acid_list = [], [], [], []
        for b, oids, offs, n, acids in oa_meta:
            offs_a = np.asarray(offs, dtype=np.int64)
            if n:
                rows = b[offs_a[:, None] + np.arange(n * esz, dtype=np.int64)]
                val_parts.append(rows.ravel().view(el_dt))
            ns_parts.append(np.full(len(offs_a), n, dtype=np.int64))
            oid_parts.append(np.asarray(oids, dtype=np.uint64))
            acid_list.extend(np.asarray(acids, dtype=np.uint64).tolist())
        values = np.concatenate(val_parts) if val_parts else np.array([], dtype=el_dt)
        ns = np.concatenate(ns_parts)
        offsets = np.zeros(len(ns) + 1, dtype=np.int64)
        np.cumsum(ns, out=offsets[1:])
        el_i64 = ids_to_i64(values) if id_size == 8 else values.astype(np.int64)
        elements = pa.LargeListArray.from_arrays(
            pa.array(offsets, type=pa.int64()), pa.array(el_i64, type=pa.int64())
        ).cast(pa.list_(pa.int64()))
        oid_u64 = np.concatenate(oid_parts)
        oid_i64 = oid_u64.view(np.int64) if id_size == 8 else oid_u64.astype(np.int64)
        names = [class_names.get(a, "(unresolved)") for a in acid_list]
        schema = pa.schema(
            [("obj_id", pa.int64()), ("class_name", pa.string()), ("elements", pa.list_(pa.int64()))]
        )
        tbl = pa.table(
            {
                "obj_id": pa.array(oid_i64, type=pa.int64()),
                "class_name": pa.array(names, type=pa.string()),
                "elements": elements,
            },
            schema=schema,
        )
        manifest.append(_write_part(out_dir, "_object_arrays", split_id, tbl, partition))
        oindex_ids.append(oid_i64)
        oindex_names.append(names)

    # -- primitive arrays: strided-gather per-type buffer + ListArray -------
    for t, metas in prim_meta.items():
        ptype = H.PRIM_NAMES[t]
        dt = np.dtype(_NP_PRIM[t])
        esz = dt.itemsize
        val_parts, ns_parts, oid_parts = [], [], []
        for b, oids, offs, n in metas:
            offs_a = np.asarray(offs, dtype=np.int64)
            if n:
                rows = b[offs_a[:, None] + np.arange(n * esz, dtype=np.int64)]
                val_parts.append(rows.ravel().view(dt))
            ns_parts.append(np.full(len(offs_a), n, dtype=np.int64))
            oid_parts.append(np.asarray(oids, dtype=np.uint64))
        values = np.concatenate(val_parts) if val_parts else np.array([], dtype=dt)
        if t == H.T_BOOLEAN:
            va = pa.array(values.astype(np.bool_))
        elif t == H.T_CHAR:
            va = pa.array(values.astype(np.int32), type=pa.int32())
        else:
            va = pa.array(native(values))
        ns = np.concatenate(ns_parts)
        offsets = np.zeros(len(ns) + 1, dtype=np.int64)
        np.cumsum(ns, out=offsets[1:])
        vals = pa.LargeListArray.from_arrays(
            pa.array(offsets, type=pa.int64()), va
        ).cast(pa.list_(_PRIM_LIST_ARROW[ptype]))
        oid_u64 = np.concatenate(oid_parts)
        oid_i64 = oid_u64.view(np.int64) if id_size == 8 else oid_u64.astype(np.int64)
        schema = pa.schema(
            [("obj_id", pa.int64()), ("values", pa.list_(_PRIM_LIST_ARROW[ptype]))]
        )
        tbl = pa.table({"obj_id": pa.array(oid_i64, type=pa.int64()), "values": vals}, schema=schema)
        manifest.append(_write_part(out_dir, f"_primitive_arrays_{ptype}", split_id, tbl, partition))
        oindex_ids.append(oid_i64)
        oindex_names.append((f"{ptype}[]", len(ns)))

    if roots["obj_id"]:
        schema = pa.schema(
            [
                ("root_type", pa.string()),
                ("obj_id", pa.int64()),
                ("thread_serial", pa.int32()),
                ("frame_index", pa.int32()),
            ]
        )
        manifest.append(_write_part(out_dir, "_gc_roots", split_id, pa.table(roots, schema=schema), partition))

    # -- _object_index assembled from the per-table pieces ------------------
    if cls_oindex[0]:
        oindex_ids.append(np.array(cls_oindex[0], dtype=np.int64))
        oindex_names.append(cls_oindex[1])
    if oindex_ids:
        all_ids = np.concatenate(oindex_ids)
        name_chunks: list = []
        for spec in oindex_names:
            if isinstance(spec, tuple):
                nm, cnt = spec
                name_chunks.extend([nm] * cnt)
            else:
                name_chunks.extend(spec)
        schema = pa.schema([("obj_id", pa.int64()), ("type_name", pa.string())])
        tbl = pa.table(
            {"obj_id": pa.array(all_ids, type=pa.int64()), "type_name": pa.array(name_chunks, type=pa.string())},
            schema=schema,
        )
        manifest.append(_write_part(out_dir, "_object_index", split_id, tbl, partition))
    return manifest


def _write_driver_tables(idx: HprofIndex, out_dir: str,
                         partition: str | None = None) -> list[tuple]:
    """Small global tables assembled from the pass-1 index: static
    fields, resolved stack frames/traces, class hierarchy
    (≙ dump_to_parquet.rs:539-633, 752-894)."""
    manifest = []

    # _static_fields (robo variant: ref_id, no ref_type)
    sf = {k: [] for k in ("class_obj_id", "class_name", "field_name", "field_type", "primitive_value", "ref_id")}
    for cid, info in idx.classes.items():
        for name_id, tcode, value in info.static_fields:
            sf["class_obj_id"].append(_s64(cid))
            sf["class_name"].append(info.name)
            sf["field_name"].append(idx.strings.get(name_id, f"field_{name_id:x}"))
            if tcode == H.T_OBJECT:
                sf["field_type"].append("Object")
                sf["primitive_value"].append("")
                sf["ref_id"].append(_s64(value))
            else:
                sf["field_type"].append(H.PRIM_NAMES[tcode])
                sf["primitive_value"].append(str(value).lower() if tcode == H.T_BOOLEAN else str(value))
                sf["ref_id"].append(0)
    if sf["class_obj_id"]:
        schema = pa.schema(
            [
                ("class_obj_id", pa.int64()),
                ("class_name", pa.string()),
                ("field_name", pa.string()),
                ("field_type", pa.string()),
                ("primitive_value", pa.string()),
                ("ref_id", pa.int64()),
            ]
        )
        manifest.append(_write_part(out_dir, "_static_fields", 0, pa.table(sf, schema=schema), partition))

    # _field_types: per-class declared field layout (final names after
    # inheritance flattening / shadow renames). Lets post-passes tell a
    # ref column from a long column without re-reading the dump — the
    # basis for default-mode struct-ref resolution (≙ the reference's
    # FieldDescriptor registry, util.rs:132-174).
    ft = {k: [] for k in ("class_obj_id", "class_name", "field_name", "field_type", "field_index")}
    for cid, info in idx.classes.items():
        for i, fld in enumerate(info.layout):
            ft["class_obj_id"].append(_s64(cid))
            ft["class_name"].append(info.name)
            ft["field_name"].append(fld.name)
            ft["field_type"].append(
                "Object" if fld.type_code == H.T_OBJECT else H.PRIM_NAMES[fld.type_code]
            )
            ft["field_index"].append(i)
    if ft["class_obj_id"]:
        schema = pa.schema(
            [
                ("class_obj_id", pa.int64()),
                ("class_name", pa.string()),
                ("field_name", pa.string()),
                ("field_type", pa.string()),
                ("field_index", pa.int32()),
            ]
        )
        manifest.append(_write_part(out_dir, "_field_types", 0, pa.table(ft, schema=schema), partition))

    # _stack_frames: resolve the 4-way dictionary join driver-side
    # (≙ hprof_index.rs:96-118 — thousands of rows, not worth a shuffle)
    if idx.frames:
        fr = {
            "frame_id": [_s64(f.frame_id) for f in idx.frames],
            "class_name": [
                idx.class_name(idx.serial_to_class.get(f.class_serial, 0)) for f in idx.frames
            ],
            "method_name": [idx.strings.get(f.method_name_id, "(unknown)") for f in idx.frames],
            "method_signature": [idx.strings.get(f.signature_id, "(unknown)") for f in idx.frames],
            "source_file": [idx.strings.get(f.source_file_id, "(unknown)") for f in idx.frames],
            "line_num": [f.line_num for f in idx.frames],
        }
        schema = pa.schema(
            [
                ("frame_id", pa.int64()),
                ("class_name", pa.string()),
                ("method_name", pa.string()),
                ("method_signature", pa.string()),
                ("source_file", pa.string()),
                ("line_num", pa.int32()),
            ]
        )
        manifest.append(_write_part(out_dir, "_stack_frames", 0, pa.table(fr, schema=schema), partition))

    if idx.traces:
        tr = {
            "stack_trace_serial": [t[0] for t in idx.traces],
            "thread_serial": [t[1] for t in idx.traces],
            "frame_ids": [[_s64(x) for x in t[2]] for t in idx.traces],
        }
        schema = pa.schema(
            [
                ("stack_trace_serial", pa.int32()),
                ("thread_serial", pa.int32()),
                ("frame_ids", pa.list_(pa.int64())),
            ]
        )
        manifest.append(_write_part(out_dir, "_stack_traces", 0, pa.table(tr, schema=schema), partition))

    if idx.classes:
        ch = {
            "class_obj_id": [],
            "class_name": [],
            "super_class_obj_id": [],
            "super_class_name": [],
        }
        for cid, info in idx.classes.items():
            ch["class_obj_id"].append(_s64(cid))
            ch["class_name"].append(info.name)
            if info.super_class_obj_id:
                ch["super_class_obj_id"].append(_s64(info.super_class_obj_id))
                ch["super_class_name"].append(idx.class_name(info.super_class_obj_id))
            else:
                ch["super_class_obj_id"].append(None)
                ch["super_class_name"].append(None)
        schema = pa.schema(
            [
                ("class_obj_id", pa.int64()),
                ("class_name", pa.string()),
                ("super_class_obj_id", pa.int64()),
                ("super_class_name", pa.string()),
            ]
        )
        manifest.append(_write_part(out_dir, "_class_hierarchy", 0, pa.table(ch, schema=schema), partition))
    return manifest


def _maybe_decompress(hprof_path: str) -> str:
    """Transparently accept gzipped dumps (`.hprof.gz` — the form heap
    dumps usually travel in). Both ingest passes need random access to
    byte ranges (executor tasks seek into disjoint splits), which gzip
    streams cannot serve, so the dump is inflated ONCE to a sibling
    scratch file (or $SPARK_GRAFT_SCRATCH) keyed by name+size+mtime
    (mtime so a re-exported dump of coincidentally equal size never
    reuses stale bytes) and reused across runs; written via temp +
    os.replace so a concurrent or killed run never leaves a
    half-inflated file in place. Detection is by magic bytes, not
    extension, so a mis-named plain dump still loads directly."""
    import gzip
    import shutil
    import tempfile

    with open(hprof_path, "rb") as f:
        if f.read(2) != b"\x1f\x8b":
            return hprof_path
    scratch = os.environ.get("SPARK_GRAFT_SCRATCH", tempfile.gettempdir())
    base = os.path.basename(hprof_path)
    if base.endswith(".gz"):
        base = base[:-3]
    st = os.stat(hprof_path)
    key = f"{base}.{st.st_size}.{int(st.st_mtime)}"
    out = os.path.join(scratch, "hds_inflated", key)
    if not os.path.exists(out):
        os.makedirs(os.path.dirname(out), exist_ok=True)
        tmp = f"{out}.tmp.{os.getpid()}"
        with gzip.open(hprof_path, "rb") as src, open(tmp, "wb") as dst:
            shutil.copyfileobj(src, dst, length=8 * 1024 * 1024)
        os.replace(tmp, out)
    return out


def ingest_hprof(
    spark: SparkSession,
    hprof_path: str,
    out_dir: str,
    target_split_bytes: int = 64 * 1024 * 1024,
    overwrite: bool = False,
    partition: str | None = None,
    strict: bool = True,
    robo: bool = True,
) -> dict:
    """Convert an HPROF heap dump into a Parquet warehouse readable by
    :class:`~heapdumpstardiver_spark.catalog.Warehouse`.

    Pass 1 builds the driver index and split plan, scanning the heap
    segments on the driver unless they exceed
    :data:`~.index.FANOUT_MIN_SEGMENT_BYTES`; pass 2 fans the splits out
    as one Spark task each. Below that size an ingest is one Spark job.
    Returns a summary manifest.

    A non-empty *out_dir* is refused unless ``overwrite=True`` (which
    clears it) — a differently-split re-run would otherwise leave stale
    part files mixed with new ones.

    ``strict=False`` tolerates a truncated dump: the complete-record
    prefix is ingested and the summary reports ``"truncated": true``
    (real-world dumps are frequently cut by disk-full or a killed
    process; the alternative is losing the whole dump).

    With *partition* (a Hive-style ``key=value`` string, e.g.
    ``snapshot=3``) every part file lands under that subdirectory of
    its table and the warehouse becomes an APPEND target: other
    partitions are left untouched, only a pre-existing identical
    partition is refused (or cleared with ``overwrite=True``). See
    :mod:`~heapdumpstardiver_spark.ingest.snapshots`.

    ``robo=False`` materializes the reference's DEFAULT output mode
    after the robo pass: reference fields become ``struct(id, type)``
    and ``_static_fields`` gains ``ref_type`` (util.rs:139-174,
    dump_to_parquet.rs:584-632; see
    :mod:`~heapdumpstardiver_spark.ingest.default_mode`). Flat layout
    only — not combinable with *partition*.
    """
    if not robo and partition is not None:
        raise ValueError("robo=False (default-mode output) does not support partitioned append")
    hprof_path = _maybe_decompress(hprof_path)
    idx = build_index(
        hprof_path, target_split_bytes=target_split_bytes, spark=spark, strict=strict
    )
    if partition is None and os.path.isdir(out_dir) and os.listdir(out_dir):
        if not overwrite:
            raise FileExistsError(
                f"output dir {out_dir!r} is not empty; pass overwrite=True to replace it"
            )
        import shutil

        shutil.rmtree(out_dir)
    elif partition is not None and os.path.isdir(out_dir):
        # Layout guard: appending a Hive `snapshot=<id>` partition into a
        # warehouse originally ingested flat would silently mix root-level
        # part files and partition dirs in one table directory and only
        # fail (or mis-schema) later at read time. Refuse up front.
        flat_tables = [
            t
            for t in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, t))
            and any(
                f.endswith(".parquet")
                for f in os.listdir(os.path.join(out_dir, t))
                if os.path.isfile(os.path.join(out_dir, t, f))
            )
        ]
        if flat_tables:
            raise ValueError(
                f"warehouse {out_dir!r} uses the flat (unpartitioned) layout "
                f"(e.g. table {flat_tables[0]!r} has root-level part files); "
                f"cannot append partition {partition!r}. Re-ingest the base "
                "snapshot with a partition= label first."
            )
        existing = [
            os.path.join(out_dir, t, partition)
            for t in os.listdir(out_dir)
            if os.path.isdir(os.path.join(out_dir, t, partition))
        ]
        if existing:
            if not overwrite:
                raise FileExistsError(
                    f"partition {partition!r} already exists in {out_dir!r}; "
                    "pass overwrite=True to replace it"
                )
            import shutil

            for d in existing:
                shutil.rmtree(d)
    os.makedirs(out_dir, exist_ok=True)

    registry = _class_registry(idx)
    class_names = dict(idx.class_names)
    id_size = idx.header.id_size
    hprof_path = os.path.abspath(hprof_path)
    out_dir = os.path.abspath(out_dir)

    # One task per split range. Measured: coalescing several ranges
    # into bigger tasks (fewer part files) REGRESSES wall time ~2.5× at
    # 32 concurrent workers — small per-task buffers stay cache-resident
    # through the gather stage, big grouped ones thrash memory
    # bandwidth. Small part files are instead consolidated after the
    # fact by `catalog.compact_table` (OPTIMIZE), off the ingest hot
    # path.
    tasks = [(i, [rng]) for i, rng in enumerate(idx.splits)]
    if tasks:
        sc = spark.sparkContext
        reg_b = sc.broadcast(registry)
        names_b = sc.broadcast(class_names)
        manifest = (
            sc.parallelize(tasks, numSlices=len(tasks))
            .flatMap(
                lambda args: _process_split(
                    args, hprof_path, out_dir, reg_b.value, names_b.value, id_size,
                    partition,
                )
            )
            .collect()
        )
    else:
        manifest = []

    manifest += _write_driver_tables(idx, out_dir, partition)

    _sweep_orphan_temps(out_dir)

    by_table: dict[str, int] = defaultdict(int)
    for table, rows, _ in manifest:
        by_table[table] += rows
    summary = {
        "hprof": hprof_path,
        "out_dir": out_dir,
        "partition": partition,
        "id_size": id_size,
        "truncated": idx.truncated,
        "n_splits": len(idx.splits),
        "tables": dict(sorted(by_table.items())),
        "total_rows": sum(by_table.values()),
        "record_counts": dict(idx.record_counts),
    }
    if not robo:
        from .default_mode import resolve_refs_default_mode

        summary["default_mode"] = resolve_refs_default_mode(spark, out_dir)
    _commit_manifest(out_dir, partition, summary)
    return summary


def _sweep_orphan_temps(out_dir: str) -> int:
    """Remove in-flight temp files left by killed/preempted task attempts.
    They are invisible to readers (hidden "." prefix) but waste space.
    Runs only after every surviving attempt's rename has committed."""
    removed = 0
    for dirpath, _, files in os.walk(out_dir):
        for f in files:
            if f.startswith("._part-") and f.endswith(".tmp"):
                try:
                    os.remove(os.path.join(dirpath, f))
                    removed += 1
                except OSError:
                    pass
    return removed


def _commit_manifest(out_dir: str, partition: str | None, summary: dict) -> None:
    """Job-level commit marker: atomically (temp + rename) publish
    `_MANIFEST.json` mapping each ingested partition label ("" = flat)
    to its summary, then touch `_SUCCESS`. A reader that requires the
    marker (``Warehouse(..., require_manifest=True)``) can distinguish a
    complete warehouse from one whose driver died mid-job. Single-writer
    per warehouse (same as any Spark output path)."""
    import json
    import uuid

    mpath = os.path.join(out_dir, "_MANIFEST.json")
    data: dict = {"partitions": {}}
    if os.path.exists(mpath):
        try:
            with open(mpath) as f:
                data = json.load(f)
        except (OSError, ValueError):
            data = {"partitions": {}}
    data.setdefault("partitions", {})[partition or ""] = summary
    tmp = mpath + f".{uuid.uuid4().hex[:12]}.tmp"
    with open(tmp, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
    os.replace(tmp, mpath)
    with open(os.path.join(out_dir, "_SUCCESS"), "w"):
        pass


def count_records(hprof_path: str) -> list[tuple[str, int]]:
    """`count-records` CLI equivalent (A3): tally of top-level record
    tags, descending (≙ /root/reference/src/commands/count_records.rs:7-29).

    The dump is mmap'd, not read into memory: iter_records only touches
    the 9-byte record headers (seeking over bodies), so a multi-GB heap
    costs O(touched pages), keeping the header-only driver posture."""
    import mmap

    with open(hprof_path, "rb") as f:
        with mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as buf:
            header = H.read_header(buf)
            counts: dict[str, int] = defaultdict(int)
            for tag, _, _ in H.iter_records(buf, header):
                counts[H.TAG_NAMES.get(tag, f"0x{tag:02x}")] += 1
    return sorted(counts.items(), key=lambda kv: (-kv[1], kv[0]))
