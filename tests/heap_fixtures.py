"""Deterministic heap-shaped fixture warehouse (FIXTURES.md Group 2).

Generates a small synthetic version of the reference's robo-mode heap
Parquet layout (SURVEY.md §1.3): bare BIGINT refs, null refs encoded as
id 0, `_object_index` covering every object. Seed 42; every waste check
has a non-trivial, hand-countable answer.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEED = 42


def convert_to_reference_layout(
    native_dir: str, ref_dir: str, robo: bool = True, chunks: int = 2
) -> None:
    """Rewrite a native fixture warehouse into the reference binary's
    flat naming scheme ({Class}_{cid}[_chunk{N}].parquet, literal
    "_"-prefixed system files, dump_to_parquet.rs:404,669-694) with the
    reference's unsigned-64-bit id columns, for interop tests."""
    import os

    import pyarrow.compute as pc

    os.makedirs(ref_dir, exist_ok=True)
    next_cid = 7_000_000
    for f in sorted(os.listdir(native_dir)):
        if not f.endswith(".parquet"):
            continue
        t = pq.read_table(f"{native_dir}/{f}")
        # reference ids are UInt64: cast every non-negative int64 column
        # (and list<int64>) up — obj_id, ref fields, frame ids, ...
        for i, field in enumerate(t.schema):
            col = t.column(i)
            if field.type == pa.int64():
                mn = pc.min(col).as_py()
                if mn is not None and mn >= 0:
                    t = t.set_column(i, field.name, pc.cast(col, pa.uint64()))
            elif field.type == pa.list_(pa.int64()):
                mn = pc.min(pc.list_flatten(col)).as_py()
                if mn is None or mn >= 0:
                    t = t.set_column(i, field.name, pc.cast(col, pa.list_(pa.uint64())))
        stem = f[: -len(".parquet")]
        if stem.startswith("sys_"):
            base = "_" + stem[len("sys_"):]
        else:
            base = f"{stem}_{next_cid}"
            next_cid += 1
        if robo:
            n = min(chunks, max(1, t.num_rows))
            step = -(-t.num_rows // n) if t.num_rows else 1
            for k in range(n):
                pq.write_table(
                    t.slice(k * step, step), f"{ref_dir}/{base}_chunk{k}.parquet"
                )
        else:
            pq.write_table(t, f"{ref_dir}/{base}.parquet")


class _Ids:
    def __init__(self):
        self.next_id = 1000

    def take(self, n: int) -> list[int]:
        out = list(range(self.next_id, self.next_id + n))
        self.next_id += n
        return out


def _write(outdir, name: str, table: pa.Table) -> None:
    # Spark cannot read "_"-prefixed files (reserved for metadata), so
    # system tables are stored as sys_<name>.parquet (see catalog.Warehouse).
    physical = f"sys{name}" if name.startswith("_") else name
    pq.write_table(table, f"{outdir}/{physical}.parquet", compression="snappy")


def generate_heap_warehouse(outdir: str) -> dict:
    """Write all Group-2 tables into *outdir*; returns ground-truth
    counts used by the tests."""
    rng = np.random.default_rng(SEED)
    ids = _Ids()
    index_rows: list[tuple[int, str]] = []  # (obj_id, type_name)

    def idx(objs, type_name):
        index_rows.extend((o, type_name) for o in objs)

    truth: dict = {}

    # --- _primitive_arrays_byte -------------------------------------------
    # Duplicate pool: 40 distinct contents reused ~5x each (dup groups).
    pool = [
        rng.integers(-128, 128, size=rng.integers(5, 60), dtype=np.int8).tolist()
        for _ in range(40)
    ]
    byte_vals: list[list[int]] = []
    for i in range(200):
        byte_vals.append(pool[int(rng.integers(0, 40))])
    byte_vals += [[] for _ in range(20)]  # zero-length
    byte_vals += [[int(rng.integers(-128, 128))] for _ in range(15)]  # single
    byte_vals += [[0] * int(rng.integers(5, 50)) for _ in range(10)]  # all-zero
    byte_vals += [rng.integers(-128, 128, size=12000, dtype=np.int8).tolist() for _ in range(3)]
    byte_vals += [rng.integers(-128, 128, size=120000, dtype=np.int8).tolist() for _ in range(2)]
    byte_ids = ids.take(len(byte_vals))
    _write(
        outdir,
        "_primitive_arrays_byte",
        pa.table(
            {"obj_id": pa.array(byte_ids, pa.int64()), "values": pa.array(byte_vals, pa.list_(pa.int8()))}
        ),
    )
    idx(byte_ids, "byte[]")

    # --- other primitive array types --------------------------------------
    prim_arrow = {
        "boolean": pa.bool_(),
        "char": pa.int32(),
        "short": pa.int16(),
        "int": pa.int32(),
        "long": pa.int64(),
        "float": pa.float32(),
        "double": pa.float64(),
    }
    for ptype, at in prim_arrow.items():
        vals: list[list] = []
        for _ in range(10):  # normal
            n = int(rng.integers(2, 12))
            if ptype == "boolean":
                vals.append([bool(x) for x in rng.integers(0, 2, n)])
            elif ptype in ("float", "double"):
                vals.append([float(x) for x in rng.normal(size=n)])
            else:
                vals.append([int(x) for x in rng.integers(1, 100, n)])
        vals += [[] for _ in range(3)]  # zero-length
        # single
        for _ in range(3):
            vals.append([True] if ptype == "boolean" else ([1.5] if ptype in ("float", "double") else [7]))
        # all-zero (all-false)
        for _ in range(2):
            n = int(rng.integers(2, 8))
            vals.append([False] * n if ptype == "boolean" else ([0.0] * n if ptype in ("float", "double") else [0] * n))
        pids = ids.take(len(vals))
        _write(
            outdir,
            f"_primitive_arrays_{ptype}",
            pa.table({"obj_id": pa.array(pids, pa.int64()), "values": pa.array(vals, pa.list_(at))}),
        )
        idx(pids, f"{ptype}[]")
    truth["prim_zero_per_type"] = 3
    truth["prim_single_per_type"] = 3
    truth["prim_all_zero_per_type"] = 2

    # --- _object_arrays ----------------------------------------------------
    oa_vals: list[list[int]] = []
    oa_names: list[str] = []

    def add_oa(elements: list[int], cls: str = "java.lang.Object[]") -> None:
        oa_vals.append(elements)
        oa_names.append(cls)

    live_refs = byte_ids[:50]
    for _ in range(50):  # normal
        n = int(rng.integers(2, 20))
        add_oa([int(live_refs[i]) for i in rng.integers(0, 50, n)])
    for _ in range(10):
        add_oa([])  # zero-length
    for _ in range(8):
        add_oa([0, 0, 0, 0])  # all-null
    for _ in range(12):
        add_oa([int(live_refs[int(rng.integers(0, 50))])])  # single
    for _ in range(6):  # sparse: 10 slots, 8 null
        els = [0] * 10
        els[0] = int(live_refs[0])
        els[5] = int(live_refs[1])
        add_oa(els)
    # duplicate sequences: 4 distinct triples × 3 copies
    for k in range(4):
        seq = [int(live_refs[k]), int(live_refs[k + 1]), int(live_refs[k + 2])]
        for _ in range(3):
            add_oa(seq)

    # HashMap backing tables: 30 normal (util ok), 6 sparse (size 3/len 32)
    hm_normal_tables = []
    for _ in range(30):
        ln = 16
        els = [int(live_refs[int(rng.integers(0, 50))]) if i < 12 else 0 for i in range(ln)]
        hm_normal_tables.append(len(oa_vals))
        add_oa(els, "java.util.HashMap$Node[]")
    hm_sparse_tables = []
    for _ in range(6):
        els = [0] * 32
        els[0] = int(live_refs[3])
        els[9] = int(live_refs[4])
        els[17] = int(live_refs[5])
        hm_sparse_tables.append(len(oa_vals))
        add_oa(els, "java.util.HashMap$Node[]")
    # ArrayList backing: 25 right-sized (len == size), 9 oversized (size 4, len 24)
    al_normal = []
    for _ in range(25):
        n = int(rng.integers(2, 10))
        al_normal.append((len(oa_vals), n))
        add_oa([int(live_refs[int(rng.integers(0, 50))]) for _ in range(n)])
    al_oversized = []
    for _ in range(9):
        els = [int(live_refs[int(rng.integers(0, 50))]) if i < 4 else 0 for i in range(24)]
        al_oversized.append((len(oa_vals), 4))
        add_oa(els)

    oa_ids = ids.take(len(oa_vals))
    _write(
        outdir,
        "_object_arrays",
        pa.table(
            {
                "obj_id": pa.array(oa_ids, pa.int64()),
                "class_name": pa.array(oa_names, pa.string()),
                "elements": pa.array(oa_vals, pa.list_(pa.int64())),
            }
        ),
    )
    idx(oa_ids, "java.lang.Object[]")
    truth["oa_zero"] = 10
    truth["oa_all_null"] = 8 + 9  # plain all-null + oversized ArrayList(4/24)? no —
    # oversized ArrayList arrays have 4 non-null of 24 → sparse (>70% null), not all_null.
    truth["oa_all_null"] = 8
    truth["oa_single"] = 12
    # sparse: 6 crafted + 6 hm_sparse (3/32 non-null → 29/32 null > 0.7)
    # + 9 oversized AL arrays (20/24 null > 0.7)
    truth["oa_sparse"] = 6 + 6 + 9

    # --- java.lang.String --------------------------------------------------
    # values reference the dup-pool byte arrays → duplicate string groups
    str_val: list[int] = []
    for i in range(300):
        str_val.append(int(byte_ids[int(rng.integers(0, 200))]))
    str_val += [0] * 10  # null value refs
    s_ids = ids.take(len(str_val))
    _write(
        outdir,
        "java.lang.String",
        pa.table(
            {
                "obj_id": pa.array(s_ids, pa.int64()),
                "value": pa.array(str_val, pa.int64()),
                "coder": pa.array([0] * len(str_val), pa.int8()),
                "hash": pa.array([0] * len(str_val), pa.int32()),
                "hashIsZero": pa.array([True] * len(str_val), pa.bool_()),
            }
        ),
    )
    idx(s_ids, "java.lang.String")

    # --- collections --------------------------------------------------------
    def coll(name, n_normal, n_empty, n_single, extra_cols, size_col="size"):
        sizes = (
            [int(rng.integers(2, 50)) for _ in range(n_normal)]
            + [0] * n_empty
            + [1] * n_single
        )
        c_ids = ids.take(len(sizes))
        cols = {"obj_id": pa.array(c_ids, pa.int64()), size_col: pa.array(sizes, pa.int32())}
        cols.update(extra_cols(len(sizes), c_ids))
        _write(outdir, name, pa.table(cols))
        idx(c_ids, name)
        return c_ids, sizes

    # HashMap: 30 normal backed by hm_normal_tables (size 12 → util 0.75),
    # 6 sparse (size 3, table len 32), 10 empty, 8 single.
    hm_sizes = [12] * 30 + [3] * 6 + [0] * 10 + [1] * 8
    hm_tables = (
        [oa_ids[i] for i in hm_normal_tables]
        + [oa_ids[i] for i in hm_sparse_tables]
        + [0] * 10
        + [oa_ids[hm_normal_tables[0]]] * 8
    )
    hm_ids = ids.take(len(hm_sizes))
    _write(
        outdir,
        "java.util.HashMap",
        pa.table(
            {
                "obj_id": pa.array(hm_ids, pa.int64()),
                "size": pa.array(hm_sizes, pa.int32()),
                "table": pa.array(hm_tables, pa.int64()),
                "modCount": pa.array([0] * len(hm_sizes), pa.int32()),
                "threshold": pa.array([12] * len(hm_sizes), pa.int32()),
                "loadFactor": pa.array([0.75] * len(hm_sizes), pa.float32()),
            }
        ),
    )
    idx(hm_ids, "java.util.HashMap")
    truth["hashmap_empty"], truth["hashmap_single"], truth["hashmap_sparse"] = 10, 8, 6

    # ArrayList: 25 right-sized + 9 oversized + 12 empty + 7 single
    al_sizes = [n for _, n in al_normal] + [n for _, n in al_oversized] + [0] * 12 + [1] * 7
    al_elem = (
        [oa_ids[i] for i, _ in al_normal]
        + [oa_ids[i] for i, _ in al_oversized]
        + [0] * 12
        + [oa_ids[al_normal[0][0]]] * 7
    )
    al_ids = ids.take(len(al_sizes))
    _write(
        outdir,
        "java.util.ArrayList",
        pa.table(
            {
                "obj_id": pa.array(al_ids, pa.int64()),
                "size": pa.array(al_sizes, pa.int32()),
                "elementData": pa.array(al_elem, pa.int64()),
                "modCount": pa.array([0] * len(al_sizes), pa.int32()),
            }
        ),
    )
    idx(al_ids, "java.util.ArrayList")
    truth["arraylist_empty"], truth["arraylist_single"] = 12, 7
    truth["arraylist_oversized"] = 9

    ll_ids, ll_sizes = coll(
        "java.util.LinkedList",
        8,
        4,
        3,
        lambda n, cids: {
            "first": pa.array([0] * n, pa.int64()),
            "last": pa.array([0] * n, pa.int64()),
            "modCount": pa.array([0] * n, pa.int32()),
        },
    )
    truth["linkedlist_empty"], truth["linkedlist_single"] = 4, 3
    tm_ids, _ = coll(
        "java.util.TreeMap",
        7,
        3,
        2,
        lambda n, cids: {
            "root": pa.array([0] * n, pa.int64()),
            "modCount": pa.array([0] * n, pa.int32()),
        },
    )
    truth["treemap_empty"], truth["treemap_single"] = 3, 2

    chm_sizes = [int(rng.integers(2, 40)) for _ in range(6)] + [0] * 2 + [1] * 2
    chm_ids = ids.take(len(chm_sizes))
    _write(
        outdir,
        "java.util.concurrent.ConcurrentHashMap",
        pa.table(
            {
                "obj_id": pa.array(chm_ids, pa.int64()),
                "baseCount": pa.array(chm_sizes, pa.int64()),
                "table": pa.array([0] * len(chm_sizes), pa.int64()),
                "sizeCtl": pa.array([16] * len(chm_sizes), pa.int32()),
            }
        ),
    )
    idx(chm_ids, "java.util.concurrent.ConcurrentHashMap")
    truth["chm_empty"], truth["chm_single"] = 2, 2

    # --- boxed wrappers -----------------------------------------------------
    wrapper_counts = {
        "java.lang.Integer": 120,
        "java.lang.Long": 40,
        "java.lang.Short": 10,
        "java.lang.Byte": 15,
        "java.lang.Float": 8,
        "java.lang.Double": 20,
        "java.lang.Boolean": 12,
        "java.lang.Character": 9,
    }
    wrapper_arrow = {
        "java.lang.Integer": pa.int32(),
        "java.lang.Long": pa.int64(),
        "java.lang.Short": pa.int16(),
        "java.lang.Byte": pa.int8(),
        "java.lang.Float": pa.float32(),
        "java.lang.Double": pa.float64(),
        "java.lang.Boolean": pa.bool_(),
        "java.lang.Character": pa.int32(),
    }
    for wtype, cnt in wrapper_counts.items():
        w_ids = ids.take(cnt)
        at = wrapper_arrow[wtype]
        if at == pa.bool_():
            vals = [bool(x) for x in rng.integers(0, 2, cnt)]
        elif at in (pa.float32(), pa.float64()):
            vals = [float(x) for x in rng.normal(size=cnt)]
        else:
            vals = [int(x) for x in rng.integers(-100, 100, cnt)]
        _write(
            outdir,
            wtype,
            pa.table({"obj_id": pa.array(w_ids, pa.int64()), "value": pa.array(vals, at)}),
        )
        idx(w_ids, wtype)
    truth["boxed_total"] = sum(wrapper_counts.values())

    # --- java.lang.Thread ---------------------------------------------------
    statuses = [0] * 2 + [0x0005] * 6 + [0x0002] * 3 + [0x0191] * 4 + [0x0201] * 5 + [0x0401] * 2
    t_ids = ids.take(len(statuses))
    _write(
        outdir,
        "java.lang.Thread",
        pa.table(
            {
                "obj_id": pa.array(t_ids, pa.int64()),
                "threadStatus": pa.array(statuses, pa.int32()),
                "tid": pa.array(list(range(1, len(statuses) + 1)), pa.int64()),
                "name": pa.array([s_ids[i] for i in range(len(statuses))], pa.int64()),
                "priority": pa.array([5] * len(statuses), pa.int32()),
                "daemon": pa.array([False] * len(statuses), pa.bool_()),
            }
        ),
    )
    idx(t_ids, "java.lang.Thread")
    truth["threads_alive"] = 6 + 4 + 5 + 2  # status has ALIVE bit, no TERMINATED bit
    truth["threads_total"] = len(statuses)

    # --- java.nio.DirectByteBuffer -----------------------------------------
    caps = [0] * 4 + [4096] * 6 + [8192] * 8 + [1 << 20]
    pos = [0] * 4 + [0] * 6 + [100] * 8 + [0]
    lim = [0] * 4 + [4096] * 6 + [4000] * 8 + [1 << 20]
    d_ids = ids.take(len(caps))
    _write(
        outdir,
        "java.nio.DirectByteBuffer",
        pa.table(
            {
                "obj_id": pa.array(d_ids, pa.int64()),
                "capacity": pa.array(caps, pa.int32()),
                "position": pa.array(pos, pa.int32()),
                "limit": pa.array(lim, pa.int32()),
                "address": pa.array([0] * len(caps), pa.int64()),
            }
        ),
    )
    idx(d_ids, "java.nio.DirectByteBuffer")
    # untouched = pos==0 and limit==capacity: the 4 empty (0,0,0) + 6 + the 1MB one
    truth["dbb_untouched_bytes"] = 6 * 4096 + (1 << 20)
    truth["dbb_empty"] = 4
    truth["dbb_total_capacity"] = sum(caps)

    # --- _gc_roots ----------------------------------------------------------
    root_kinds = [
        ("JniGlobal", 25),
        ("JniLocal", 10),
        ("JavaStackFrame", 60),
        ("NativeStack", 8),
        ("SystemClass", 40),
        ("ThreadBlock", 5),
        ("BusyMonitor", 3),
        ("ThreadObj", 22),
        ("Unknown", 2),
    ]
    rt, ro, rts, rfi = [], [], [], []
    all_ref = byte_ids + oa_ids
    for kind, cnt in root_kinds:
        for i in range(cnt):
            rt.append(kind)
            ro.append(int(all_ref[int(rng.integers(0, len(all_ref)))]))
            threaded = kind in ("ThreadObj", "JavaStackFrame", "JniLocal")
            rts.append(int(rng.integers(1, 20)) if threaded else None)
            rfi.append(int(rng.integers(0, 30)) if threaded else None)
    _write(
        outdir,
        "_gc_roots",
        pa.table(
            {
                "root_type": pa.array(rt, pa.string()),
                "obj_id": pa.array(ro, pa.int64()),
                "thread_serial": pa.array(rts, pa.int32()),
                "frame_index": pa.array(rfi, pa.int32()),
            }
        ),
    )
    truth["gc_roots_total"] = sum(c for _, c in root_kinds)

    # --- _static_fields -----------------------------------------------------
    sf_rows = []
    for i in range(30):
        is_ref = i % 2 == 0
        sf_rows.append(
            (
                1,
                "com.example.Holder",
                f"field_{i}",
                "Object" if is_ref else "int",
                "" if is_ref else str(i),
                int(all_ref[i]) if is_ref else 0,
            )
        )
    _write(
        outdir,
        "_static_fields",
        pa.table(
            {
                "class_obj_id": pa.array([r[0] for r in sf_rows], pa.int64()),
                "class_name": pa.array([r[1] for r in sf_rows], pa.string()),
                "field_name": pa.array([r[2] for r in sf_rows], pa.string()),
                "field_type": pa.array([r[3] for r in sf_rows], pa.string()),
                "primitive_value": pa.array([r[4] for r in sf_rows], pa.string()),
                "ref_id": pa.array([r[5] for r in sf_rows], pa.int64()),
            }
        ),
    )

    # --- _stack_frames / _stack_traces --------------------------------------
    frame_classes = (
        ["java.lang.Thread"] * 6
        + ["java.util.concurrent.ThreadPoolExecutor"] * 5
        + ["com.example.WorkerLoop"] * 4
        + ["io.server.NettyExecutorHandler"] * 3
        + ["com.example.Service"] * 22
    )
    f_ids = ids.take(len(frame_classes))
    _write(
        outdir,
        "_stack_frames",
        pa.table(
            {
                "frame_id": pa.array(f_ids, pa.int64()),
                "class_name": pa.array(frame_classes, pa.string()),
                "method_name": pa.array([f"m{i}" for i in range(len(f_ids))], pa.string()),
                "method_signature": pa.array(["()V"] * len(f_ids), pa.string()),
                "source_file": pa.array(["Src.java"] * len(f_ids), pa.string()),
                "line_num": pa.array(
                    [-1, -2, -3] + [int(rng.integers(1, 500)) for _ in range(len(f_ids) - 3)],
                    pa.int32(),
                ),
            }
        ),
    )

    depths = [0] * 3 + [int(rng.integers(1, 6)) for _ in range(8)] + [
        int(rng.integers(6, 21)) for _ in range(10)
    ] + [int(rng.integers(21, 51)) for _ in range(6)] + [55] * 3
    tr_frames = [
        [int(f_ids[int(rng.integers(0, len(f_ids)))]) for _ in range(d)] for d in depths
    ]
    _write(
        outdir,
        "_stack_traces",
        pa.table(
            {
                "stack_trace_serial": pa.array(list(range(1, len(depths) + 1)), pa.int32()),
                "thread_serial": pa.array([int(rng.integers(1, 20)) for _ in depths], pa.int32()),
                "frame_ids": pa.array(tr_frames, pa.list_(pa.int64())),
            }
        ),
    )
    truth["trace_count"] = len(depths)

    # --- _class_hierarchy ----------------------------------------------------
    chain = [
        "com.heaptest.hr.Recruiter",
        "com.heaptest.hr.Employee",
        "com.heaptest.hr.Person",
        "com.heaptest.core.TaggableEntity",
        "com.heaptest.core.AuditableEntity",
        "com.heaptest.core.BaseEntity",
        "java.lang.Object",
    ]
    cls_ids = ids.take(len(chain))
    _write(
        outdir,
        "_class_hierarchy",
        pa.table(
            {
                "class_obj_id": pa.array(cls_ids, pa.int64()),
                "class_name": pa.array(chain, pa.string()),
                "super_class_obj_id": pa.array(cls_ids[1:] + [None], pa.int64()),
                "super_class_name": pa.array(chain[1:] + [None], pa.string()),
            }
        ),
    )

    # --- classes whose names are not SQL identifiers -------------------------
    # Inner and anonymous classes carry `$`, as in every real JDK heap;
    # `a.b_c` and `a_b.c` sanitize to the same identifier.
    truth["odd_name_classes"] = {}
    for k, cname in enumerate(("com.heaptest.Outer$Inner", "com.heaptest.Foo$1", "a.b_c", "a_b.c")):
        o_ids = ids.take(2)
        _write(
            outdir,
            cname,
            pa.table({"obj_id": pa.array(o_ids, pa.int64()), "tag": pa.array([k, k], pa.int32())}),
        )
        idx(o_ids, cname)
        truth["odd_name_classes"][cname] = k

    # --- _object_index -------------------------------------------------------
    _write(
        outdir,
        "_object_index",
        pa.table(
            {
                "obj_id": pa.array([r[0] for r in index_rows], pa.int64()),
                "type_name": pa.array([r[1] for r in index_rows], pa.string()),
            }
        ),
    )
    truth["total_objects"] = len(index_rows)
    truth["unique_classes"] = len({r[1] for r in index_rows})
    return truth
