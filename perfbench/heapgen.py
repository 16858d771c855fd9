"""Seeded synthetic JVM heap dumps with ground truth.

The dump is written through the package's public
``ingest.hprof_writer.HprofWriter`` (header, strings, LoadClass, stack
frames/traces, class dumps, GC roots, segment framing); the bulk
instance and array sub-records are packed with NumPy structured arrays
so a dump of tens of megabytes is written in well under a second.

The heap has the shapes the waste checks and the reachability BFS
read: ``java.lang.String`` over ``byte[]`` with Zipf-duplicated values,
``HashMap``/``ArrayList`` with under-filled backing arrays, boxed
``Integer``/``Long``, ``Thread`` objects with stack traces,
``DirectByteBuffer``s, bad object/primitive arrays, rooted reference
chains of a fixed depth and a fixed fraction of unreachable garbage.

Every object count is fixed by the parameters; the seed only permutes
values, sizes and which items become garbage, so the cost of one
dump does not depend on the seed. Ground truth (per-table row counts,
duplicate strings, reachable/unreachable counts and BFS depth from a
Python BFS, single-referrer pairs) is computed from the generator's
own object and edge lists, never from the ingest output.
"""

from __future__ import annotations

import dataclasses
import hashlib
import json
import os
from collections import Counter

import numpy as np

from heapdumpstardiver_spark.ingest.hprof_writer import HprofWriter

#: bump whenever the generated bytes or the truth change for given params
GENERATOR_VERSION = 5

# HPROF basic type codes and GC-root sub-record tags
T_OBJ, T_BOOL, T_FLOAT, T_BYTE, T_INT, T_LONG = 2, 4, 6, 8, 10, 11
ROOT_JNI_GLOBAL, ROOT_JAVA_FRAME, ROOT_STICKY_CLASS, ROOT_THREAD_OBJ = 0x01, 0x03, 0x05, 0x08
ROOT_NAMES = {
    ROOT_JNI_GLOBAL: "JniGlobal",
    ROOT_JAVA_FRAME: "JavaStackFrame",
    ROOT_STICKY_CLASS: "SystemClass",
    ROOT_THREAD_OBJ: "ThreadObj",
}
_FIELD_DT = {T_OBJ: ">u8", T_BOOL: "u1", T_FLOAT: ">f4", T_BYTE: "i1", T_INT: ">i4", T_LONG: ">i8"}
_PRIM_DT = {T_BYTE: "i1", T_INT: ">i4", T_LONG: ">i8"}
_PRIM_NAME = {T_BYTE: "byte", T_INT: "int", T_LONG: "long"}

# (jvm name, [(field, type code)]) — every class extends java.lang.Object
CLASSES = {
    "java/lang/Object": [],
    "java/lang/String": [("value", T_OBJ), ("coder", T_BYTE), ("hash", T_INT), ("hashIsZero", T_BOOL)],
    "java/util/HashMap": [
        ("table", T_OBJ), ("size", T_INT), ("modCount", T_INT), ("threshold", T_INT), ("loadFactor", T_FLOAT),
    ],
    "com/perfbench/MapNode": [("hash", T_INT), ("key", T_OBJ), ("value", T_OBJ), ("next", T_OBJ)],
    "java/util/ArrayList": [("elementData", T_OBJ), ("size", T_INT), ("modCount", T_INT)],
    "java/lang/Integer": [("value", T_INT)],
    "java/lang/Long": [("value", T_LONG)],
    "java/lang/Thread": [("name", T_OBJ), ("tid", T_LONG), ("threadStatus", T_INT), ("daemon", T_BOOL)],
    "java/nio/DirectByteBuffer": [
        ("address", T_LONG), ("capacity", T_INT), ("position", T_INT), ("limit", T_INT), ("mark", T_INT),
    ],
    "com/perfbench/ChainNode": [("next", T_OBJ), ("payload", T_OBJ), ("depth", T_INT)],
    # array classes and classes that only appear in stack frames
    "[Ljava/lang/Object;": [],
    "[Lcom/perfbench/MapNode;": [],
    "java/util/concurrent/ThreadPoolExecutor$Worker": [],
    "java/util/concurrent/ForkJoinWorkerThread": [],
    "com/perfbench/RequestHandler": [],
}
_CLASS_ID = {name: 0x100 + i for i, name in enumerate(CLASSES)}
_FRAME_CLASSES = [
    "java/lang/Thread",
    "java/util/concurrent/ThreadPoolExecutor$Worker",
    "java/util/concurrent/ForkJoinWorkerThread",
    "com/perfbench/RequestHandler",
]


def java_name(jvm: str) -> str:
    """Type name as the warehouse spells it (`[Ljava/lang/Object;` →
    `java.lang.Object[]`)."""
    if jvm.startswith("[L"):
        return jvm[2:-1].replace("/", ".") + "[]"
    return jvm.replace("/", ".")


@dataclasses.dataclass(frozen=True)
class HeapParams:
    n_strings: int = 60_000
    n_distinct: int = 6_000
    n_maps: int = 6_000
    n_lists: int = 6_000
    n_chains: int = 400
    chain_depth: int = 6
    n_threads: int = 48
    n_buffers: int = 256
    n_bad_arrays: int = 400
    n_large_arrays: int = 4
    garbage_frac: float = 0.15
    segment_bytes: int = 1 << 20

    def key(self) -> str:
        blob = json.dumps(dataclasses.asdict(self), sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:12]


class _Heap:
    """Object/edge/root bookkeeping plus the packed sub-record blobs."""

    def __init__(self):
        self.next_id = 0x100000
        self.blobs: list[np.ndarray] = []  # structured record arrays
        self.ids: list[np.ndarray] = []
        self.types: list[tuple[str, int]] = []
        self.src: list[np.ndarray] = []
        self.dst: list[np.ndarray] = []
        self.roots: list[tuple[int, int, bytes]] = []  # (tag, obj_id, extra)
        self.table_rows: Counter = Counter()

    def alloc(self, n: int) -> np.ndarray:
        ids = np.arange(self.next_id, self.next_id + n, dtype=np.uint64)
        self.next_id += n
        return ids

    def _register(self, ids: np.ndarray, type_name: str, table: str) -> None:
        self.ids.append(ids)
        self.types.append((type_name, len(ids)))
        self.table_rows[table] += len(ids)

    def edges(self, src: np.ndarray, dst: np.ndarray) -> None:
        keep = dst != 0
        self.src.append(np.asarray(src, dtype=np.uint64)[keep])
        self.dst.append(np.asarray(dst, dtype=np.uint64)[keep])

    def instances(self, cls: str, ids: np.ndarray, **values) -> None:
        fields = CLASSES[cls]
        dt = np.dtype(
            [("tag", "u1"), ("oid", ">u8"), ("ser", ">u4"), ("cid", ">u8"), ("n", ">u4")]
            + [(f, _FIELD_DT[t]) for f, t in fields]
        )
        rec = np.zeros(len(ids), dtype=dt)
        rec["tag"], rec["oid"], rec["ser"], rec["cid"] = 0x21, ids, 1, _CLASS_ID[cls]
        rec["n"] = dt.itemsize - 25
        for f, t in fields:
            if f in values:
                rec[f] = values[f]
                if t == T_OBJ:
                    self.edges(ids, np.broadcast_to(np.asarray(values[f], dtype=np.uint64), ids.shape))
        self.blobs.append(rec)
        self._register(ids, java_name(cls), java_name(cls))

    def prim_arrays(self, t: int, ids: np.ndarray, values: np.ndarray) -> None:
        """``values``: (n, length) array — all arrays in one call share a length."""
        length = values.shape[1]
        dt = [("tag", "u1"), ("oid", ">u8"), ("ser", ">u4"), ("n", ">u4"), ("t", "u1")]
        if length:
            dt.append(("v", _PRIM_DT[t], (length,)))
        rec = np.zeros(len(ids), dtype=np.dtype(dt))
        rec["tag"], rec["oid"], rec["ser"], rec["n"], rec["t"] = 0x23, ids, 1, length, t
        if length:
            rec["v"] = values
        self.blobs.append(rec)
        self._register(ids, f"{_PRIM_NAME[t]}[]", f"_primitive_arrays_{_PRIM_NAME[t]}")

    def obj_arrays(self, cls: str, ids: np.ndarray, elements: np.ndarray) -> None:
        """``elements``: (n, length) uint64 — 0 is a null slot."""
        length = elements.shape[1]
        dt = [("tag", "u1"), ("oid", ">u8"), ("ser", ">u4"), ("n", ">u4"), ("acid", ">u8")]
        if length:
            dt.append(("v", ">u8", (length,)))
        rec = np.zeros(len(ids), dtype=np.dtype(dt))
        rec["tag"], rec["oid"], rec["ser"], rec["n"], rec["acid"] = 0x22, ids, 1, length, _CLASS_ID[cls]
        if length:
            rec["v"] = elements
            self.edges(np.repeat(ids, length), elements.ravel())
        self.blobs.append(rec)
        self._register(ids, java_name(cls), "_object_arrays")

    def ragged_obj_arrays(self, cls: str, ids: np.ndarray, rows: list[np.ndarray]) -> None:
        lengths = np.array([len(r) for r in rows])
        for length in np.unique(lengths):
            sel = np.flatnonzero(lengths == length)
            el = np.array([rows[i] for i in sel], dtype=np.uint64).reshape(len(sel), int(length))
            self.obj_arrays(cls, ids[sel], el)


def _partition(rng, items: np.ndarray, garbage_frac: float) -> tuple[np.ndarray, np.ndarray]:
    """Split *items* into (live, garbage) with a fixed garbage count."""
    perm = rng.permutation(len(items))
    n_garbage = int(round(len(items) * garbage_frac))
    return items[np.sort(perm[n_garbage:])], items[np.sort(perm[:n_garbage])]


def _fixed_multiset(rng, choices, n: int) -> np.ndarray:
    """*n* values cycling through *choices*, shuffled: the multiset (and
    so every total derived from it) is seed-independent."""
    return rng.permutation(np.resize(np.asarray(choices), n))


def generate_heap(path: str, seed: int, p: HeapParams) -> dict:
    """Write the dump to *path* and return its ground truth."""
    rng = np.random.default_rng(seed)
    w = HprofWriter(id_size=8)
    h = _Heap()
    serial = {}
    for i, name in enumerate(CLASSES, start=1):
        serial[name] = i
        w.load_class(i, _CLASS_ID[name], name)

    # -- strings over byte[] with Zipf-duplicated values ---------------------
    lengths = _fixed_multiset(rng, np.arange(8, 48), p.n_distinct)
    letters = rng.integers(97, 123, size=(p.n_distinct, 48), dtype=np.int8)
    # rank r is drawn with weight 1/(r+1); a fixed-size draw per seed
    weights = 1.0 / np.arange(1, p.n_distinct + 1)
    choice = rng.choice(p.n_distinct, size=p.n_strings, p=weights / weights.sum())
    str_ids = h.alloc(p.n_strings)
    barr_ids = h.alloc(p.n_strings)
    str_len = lengths[choice]
    for length in np.unique(str_len):
        sel = np.flatnonzero(str_len == length)
        h.prim_arrays(T_BYTE, barr_ids[sel], letters[choice[sel], :length])
    h.instances("java/lang/String", str_ids, value=barr_ids, coder=0, hash=0, hashIsZero=1)
    counts = np.bincount(choice, minlength=p.n_distinct)
    dup = counts[counts > 1]
    truth = {
        "dup_strings": int(dup.sum()),
        "dup_values": int(len(dup)),
        "dup_counts_top": sorted((int(c) for c in dup), reverse=True)[:20],
    }
    str_cursor = 0

    def take_strings(n: int) -> np.ndarray:
        nonlocal str_cursor
        out = str_ids[str_cursor:str_cursor + n]
        str_cursor += n
        return out

    # -- HashMaps: Node(key=String, value=Integer) in under-filled tables ----
    map_ids = h.alloc(p.n_maps)
    sizes = _fixed_multiset(rng, [0, 0, 1, 1, 2, 3, 4, 6], p.n_maps)
    caps = _fixed_multiset(rng, [16, 16, 16, 32, 64], p.n_maps)
    n_nodes = int(sizes.sum())
    node_ids, int_ids = h.alloc(n_nodes), h.alloc(n_nodes)
    h.instances("java/lang/Integer", int_ids, value=rng.integers(-1000, 1000, n_nodes))
    h.instances("com/perfbench/MapNode", node_ids, hash=rng.integers(0, 1 << 30, n_nodes),
                key=take_strings(n_nodes), value=int_ids, next=0)
    has_table = sizes > 0
    table_ids = np.zeros(p.n_maps, dtype=np.uint64)
    table_ids[has_table] = h.alloc(int(has_table.sum()))
    ends = np.cumsum(sizes)
    rows = []
    for i in np.flatnonzero(has_table):
        slots = np.zeros(caps[i], dtype=np.uint64)
        slots[rng.choice(caps[i], sizes[i], replace=False)] = node_ids[ends[i] - sizes[i]:ends[i]]
        rows.append(slots)
    h.ragged_obj_arrays("[Lcom/perfbench/MapNode;", table_ids[has_table], rows)
    h.instances("java/util/HashMap", map_ids, table=table_ids, size=sizes,
                modCount=sizes, threshold=(caps * 3) // 4, loadFactor=0.75)

    # -- ArrayLists of boxed Longs with oversized backing arrays -------------
    list_ids = h.alloc(p.n_lists)
    lsizes = _fixed_multiset(rng, [0, 1, 2, 3, 5, 8, 12], p.n_lists)
    lcaps = np.maximum(_fixed_multiset(rng, [10, 10, 20, 40], p.n_lists), lsizes)
    n_longs = int(lsizes.sum())
    long_ids = h.alloc(n_longs)
    h.instances("java/lang/Long", long_ids, value=rng.integers(0, 1 << 40, n_longs))
    edata = h.alloc(p.n_lists)
    lends = np.cumsum(lsizes)
    rows = []
    for i in range(p.n_lists):
        slots = np.zeros(lcaps[i], dtype=np.uint64)
        slots[:lsizes[i]] = long_ids[lends[i] - lsizes[i]:lends[i]]
        rows.append(slots)
    h.ragged_obj_arrays("[Ljava/lang/Object;", edata, rows)
    h.instances("java/util/ArrayList", list_ids, elementData=edata, size=lsizes, modCount=lsizes)

    # -- threads, stack frames and traces ------------------------------------
    thread_ids = h.alloc(p.n_threads)
    statuses = _fixed_multiset(rng, [0x0005, 0x0005, 0x0011, 0x0291, 0x0021, 0x0002, 0], p.n_threads)
    h.instances("java/lang/Thread", thread_ids, name=take_strings(p.n_threads),
                tid=np.arange(1, p.n_threads + 1), threadStatus=statuses, daemon=1)
    n_frames = 64
    frame_cls = _fixed_multiset(rng, _FRAME_CLASSES, n_frames)
    for f in range(n_frames):
        w.stack_frame(0xF000 + f, f"method{f % 7}", "()V", "Gen.java", serial[frame_cls[f]], 10 + f)
    depths = _fixed_multiset(rng, [0, 3, 8, 25, 60], p.n_threads)
    for t in range(p.n_threads):
        frames = [0xF000 + int(x) for x in rng.integers(0, n_frames, depths[t])]
        w.stack_trace(t + 1, t + 1, frames)
        h.roots.append((ROOT_THREAD_OBJ, int(thread_ids[t]), np.array([t + 1, t + 1], ">u4").tobytes()))

    # -- DirectByteBuffers ---------------------------------------------------
    dbb_ids = h.alloc(p.n_buffers)
    cap = _fixed_multiset(rng, [0, 4096, 65536, 1 << 20], p.n_buffers)
    untouched = rng.random(p.n_buffers) < 0.5
    pos = np.where(untouched, 0, cap // 2)
    h.instances("java/nio/DirectByteBuffer", dbb_ids, address=rng.integers(1 << 32, 1 << 40, p.n_buffers),
                capacity=cap, position=pos, limit=cap, mark=-1)

    # -- rooted reference chains of a fixed depth ----------------------------
    n_chain_nodes = p.n_chains * p.chain_depth
    chain_ids = h.alloc(n_chain_nodes).reshape(p.n_chains, p.chain_depth)
    payload_ids = h.alloc(n_chain_nodes)
    h.prim_arrays(T_BYTE, payload_ids, rng.integers(-128, 128, (n_chain_nodes, 32), dtype=np.int8))
    nxt = np.zeros_like(chain_ids)
    nxt[:, :-1] = chain_ids[:, 1:]
    h.instances("com/perfbench/ChainNode", chain_ids.ravel(), next=nxt.ravel(), payload=payload_ids,
                depth=np.tile(np.arange(p.chain_depth), p.n_chains))
    heads_live, _ = _partition(rng, chain_ids[:, 0], p.garbage_frac)
    for k, head in enumerate(heads_live):
        extra = np.array([k % p.n_threads + 1, k // p.n_threads], ">u4").tobytes()
        h.roots.append((ROOT_JAVA_FRAME, int(head), extra))

    # -- bad object / primitive arrays and a few large byte[] ----------------
    k = p.n_bad_arrays
    box_ids = h.alloc(k)
    h.instances("java/lang/Integer", box_ids, value=rng.integers(0, 100, k))
    bad_oa = h.alloc(4 * k)
    h.obj_arrays("[Ljava/lang/Object;", bad_oa[:k], np.zeros((k, 0), np.uint64))    # zero-length
    h.obj_arrays("[Ljava/lang/Object;", bad_oa[k:2 * k], np.zeros((k, 4), np.uint64))  # all-null
    sparse = np.zeros((k, 10), np.uint64)
    sparse[:, 0] = box_ids
    h.obj_arrays("[Ljava/lang/Object;", bad_oa[2 * k:3 * k], sparse)
    h.obj_arrays("[Ljava/lang/Object;", bad_oa[3 * k:], box_ids[:, None])            # single-element
    bad_pa = h.alloc(3 * k)
    h.prim_arrays(T_BYTE, bad_pa[:k], np.zeros((k, 0), np.int8))
    h.prim_arrays(T_INT, bad_pa[k:2 * k], np.zeros((k, 8), np.int32))
    h.prim_arrays(T_LONG, bad_pa[2 * k:], rng.integers(0, 1 << 20, (k, 1)))
    large = h.alloc(p.n_large_arrays)
    h.prim_arrays(T_BYTE, large, rng.integers(-128, 128, (p.n_large_arrays, 150_000), dtype=np.int8))

    # -- JNI global roots on the live collections; the rest is garbage -------
    # (collections sit at most 4 references above their leaves, so the
    # chains set the BFS depth)
    rest = take_strings(p.n_strings - str_cursor)
    pool_rows = [rest[i:i + 32] for i in range(0, len(rest), 32)]
    pool_ids = h.alloc(len(pool_rows))
    h.ragged_obj_arrays("[Ljava/lang/Object;", pool_ids, pool_rows)
    live = np.concatenate([
        _partition(rng, a, p.garbage_frac)[0]
        for a in (map_ids, list_ids, pool_ids, dbb_ids, bad_oa, bad_pa, large)
    ])
    for i, oid in enumerate(rng.permutation(live)):
        h.roots.append((ROOT_JNI_GLOBAL, int(oid), np.array([0xA000 + i], ">u8").tobytes()))

    # -- class objects (sticky-class roots) ----------------------------------
    class_ids = np.array([_CLASS_ID[c] for c in CLASSES], dtype=np.uint64)
    h.ids.append(class_ids)
    for c in CLASSES:
        h.types.append((f"class {java_name(c)}", 1))
        h.roots.append((ROOT_STICKY_CLASS, _CLASS_ID[c], b""))
    h.table_rows["_object_index"] = sum(len(a) for a in h.ids)

    _write(w, h, path, p.segment_bytes)
    truth.update(_graph_truth(h))
    truth.update(
        bytes=os.path.getsize(path),
        tables={k: int(v) for k, v in sorted(h.table_rows.items())},
        n_stack_traces=p.n_threads,
        n_stack_frames=n_frames,
        chain_depth=p.chain_depth,
        long_ids=[int(x) for x in long_ids],
        lookup_ids={str(int(i)): t for i, t in _sample_lookups(rng, h)},
    )
    return truth


def _write(w: HprofWriter, h: _Heap, path: str, segment_bytes: int) -> None:
    """Class dumps first, then the bulk records cut into segments at
    record boundaries, then the GC roots; atomically renamed into place."""
    seg = bytearray()
    for name, fields in CLASSES.items():
        seg += w.class_dump(
            _CLASS_ID[name], 0 if name == "java/lang/Object" else _CLASS_ID["java/lang/Object"],
            sum(np.dtype(_FIELD_DT[t]).itemsize for _, t in fields), [],
            [(w.sid(f), t) for f, t in fields],
        )
    for rec in h.blobs:
        per = max(1, segment_bytes // rec.dtype.itemsize)
        for start in range(0, len(rec), per):
            seg += rec[start:start + per].tobytes()
            if len(seg) >= segment_bytes:
                w.heap_segment(bytes(seg))
                seg = bytearray()
    for tag, oid, extra in h.roots:
        seg += w.root(tag, oid, extra)
    w.heap_segment(bytes(seg))
    w.heap_end()
    h.table_rows["_gc_roots"] = len(h.roots)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "wb") as f:
        f.write(w.buf)
    os.replace(tmp, path)


def _graph_truth(h: _Heap) -> dict:
    """Python BFS from the GC roots over the generator's edge list."""
    ids = np.concatenate(h.ids)
    type_of = np.concatenate([np.full(n, i) for i, (_, n) in enumerate(h.types)])
    type_names = [t for t, _ in h.types]
    order = np.argsort(ids)
    ids_sorted = ids[order]

    def index(x: np.ndarray) -> np.ndarray:
        return order[np.searchsorted(ids_sorted, x)]

    src = index(np.concatenate(h.src))
    dst = index(np.concatenate(h.dst))
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    src, dst = pairs[:, 0], pairs[:, 1]
    by_src = np.argsort(src, kind="stable")
    starts = np.searchsorted(src[by_src], np.arange(len(ids) + 1))

    seen = np.zeros(len(ids), dtype=bool)
    frontier = np.unique(index(np.array([r[1] for r in h.roots], dtype=np.uint64)))
    seen[frontier] = True
    depth = 0
    while True:
        nxt = np.concatenate([dst[by_src[starts[i]:starts[i + 1]]] for i in frontier] or [np.array([], int)])
        nxt = np.unique(nxt)
        nxt = nxt[~seen[nxt]]
        if len(nxt) == 0:
            break
        seen[nxt] = True
        frontier = nxt
        depth += 1

    indeg = np.bincount(dst, minlength=len(ids))
    single = indeg[dst] == 1
    named = Counter(
        (type_names[type_of[s]], type_names[type_of[d]]) for s, d in zip(src[single], dst[single])
    )
    top_pairs = sorted(named.items(), key=lambda kv: (-kv[1], kv[0]))[:20]
    type_counts = Counter()
    for name, n in h.types:
        type_counts[name] += n
    root_types = Counter()
    for tag, oid, _ in h.roots:
        root_types[(ROOT_NAMES[tag], type_names[type_of[index(np.array([oid], np.uint64))[0]]])] += 1
    return {
        "n_objects": int(len(ids)),
        "n_reachable": int(seen.sum()),
        "n_unreachable": int((~seen).sum()),
        "bfs_depth": depth,
        "type_counts": dict(type_counts),
        "single_referrer_top": [[a, b, n] for (a, b), n in top_pairs],
        "root_types": [[r, t, n] for (r, t), n in sorted(root_types.items())],
    }


def _sample_lookups(rng, h: _Heap, n: int = 12):
    """A fixed number of (obj_id, type_name) pairs for point lookups."""
    ids = np.concatenate(h.ids)
    names = np.concatenate([np.full(k, i) for i, (_, k) in enumerate(h.types)])
    pick = rng.choice(len(ids), n, replace=False)
    return [(ids[i], h.types[names[i]][0]) for i in pick]


def cached_heap(cache_dir: str, seed: int, p: HeapParams) -> tuple[str, dict]:
    """The dump and truth for (generator version, seed, params), generated
    on a miss. The key names the version and a hash of every parameter,
    so a file written by another generator or other params is never reused."""
    os.makedirs(cache_dir, exist_ok=True)
    stem = os.path.join(cache_dir, f"heap-v{GENERATOR_VERSION}-s{seed}-{p.key()}")
    path, truth_path = stem + ".hprof", stem + ".truth.json"
    if os.path.exists(path) and os.path.exists(truth_path):
        with open(truth_path) as f:
            truth = json.load(f)
        if truth.get("bytes") == os.path.getsize(path):
            return path, truth
    truth = generate_heap(path, seed, p)
    tmp = f"{truth_path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump(truth, f)
    os.replace(tmp, truth_path)
    return path, truth
