"""Minimal deterministic HPROF writer for ingestion tests.

Writes a syntactically valid HPROF 1.0.2 file (4- or 8-byte ids) from
the public format spec: strings, LoadClass records, stack frames/
traces, and heap-dump segments with class dumps (inheritance + a
shadowed field), instances, primitive/object arrays, and GC roots.
This is our own fixture generator — the spiritual twin of the
reference's Java test-heap-generator, not a copy of it.
"""

from __future__ import annotations

import struct


class HprofWriter:
    def __init__(self, id_size: int = 8):
        if id_size not in (4, 8):
            raise ValueError(f"id_size must be 4 or 8, got {id_size}")
        self.id_size = id_size
        self.ID = ">Q" if id_size == 8 else ">I"
        self.pack_id = struct.Struct(self.ID).pack
        self.buf = bytearray()
        self.buf += b"JAVA PROFILE 1.0.2\x00"
        self.buf += struct.pack(">III", id_size, 0, 42)  # id size, ts hi/lo
        self._next_string = 0x1000
        self._next_obj = 0x100000
        self.strings: dict[str, int] = {}

    # -- low level ----------------------------------------------------------
    def record(self, tag: int, body: bytes) -> None:
        self.buf += struct.pack(">BII", tag, 0, len(body)) + body

    def sid(self, text: str) -> int:
        if text not in self.strings:
            i = self._next_string
            self._next_string += 1
            self.strings[text] = i
            self.record(0x01, self.pack_id(i) + text.encode())
        return self.strings[text]

    def oid(self) -> int:
        self._next_obj += 1
        return self._next_obj

    # -- top level records --------------------------------------------------
    def load_class(self, serial: int, class_obj_id: int, jvm_name: str) -> None:
        self.record(
            0x02,
            struct.pack(">I", serial)
            + self.pack_id(class_obj_id)
            + struct.pack(">I", serial)
            + self.pack_id(self.sid(jvm_name)),
        )

    def stack_frame(self, frame_id, method, sig, source, class_serial, line):
        self.record(
            0x04,
            self.pack_id(frame_id)
            + self.pack_id(self.sid(method))
            + self.pack_id(self.sid(sig))
            + self.pack_id(self.sid(source))
            + struct.pack(">Ii", class_serial, line),
        )

    def stack_trace(self, serial, thread_serial, frame_ids):
        body = struct.pack(">III", serial, thread_serial, len(frame_ids))
        for f in frame_ids:
            body += self.pack_id(f)
        self.record(0x05, body)

    def heap_segment(self, sub_records: bytes) -> None:
        self.record(0x1C, sub_records)

    def heap_end(self) -> None:
        self.record(0x2C, b"")

    # -- heap sub-records (return bytes to place into a segment) ------------
    def class_dump(self, class_obj_id, super_id, instance_size, statics, fields) -> bytes:
        """statics: [(name_sid, type_code, packed_value_bytes)];
        fields: [(name_sid, type_code)]"""
        b = bytearray([0x20])
        b += self.pack_id(class_obj_id) + struct.pack(">I", 1)
        b += self.pack_id(super_id)
        b += self.pack_id(0) * 5  # loader, signers, domain, reserved×2
        b += struct.pack(">I", instance_size)
        b += struct.pack(">H", 0)  # constant pool
        b += struct.pack(">H", len(statics))
        for name_sid, t, packed in statics:
            b += self.pack_id(name_sid) + bytes([t]) + packed
        b += struct.pack(">H", len(fields))
        for name_sid, t in fields:
            b += self.pack_id(name_sid) + bytes([t])
        return bytes(b)

    def instance(self, obj_id, class_obj_id, packed_fields: bytes) -> bytes:
        return (
            bytes([0x21])
            + self.pack_id(obj_id)
            + struct.pack(">I", 1)
            + self.pack_id(class_obj_id)
            + struct.pack(">I", len(packed_fields))
            + packed_fields
        )

    def prim_array(self, obj_id, type_code, code, values) -> bytes:
        return (
            bytes([0x23])
            + self.pack_id(obj_id)
            + struct.pack(">I", 1)
            + struct.pack(">I", len(values))
            + bytes([type_code])
            + struct.pack(f">{len(values)}{code}", *values)
        )

    def obj_array(self, obj_id, array_class_id, elements) -> bytes:
        b = (
            bytes([0x22])
            + self.pack_id(obj_id)
            + struct.pack(">I", 1)
            + struct.pack(">I", len(elements))
            + self.pack_id(array_class_id)
        )
        for e in elements:
            b += self.pack_id(e)
        return bytes(b)

    def root(self, tag: int, obj_id: int, extra: bytes = b"") -> bytes:
        return bytes([tag]) + self.pack_id(obj_id) + extra


def build_test_dump(
    path: str,
    id_size: int = 8,
    extra_strings: int = 0,
    omit_base: bool = False,
    hold_extras: bool = False,
) -> dict:
    """Write the standard test dump; returns ground truth. The same
    logical heap is emitted for either *id_size* so ingest results can
    be compared across 32/64-bit JVM dump formats.

    *extra_strings* appends that many additional String instances and
    *omit_base* allocates but does not emit the Base instance — knobs
    for producing a later/earlier heap state with stable object ids
    (snapshot-diff tests: extras are "new", the omitted Base "freed").
    *hold_extras* additionally emits the "leaking collection" shape
    the MAT compare-dumps workflow attributes growth to: one new
    Object[] holding every extra string, itself held by one new
    rooted Child instance — so each extra object has exactly one
    retainer and `growth_by_retainer` can attribute the growth."""
    w = HprofWriter(id_size=id_size)
    truth: dict = {}
    # Graph-level ground truth recorded while writing, so oracles can
    # recompute reachability and memory attribution independently:
    # (obj_id, type_name, shallow_bytes) for every object the ingest
    # `_object_index` will list — shallow_bytes = 16-byte header +
    # packed field bytes (instances) or element bytes (arrays), the
    # same additive model the engine derives from `_field_types` /
    # array lengths — plus (src, dst) for every non-null reference
    # edge and the GC-root object ids.
    objects: list[tuple[int, str, int]] = []
    edges: list[tuple[int, int]] = []
    roots: list[int] = []

    # classes
    OBJ, STR, BARR, OARR, BASE, CHILD = (0x10, 0x11, 0x12, 0x13, 0x14, 0x15)
    w.load_class(1, OBJ, "java/lang/Object")
    w.load_class(2, STR, "java/lang/String")
    w.load_class(3, BARR, "[B")
    w.load_class(4, OARR, "[Ljava/lang/Object;")
    w.load_class(5, BASE, "com/test/Base")
    w.load_class(6, CHILD, "com/test/Child")

    # stack frames / traces
    w.stack_frame(0xF1, "main", "([Ljava/lang/String;)V", "Main.java", 5, 42)
    w.stack_frame(0xF2, "run", "()V", "Worker.java", 6, -2)
    w.stack_trace(1, 10, [0xF1])
    w.stack_trace(2, 11, [0xF1, 0xF2])

    seg = bytearray()
    # class dumps: Object(no fields), String(value,coder,hash,hashIsZero),
    # Base(id long, flag boolean) w/ statics, Child(id int — shadows, ref obj)
    seg += w.class_dump(OBJ, 0, 0, [], [])
    seg += w.class_dump(
        STR,
        OBJ,
        24,
        [],
        [(w.sid("value"), 2), (w.sid("coder"), 8), (w.sid("hash"), 10), (w.sid("hashIsZero"), 4)],
    )
    seg += w.class_dump(
        BASE,
        OBJ,
        12,
        [(w.sid("COUNTER"), 10, struct.pack(">i", 7)), (w.sid("SHARED"), 2, w.pack_id(0xBEEF))],
        [(w.sid("id"), 11), (w.sid("flag"), 4)],
    )
    seg += w.class_dump(CHILD, BASE, 25, [], [(w.sid("id"), 10), (w.sid("ref"), 2)])
    objects += [
        (OBJ, "class java.lang.Object", 16),
        (STR, "class java.lang.String", 16),
        (BASE, "class com.test.Base", 16),
        (CHILD, "class com.test.Child", 16),
    ]
    edges.append((BASE, 0xBEEF))  # Base.SHARED static Object ref

    # byte arrays: 3 distinct contents; "dup" content ×3 (dup group)
    dup = [104, 101, 108, 108, 111]  # "hello"
    barr_ids = []
    for content in (dup, dup, dup, [1, 2, 3], [9, 9]):
        oid = w.oid()
        barr_ids.append(oid)
        seg += w.prim_array(oid, 8, "b", content)
        objects.append((oid, "byte[]", 16 + len(content)))
    truth["byte_arrays"] = len(barr_ids)
    # an int array + a double array + empty long array
    ia = w.oid(); seg += w.prim_array(ia, 10, "i", [0, 0, 0])         # all-zero
    da = w.oid(); seg += w.prim_array(da, 7, "d", [1.5, -2.25])
    la = w.oid(); seg += w.prim_array(la, 11, "q", [])                # zero-length
    objects += [(ia, "int[]", 16 + 3 * 4), (da, "double[]", 16 + 2 * 8),
                (la, "long[]", 16)]
    # strings: 4 strings → first three share the dup byte array contents
    str_ids = []
    for i, b in enumerate(barr_ids[:4]):
        oid = w.oid()
        str_ids.append(oid)
        packed = w.pack_id(b) + struct.pack(">b", 0) + struct.pack(">i", 0) + b"\x01"
        seg += w.instance(oid, STR, packed)
        objects.append((oid, "java.lang.String", 16 + len(packed)))
        edges.append((oid, b))  # String.value
    truth["strings"] = len(str_ids)

    # Base + Child instances (Child packed: own fields first, then Base's)
    base_inst = w.oid()
    if not omit_base:
        base_packed = struct.pack(">q", 1234567) + b"\x01"
        seg += w.instance(base_inst, BASE, base_packed)
        objects.append((base_inst, "com.test.Base", 16 + len(base_packed)))
    child_inst = w.oid()
    child_packed = (
        struct.pack(">i", 77)            # Child.id (int)
        + w.pack_id(str_ids[0])          # Child.ref
        + struct.pack(">q", -5)          # Base@id (long, shadowed)
        + b"\x00"                        # Base.flag
    )
    seg += w.instance(child_inst, CHILD, child_packed)
    objects.append((child_inst, "com.test.Child", 16 + len(child_packed)))
    edges.append((child_inst, str_ids[0]))  # Child.ref
    truth["child_inst"] = child_inst
    truth["child_ref"] = str_ids[0]

    # object arrays
    oa1 = w.oid(); seg += w.obj_array(oa1, OARR, [str_ids[0], 0, str_ids[1]])
    oa2 = w.oid(); seg += w.obj_array(oa2, OARR, [])
    objects += [(oa1, "java.lang.Object[]", 16 + 8 * 3),
                (oa2, "java.lang.Object[]", 16)]
    edges += [(oa1, str_ids[0]), (oa1, str_ids[1])]  # null slot → no edge
    truth["object_arrays"] = 2

    # GC roots: one of each of several kinds
    seg += w.root(0xFF, str_ids[0])
    seg += w.root(0x01, str_ids[1], w.pack_id(0))
    seg += w.root(0x02, str_ids[2], struct.pack(">II", 10, 0))
    seg += w.root(0x03, base_inst, struct.pack(">II", 10, 1))
    seg += w.root(0x04, child_inst, struct.pack(">I", 11))
    seg += w.root(0x05, STR)
    seg += w.root(0x06, oa1, struct.pack(">I", 11))
    seg += w.root(0x07, oa2)
    seg += w.root(0x08, base_inst, struct.pack(">II", 10, 1))
    roots += [str_ids[0], str_ids[1], str_ids[2], base_inst, child_inst,
              STR, oa1, oa2, base_inst]
    truth["gc_roots"] = 9

    w.heap_segment(bytes(seg))

    # second segment: more instances (exercises segment boundaries)
    seg2 = bytearray()
    extra_strs = []
    for b in (barr_ids[3], barr_ids[4]):
        oid = w.oid()
        extra_strs.append(oid)
        packed = w.pack_id(b) + struct.pack(">b", 0) + struct.pack(">i", 0) + b"\x00"
        seg2 += w.instance(oid, STR, packed)
        objects.append((oid, "java.lang.String", 16 + len(packed)))
        edges.append((oid, b))
    truth["strings"] += 2
    extra_ids = []
    for _ in range(extra_strings):
        oid = w.oid()
        extra_ids.append(oid)
        packed = w.pack_id(barr_ids[0]) + struct.pack(">b", 0) + struct.pack(">i", 0) + b"\x00"
        seg2 += w.instance(oid, STR, packed)
        objects.append((oid, "java.lang.String", 16 + len(packed)))
        edges.append((oid, barr_ids[0]))
    truth["strings"] += extra_strings
    if hold_extras and extra_ids:
        holder_arr = w.oid()
        seg2 += w.obj_array(holder_arr, OARR, extra_ids)
        objects.append(
            (holder_arr, "java.lang.Object[]", 16 + 8 * len(extra_ids))
        )
        edges += [(holder_arr, e) for e in extra_ids]
        truth["object_arrays"] += 1
        holder_child = w.oid()
        hc_packed = (
            struct.pack(">i", 99)
            + w.pack_id(holder_arr)
            + struct.pack(">q", -9)
            + b"\x01"
        )
        seg2 += w.instance(holder_child, CHILD, hc_packed)
        objects.append((holder_child, "com.test.Child", 16 + len(hc_packed)))
        edges.append((holder_child, holder_arr))
        seg2 += w.root(0xFF, holder_child)
        roots.append(holder_child)
        truth["gc_roots"] += 1
        truth["holder_arr"] = holder_arr
        truth["holder_child"] = holder_child
    w.heap_segment(bytes(seg2))
    w.heap_end()

    with open(path, "wb") as f:
        f.write(w.buf)
    truth["base_inst"] = base_inst
    truth["instances"] = (
        truth["strings"]
        + (1 if omit_base else 2)  # + Base + Child
        + (1 if hold_extras and extra_ids else 0)  # + holder Child
    )
    truth["class_dumps"] = 4
    truth["prim_arrays"] = len(barr_ids) + 3
    truth["objects"] = objects
    truth["edges"] = edges
    truth["roots"] = roots
    return truth


def build_graph_dump(path: str, id_size: int = 8) -> dict:
    """Deterministic dump whose object graph is purpose-built for
    dominator/retained-size analysis: a diamond (dominator != parent),
    a multi-root confluence (idom jumps to the virtual super-root), a
    linked chain (deep single-pred dominance), a reachable cycle, a
    shared payload, and unreachable garbage. Returns the same
    ground-truth dict shape as build_test_dump (objects/edges/roots)
    so oracles can recompute graph results independently of ingest.

    Layout (R, R2 are GC roots; -1 below means the virtual super-root):

        R -> A -> B -> D -> E1 -> E2 -> E3 -> E4 -> F1 <-> F2
              \\-> C -/                               F1 -> PF
        R2 -------^                                   E2 -> PE
        B -> PB <- C          D -> PD                 G1 -> G2 (no root)

    Expected idoms: A<-R, B<-A, C<- -1 (reachable two ways), D<- -1,
    E1<-D, ..., F2<-F1, PB<- -1, PD<-D, PE<-E2, PF<-F1.
    """
    w = HprofWriter(id_size=id_size)
    objects: list[tuple[int, str, int]] = []
    edges: list[tuple[int, int]] = []
    roots: list[int] = []

    OBJ, NODE, BARR = 0x10, 0x11, 0x12
    w.load_class(1, OBJ, "java/lang/Object")
    w.load_class(2, NODE, "com/graph/Node")
    w.load_class(3, BARR, "[B")

    seg = bytearray()
    seg += w.class_dump(OBJ, 0, 0, [], [])
    # Node: two Object-typed fields (next, data) -> 2 edges max per node
    seg += w.class_dump(
        NODE, OBJ, 16, [], [(w.sid("next"), 2), (w.sid("data"), 2)]
    )
    objects += [
        (OBJ, "class java.lang.Object", 16),
        (NODE, "class com.graph.Node", 16),
    ]

    ids: dict[str, int] = {}
    for name in ("R", "R2", "A", "B", "C", "D", "E1", "E2", "E3", "E4",
                 "F1", "F2", "G1", "G2"):
        ids[name] = w.oid()
    # payload byte arrays with distinctive sizes
    payloads = {"PB": 400, "PD": 200, "PE": 64, "PF": 32}
    for name, n in payloads.items():
        oid = w.oid()
        ids[name] = oid
        seg += w.prim_array(oid, 8, "b", [7] * n)
        objects.append((oid, "byte[]", 16 + n))

    links = {  # name -> (next, data); 0 = null (no edge)
        "R": ("A", 0), "R2": ("C", 0),
        "A": ("B", "C"), "B": ("D", "PB"), "C": ("D", "PB"),
        "D": ("E1", "PD"),
        "E1": ("E2", 0), "E2": ("E3", "PE"), "E3": ("E4", 0),
        "E4": ("F1", 0),
        "F1": ("F2", "PF"), "F2": ("F1", 0),
        "G1": ("G2", 0), "G2": (0, 0),
    }
    for name, (nxt, data) in links.items():
        oid = ids[name]
        nid = ids[nxt] if nxt else 0
        did = ids[data] if data else 0
        seg += w.instance(oid, NODE, w.pack_id(nid) + w.pack_id(did))
        objects.append((oid, "com.graph.Node", 16 + 2 * id_size))
        for ref in (nid, did):
            if ref:
                edges.append((oid, ref))

    seg += w.root(0xFF, ids["R"])
    seg += w.root(0x05, ids["R2"])
    roots += [ids["R"], ids["R2"]]

    w.heap_segment(bytes(seg))
    w.heap_end()
    with open(path, "wb") as f:
        f.write(w.buf)
    return {"objects": objects, "edges": edges, "roots": roots, "ids": ids}
