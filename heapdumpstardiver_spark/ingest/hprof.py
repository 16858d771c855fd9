"""Low-level HPROF binary format reader (pure Python, no Spark).

The HPROF format is the JDK's documented heap-dump binary format
(header ``JAVA PROFILE 1.0.2\\0``, sized object IDs, tagged top-level
records, heap-dump segments containing tagged sub-records). This
module implements the record grammar the reference ingests via the
``jvm-hprof`` crate (/root/reference/src/hprof_index.rs:68-93,
/root/reference/src/commands/dump_to_parquet.rs:207-515) — written
from the public format specification, not from that code.

Everything here operates on byte buffers (mmap-able) with explicit
offsets so callers can plan byte-range splits for distributed parsing.
:class:`SubRecords` is the one statement of the heap sub-record layout;
both ingest passes, the debug printer and the ``hprof`` data source
locate records through it.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

# Top-level record tags
TAG_UTF8 = 0x01
TAG_LOAD_CLASS = 0x02
TAG_UNLOAD_CLASS = 0x03
TAG_STACK_FRAME = 0x04
TAG_STACK_TRACE = 0x05
TAG_HEAP_DUMP = 0x0C
TAG_HEAP_DUMP_SEGMENT = 0x1C
TAG_HEAP_DUMP_END = 0x2C

TAG_NAMES = {
    0x01: "Utf8",
    0x02: "LoadClass",
    0x03: "UnloadClass",
    0x04: "StackFrame",
    0x05: "StackTrace",
    0x06: "AllocSites",
    0x07: "HeapSummary",
    0x0A: "StartThread",
    0x0B: "EndThread",
    0x0C: "HeapDump",
    0x1C: "HeapDumpSegment",
    0x2C: "HeapDumpEnd",
    0x0D: "CpuSamples",
    0x0E: "ControlSettings",
}

# Heap-dump sub-record tags
SUB_ROOT_UNKNOWN = 0xFF
SUB_ROOT_JNI_GLOBAL = 0x01
SUB_ROOT_JNI_LOCAL = 0x02
SUB_ROOT_JAVA_FRAME = 0x03
SUB_ROOT_NATIVE_STACK = 0x04
SUB_ROOT_STICKY_CLASS = 0x05
SUB_ROOT_THREAD_BLOCK = 0x06
SUB_ROOT_MONITOR_USED = 0x07
SUB_ROOT_THREAD_OBJ = 0x08
SUB_CLASS_DUMP = 0x20
SUB_INSTANCE_DUMP = 0x21
SUB_OBJECT_ARRAY_DUMP = 0x22
SUB_PRIMITIVE_ARRAY_DUMP = 0x23

# GC root kind names, matching the reference's output vocabulary
# (dump_to_parquet.rs:336-362).
ROOT_NAMES = {
    SUB_ROOT_UNKNOWN: "Unknown",
    SUB_ROOT_JNI_GLOBAL: "JniGlobal",
    SUB_ROOT_JNI_LOCAL: "JniLocal",
    SUB_ROOT_JAVA_FRAME: "JavaStackFrame",
    SUB_ROOT_NATIVE_STACK: "NativeStack",
    SUB_ROOT_STICKY_CLASS: "SystemClass",
    SUB_ROOT_THREAD_BLOCK: "ThreadBlock",
    SUB_ROOT_MONITOR_USED: "BusyMonitor",
    SUB_ROOT_THREAD_OBJ: "ThreadObj",
}

# HPROF basic-type codes
T_OBJECT = 2
T_BOOLEAN = 4
T_CHAR = 5
T_FLOAT = 6
T_DOUBLE = 7
T_BYTE = 8
T_SHORT = 9
T_INT = 10
T_LONG = 11

PRIM_SIZES = {T_BOOLEAN: 1, T_CHAR: 2, T_FLOAT: 4, T_DOUBLE: 8, T_BYTE: 1, T_SHORT: 2, T_INT: 4, T_LONG: 8}
PRIM_NAMES = {
    T_BOOLEAN: "boolean",
    T_CHAR: "char",
    T_FLOAT: "float",
    T_DOUBLE: "double",
    T_BYTE: "byte",
    T_SHORT: "short",
    T_INT: "int",
    T_LONG: "long",
}
# struct codes (big-endian) per basic type; object code depends on id size
PRIM_STRUCT = {T_BOOLEAN: "B", T_CHAR: "H", T_FLOAT: "f", T_DOUBLE: "d", T_BYTE: "b", T_SHORT: "h", T_INT: "i", T_LONG: "q"}


def jvm_name_to_java(name: str) -> str:
    """Normalize a JVM internal class name to Java source form:
    '/'→'.', array descriptors → 'Elem[]' (util.rs:20 equivalent)."""
    name = name.replace("/", ".")
    dims = 0
    while name.startswith("["):
        dims += 1
        name = name[1:]
    if dims:
        base = {
            "B": "byte", "Z": "boolean", "C": "char", "S": "short",
            "I": "int", "J": "long", "F": "float", "D": "double",
        }.get(name)
        if base is None and name.startswith("L") and name.endswith(";"):
            base = name[1:-1]
        elif base is None:
            base = name
        name = base + "[]" * dims
    return name


@dataclass
class Header:
    version: str
    id_size: int
    timestamp_ms: int
    body_offset: int


@dataclass
class FieldDesc:
    name: str            # possibly renamed Declaring@name for shadowed fields
    type_code: int
    declaring_class: str


@dataclass
class ClassInfo:
    class_obj_id: int
    name: str = ""
    super_class_obj_id: int = 0
    instance_size: int = 0
    # own instance fields in declaration order: (name_string_id, type_code)
    own_fields: list = field(default_factory=list)
    # statics: (name_string_id, type_code, value)
    static_fields: list = field(default_factory=list)
    # filled during finalize: full flattened descriptor list (this class
    # first, then supers) with shadow renames — the packed-bytes layout.
    layout: list = field(default_factory=list)  # list[FieldDesc]


def read_header(buf) -> Header:
    end = buf.find(b"\x00", 0, 64)
    if end < 0:
        raise ValueError("not an HPROF file: missing version terminator")
    version = bytes(buf[:end]).decode("ascii")
    if not version.startswith("JAVA PROFILE"):
        raise ValueError(f"not an HPROF file: version {version!r}")
    id_size, ts_hi, ts_lo = struct.unpack_from(">III", buf, end + 1)
    if id_size not in (4, 8):
        raise ValueError(f"unsupported identifier size {id_size}")
    return Header(
        version=version,
        id_size=id_size,
        timestamp_ms=(ts_hi << 32) | ts_lo,
        body_offset=end + 1 + 12,
    )


def iter_records(buf, header: Header):
    """Yield (tag, body_offset, body_len) for each top-level record."""
    pos = header.body_offset
    n = len(buf)
    while pos + 9 <= n:
        tag = buf[pos]
        (length,) = struct.unpack_from(">I", buf, pos + 5)
        yield tag, pos + 9, length
        pos += 9 + length


def _read_id(buf, pos: int, id_size: int) -> int:
    if id_size == 8:
        return struct.unpack_from(">Q", buf, pos)[0]
    return struct.unpack_from(">I", buf, pos)[0]


def _read_value(buf, pos: int, type_code: int, id_size: int):
    """Read one typed value; returns (value, nbytes)."""
    if type_code == T_OBJECT:
        return _read_id(buf, pos, id_size), id_size
    size = PRIM_SIZES[type_code]
    code = PRIM_STRUCT[type_code]
    v = struct.unpack_from(">" + code, buf, pos)[0]
    if type_code == T_BOOLEAN:
        v = bool(v)
    return v, size


def parse_class_dump(buf, pos: int, id_size: int) -> tuple[ClassInfo, int]:
    """Parse a CLASS DUMP sub-record body starting at *pos* (after the
    sub-record tag). Returns (ClassInfo, end_pos)."""
    start = pos
    class_obj_id = _read_id(buf, pos, id_size)
    pos += id_size + 4  # stack trace serial
    super_id = _read_id(buf, pos, id_size)
    pos += id_size
    pos += 5 * id_size  # classloader, signers, protection domain, reserved×2
    (instance_size,) = struct.unpack_from(">I", buf, pos)
    pos += 4
    (cp_size,) = struct.unpack_from(">H", buf, pos)
    pos += 2
    for _ in range(cp_size):
        pos += 2  # index
        t = buf[pos]
        pos += 1
        _, nb = _read_value(buf, pos, t, id_size)
        pos += nb
    (n_static,) = struct.unpack_from(">H", buf, pos)
    pos += 2
    statics = []
    for _ in range(n_static):
        name_id = _read_id(buf, pos, id_size)
        pos += id_size
        t = buf[pos]
        pos += 1
        v, nb = _read_value(buf, pos, t, id_size)
        pos += nb
        statics.append((name_id, t, v))
    (n_inst,) = struct.unpack_from(">H", buf, pos)
    pos += 2
    fields = []
    for _ in range(n_inst):
        name_id = _read_id(buf, pos, id_size)
        pos += id_size
        t = buf[pos]
        pos += 1
        fields.append((name_id, t))
    info = ClassInfo(
        class_obj_id=class_obj_id,
        super_class_obj_id=super_id,
        instance_size=instance_size,
        own_fields=fields,
        static_fields=statics,
    )
    return info, pos


# GC-root kinds whose body carries a u4 thread serial after the object
# id, and those that follow it with a u4 frame index.
ROOT_WITH_THREAD = frozenset(
    (SUB_ROOT_JNI_LOCAL, SUB_ROOT_JAVA_FRAME, SUB_ROOT_NATIVE_STACK,
     SUB_ROOT_THREAD_BLOCK, SUB_ROOT_THREAD_OBJ)
)
ROOT_WITH_FRAME = frozenset((SUB_ROOT_JNI_LOCAL, SUB_ROOT_JAVA_FRAME))

RUN_PROBE = 4096  # records compared per vector probe


class SubRecords:
    """The heap sub-record grammar for one identifier size: the fixed
    header of every kind but CLASS DUMP (which :func:`parse_class_dump`
    walks), the length of each record, and the prober that finds runs
    of equal-length records. Offsets count from the tag byte."""

    def __init__(self, id_size: int):
        i = "Q" if id_size == 8 else "I"
        self.id_size = id_size
        # The header after the tag. Object records open with
        # (object id, u4 stack trace serial); roots with the object id.
        self.header = {
            # class id, u4 field-byte count, then the field bytes
            SUB_INSTANCE_DUMP: struct.Struct(f">{i}I{i}I"),
            # u4 element count, array class id, then the elements
            SUB_OBJECT_ARRAY_DUMP: struct.Struct(f">{i}II{i}"),
            # u4 element count, u1 element type, then the elements
            SUB_PRIMITIVE_ARRAY_DUMP: struct.Struct(f">{i}IIB"),
            SUB_ROOT_UNKNOWN: struct.Struct(f">{i}"),
            SUB_ROOT_JNI_GLOBAL: struct.Struct(f">{i}{i}"),  # + global ref id
            SUB_ROOT_JNI_LOCAL: struct.Struct(f">{i}II"),    # + thread, frame
            SUB_ROOT_JAVA_FRAME: struct.Struct(f">{i}II"),   # + thread, frame
            SUB_ROOT_NATIVE_STACK: struct.Struct(f">{i}I"),  # + thread
            SUB_ROOT_STICKY_CLASS: struct.Struct(f">{i}"),
            SUB_ROOT_THREAD_BLOCK: struct.Struct(f">{i}I"),  # + thread
            SUB_ROOT_MONITOR_USED: struct.Struct(f">{i}"),
            SUB_ROOT_THREAD_OBJ: struct.Struct(f">{i}II"),   # + thread, trace
        }
        # where the fields / elements start; for a root, its full length
        self.payload = {tag: 1 + s.size for tag, s in self.header.items()}
        self._inst_head = self.payload[SUB_INSTANCE_DUMP]
        self._parr_head = self.payload[SUB_PRIMITIVE_ARRAY_DUMP]
        self._oarr_head = self.payload[SUB_OBJECT_ARRAY_DUMP]
        self.class_id = 1 + id_size + 4     # INSTANCE: class object id
        self.count = 1 + id_size + 4        # arrays: element count
        self.array_class = 1 + id_size + 8  # OBJECT ARRAY: array class id
        # Bytes that, with the tag, fix an object record's length: two
        # records agreeing on them are one stride apart.
        nbytes = self._inst_head - 4
        self._run_key = {
            SUB_INSTANCE_DUMP: (nbytes, nbytes + 4),
            SUB_OBJECT_ARRAY_DUMP: (self.count, self.count + 4),
            SUB_PRIMITIVE_ARRAY_DUMP: (self.count, self.count + 5),
        }
        self._run_cols = {
            tag: np.array([0, *range(a, b)], dtype=np.int64)
            for tag, (a, b) in self._run_key.items()
        }
        self._id_dtype = np.dtype(f">u{id_size}")
        self._u4 = struct.Struct(">I").unpack_from
        self._u4u1 = struct.Struct(">IB").unpack_from

    def size(self, buf, pos: int) -> int:
        """Length of the record at *pos*, whose kind must not be CLASS
        DUMP. A header cut short raises ``struct.error``."""
        tag = buf[pos]
        if tag == SUB_INSTANCE_DUMP:
            return self._inst_head + self._u4(buf, pos + self._inst_head - 4)[0]
        if tag == SUB_PRIMITIVE_ARRAY_DUMP:
            n, t = self._u4u1(buf, pos + self.count)
            return self._parr_head + n * PRIM_SIZES[t]
        if tag == SUB_OBJECT_ARRAY_DUMP:
            return self._oarr_head + self._u4(buf, pos + self.count)[0] * self.id_size
        head = self.payload.get(tag)
        if head is None:
            raise ValueError(f"unknown heap sub-record tag 0x{tag:02x} at offset {pos}")
        return head

    def probe_run(self, buf, pos: int, stride: int, limit: int) -> int:
        """How many records, from the one at *pos*, repeat its tag and
        length fields at *stride* spacing within *limit* bytes: at least
        1, at most RUN_PROBE. Roots are always runs of 1.

        The next record is checked with plain byte compares before any
        vector gather: in heap-walk order a String sits next to its
        byte[], so most runs end at once."""
        key = self._run_key.get(buf[pos])
        if key is None or limit < 2 * stride:
            return 1
        a, b = key
        nxt = pos + stride
        if buf[nxt] != buf[pos] or buf[nxt + a:nxt + b] != buf[pos + a:pos + b]:
            return 1
        count = min(RUN_PROBE, limit // stride)
        # row r is a zero-copy view of record r's first b header bytes
        rows = np.ndarray((count, b), np.uint8, buf, pos, (stride, 1))
        fields = rows[:, self._run_cols[buf[pos]]]
        ok = (fields == fields[0]).all(axis=1)
        return count if ok.all() else int(np.argmin(ok))

    def run_ids(self, buf, pos: int, stride: int, run: int, off: int):
        """The id at *off* in each of the *run* records that start at
        *pos*, *stride* apart, as a uint64 array."""
        return np.ndarray((run,), self._id_dtype, buf, pos + off, (stride,)).astype(np.uint64)


# by identifier size
SUB_RECORDS = {4: SubRecords(4), 8: SubRecords(8)}


def skip_sub_record(buf, pos: int, id_size: int) -> tuple[int, int, dict]:
    """At *pos* (a sub-record tag byte), return (tag, end_pos, meta);
    meta carries the parsed ``class_info`` of a CLASS DUMP."""
    tag = buf[pos]
    if tag == SUB_CLASS_DUMP:
        info, end = parse_class_dump(buf, pos + 1, id_size)
        return tag, end, {"class_info": info}
    return tag, pos + SUB_RECORDS[id_size].size(buf, pos), {}
