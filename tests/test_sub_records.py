"""The shared heap sub-record grammar (`hprof.SubRecords`): record
lengths, the constant-stride run prober, and what pass 1 pays for it on
a heap in heap-walk order, where a String sits next to its byte[] and
runs of equal-length records are one record long."""

from __future__ import annotations

import random
import struct
import sys

import numpy as np
import pytest

from heapdumpstardiver_spark.ingest import hprof as H
from heapdumpstardiver_spark.ingest.hprof_writer import HprofWriter
from heapdumpstardiver_spark.ingest.index import build_index


def _string_heap(path, n, layout):
    """n Strings, each with a byte[] of 8-12 bytes. "interleaved" writes
    each String next to its byte[] (a JVM's heap-walk order); "grouped"
    writes all Strings, then all byte[]s of one length."""
    rnd = random.Random(n)
    w = HprofWriter()
    obj, string = w.oid(), w.oid()
    w.load_class(1, obj, "java/lang/Object")
    w.load_class(2, string, "java/lang/String")
    fields = [(w.sid("value"), H.T_OBJECT), (w.sid("hash"), H.T_INT)]
    strings, arrays = [], []
    for _ in range(n):
        s_id, b_id = w.oid(), w.oid()
        strings.append(w.instance(s_id, string, w.pack_id(b_id) + struct.pack(">i", rnd.randint(0, 99))))
        k = rnd.randint(8, 12) if layout == "interleaved" else 10
        arrays.append(w.prim_array(b_id, H.T_BYTE, "b", [rnd.randint(-9, 9) for _ in range(k)]))
    if layout == "interleaved":
        body = b"".join(s + a for s, a in zip(strings, arrays))
    else:
        body = b"".join(strings + arrays)
    seg = w.class_dump(obj, 0, 0, [], []) + w.class_dump(string, obj, 12, [], fields)
    w.heap_segment(seg + w.root(H.SUB_ROOT_STICKY_CLASS, string) + body)
    w.heap_end()
    with open(path, "wb") as f:
        f.write(w.buf)


def _numpy_calls(fn) -> int:
    """Calls into numpy's C functions and ndarray methods while fn runs."""
    calls = 0

    def profile(frame, event, arg):
        nonlocal calls
        if event == "c_call" and (
            str(getattr(arg, "__module__", "")).startswith("numpy")
            or isinstance(getattr(arg, "__self__", None), np.ndarray)
        ):
            calls += 1

    sys.setprofile(profile)
    try:
        fn()
    finally:
        sys.setprofile(None)
    return calls


def test_pass1_does_no_vector_work_between_interleaved_records(tmp_path):
    """Each object record's run ends at the next record, so the prober
    must settle it with a scalar compare: per-record numpy work would
    make pass 1 cost a vector probe per record."""
    inter, grouped = str(tmp_path / "inter.hprof"), str(tmp_path / "grouped.hprof")
    _string_heap(inter, 2000, "interleaved")
    _string_heap(grouped, 2000, "grouped")
    assert _numpy_calls(lambda: build_index(inter, target_split_bytes=16 << 10)) < 50
    # long runs do take the vector path, so the count above is real
    assert _numpy_calls(lambda: build_index(grouped, target_split_bytes=16 << 10)) > 0


# header fields (after the tag) that fix each object kind's length
_LENGTH_FIELDS = {
    H.SUB_INSTANCE_DUMP: slice(3, 4),         # field-byte count
    H.SUB_OBJECT_ARRAY_DUMP: slice(2, 3),     # element count
    H.SUB_PRIMITIVE_ARRAY_DUMP: slice(2, 4),  # element count, type
}


def _brute_run(buf, g, pos, stride, limit):
    """Consecutive records from *pos* whose tag and length fields match
    it, stride apart, walked one record at a time."""
    def key(p):
        fields = _LENGTH_FIELDS.get(buf[p])
        return fields and (buf[p], g.header[buf[p]].unpack_from(buf, p + 1)[fields])

    if key(pos) is None:
        return 1
    cap = min(H.RUN_PROBE, limit // stride)
    run = 1
    while run < cap and key(pos + run * stride) == key(pos):
        run += 1
    return run


@pytest.mark.parametrize("id_size", [4, 8])
def test_probe_run_matches_a_record_by_record_walk(id_size):
    """Runs of every object kind and length 1..12 with roots in between,
    under tight limits; then a run longer than one vector probe."""
    rnd = random.Random(id_size)
    w = HprofWriter(id_size=id_size)
    recs = []
    for _ in range(300):
        kind, n = rnd.randrange(4), rnd.choice([1, 1, 2, 3, 12])
        size = rnd.choice([0, 4, 8])
        t, code = rnd.choice([(H.T_INT, "i"), (H.T_BYTE, "b")])
        for _ in range(n):
            if kind == 0:
                recs.append(w.instance(w.oid(), rnd.choice([7, 9]), bytes(size)))
            elif kind == 1:
                recs.append(w.prim_array(w.oid(), t, code, [0] * size))
            elif kind == 2:
                recs.append(w.obj_array(w.oid(), 5, [1] * (size // 4)))
            else:
                recs.append(w.root(H.SUB_ROOT_JNI_LOCAL, w.oid(), struct.pack(">II", 1, 2)))
    buf = b"".join(recs)
    g = H.SUB_RECORDS[id_size]
    pos = 0
    while pos < len(buf):
        stride = g.size(buf, pos)
        for limit in (len(buf) - pos, 3 * stride - 1, 2 * stride, 7 * stride + 3):
            limit = min(limit, len(buf) - pos)
            assert g.probe_run(buf, pos, stride, limit) == _brute_run(buf, g, pos, stride, limit)
        pos += stride
    assert pos == len(buf)

    inst = w.instance(w.oid(), 7, bytes(4))
    long_run = inst * (H.RUN_PROBE + 10) + w.instance(w.oid(), 7, bytes(8))
    assert g.probe_run(long_run, 0, len(inst), len(long_run)) == H.RUN_PROBE
    tail = H.RUN_PROBE * len(inst)
    assert g.probe_run(long_run, tail, len(inst), len(long_run) - tail) == 10
