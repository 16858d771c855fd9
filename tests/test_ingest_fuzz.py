"""Randomized HPROF round-trip: seeded random heaps (every field type,
both id widths, multiple segments, empty classes/arrays) written with
our fixture writer, ingested with the Spark pipeline, and compared
value-for-value against the generator's ground truth. Covers grammar
corners the fixed fixture never hits (char/short/float instance
fields, zero-field classes, many tiny segments). Pass 1's two segment
scans (driver and Spark fan-out) must agree on every such dump."""

from __future__ import annotations

import random
import struct

import pytest

from heapdumpstardiver_spark.catalog import Warehouse
from heapdumpstardiver_spark.ingest import index as pass1
from heapdumpstardiver_spark.ingest import ingest_hprof
from heapdumpstardiver_spark.ingest.hprof_writer import HprofWriter

# (hprof type code, struct code) for instance fields / prim arrays
PRIM_TYPES = [
    (4, "b"),   # boolean (packed as 1 byte)
    (5, "H"),   # char (UTF-16 code unit)
    (6, "f"),   # float
    (7, "d"),   # double
    (8, "b"),   # byte
    (9, "h"),   # short
    (10, "i"),  # int
    (11, "q"),  # long
]
T_OBJECT = 2


def _rand_val(rnd, t, id_size):
    if t == 4:
        return rnd.choice([True, False])
    if t == 5:
        return rnd.randint(0, 0xFFFF)
    if t == 6:
        # round-trip through f32 so the expectation is representable
        return struct.unpack(">f", struct.pack(">f", rnd.uniform(-1e3, 1e3)))[0]
    if t == 7:
        return rnd.uniform(-1e6, 1e6)
    if t == 8:
        return rnd.randint(-128, 127)
    if t == 9:
        return rnd.randint(-(2**15), 2**15 - 1)
    if t == 10:
        return rnd.randint(-(2**31), 2**31 - 1)
    if t == 11:
        return rnd.randint(-(2**40), 2**40)
    if t == T_OBJECT:
        return rnd.randint(0, 2**31)
    raise AssertionError(t)


def _pack_val(w, t, v):
    if t == T_OBJECT:
        return w.pack_id(v)
    if t == 4:
        return b"\x01" if v else b"\x00"
    code = dict(PRIM_TYPES)[t]
    return struct.pack(">" + code, v)


FIELD_SIZES = {4: 1, 5: 2, 6: 4, 7: 8, 8: 1, 9: 2, 10: 4, 11: 8}


def build_fuzz_dump(path, seed, address_ordered=False):
    """Random heap; instances and arrays are grouped by class and type
    unless *address_ordered*, which shuffles them together before
    segmenting, the way a JVM lists objects by address."""
    rnd = random.Random(seed)
    id_size = rnd.choice([4, 8])
    w = HprofWriter(id_size=id_size)
    all_types = [t for t, _ in PRIM_TYPES] + [T_OBJECT]

    classes = []
    for c in range(rnd.randint(1, 5)):
        cid = w.oid()
        fields = [(f"f{i}", rnd.choice(all_types)) for i in range(rnd.randint(0, 6))]
        w.load_class(c + 1, cid, f"com/fuzz/C{c}")
        classes.append((cid, f"com.fuzz.C{c}", fields))

    seg = bytearray()
    for cid, _, fields in classes:
        size = sum(
            id_size if t == T_OBJECT else FIELD_SIZES[t] for _, t in fields
        )
        seg += w.class_dump(cid, 0, size, [], [(w.sid(fn), t) for fn, t in fields])

    expected_instances: dict[str, dict[int, dict]] = {}
    expected_arrays: dict[str, dict[int, list]] = {}

    def maybe_flush():
        nonlocal seg
        if len(seg) > rnd.randint(200, 600):
            w.heap_segment(bytes(seg))
            seg = bytearray()

    held: list[bytes] = []

    def add(rec):
        nonlocal seg
        if address_ordered:
            held.append(rec)
        else:
            seg += rec
            maybe_flush()

    for cid, cname, fields in classes:
        for _ in range(rnd.randint(0, 4)):
            oid = w.oid()
            vals = {fn: _rand_val(rnd, t, id_size) for fn, t in fields}
            packed = b"".join(_pack_val(w, t, vals[fn]) for fn, t in fields)
            add(w.instance(oid, cid, packed))
            expected_instances.setdefault(cname, {})[oid] = vals

    for t, code in PRIM_TYPES:
        if t == 4:
            continue  # writer packs booleans via struct code 'b' below
        for _ in range(rnd.randint(0, 3)):
            oid = w.oid()
            vals = [_rand_val(rnd, t, id_size) for _ in range(rnd.randint(0, 5))]
            add(w.prim_array(oid, t, code, vals))
            from heapdumpstardiver_spark.ingest.hprof import PRIM_NAMES

            expected_arrays.setdefault(PRIM_NAMES[t], {})[oid] = vals

    rnd.shuffle(held)
    for rec in held:
        seg += rec
        maybe_flush()
    if seg:
        w.heap_segment(bytes(seg))
    w.heap_end()
    with open(path, "wb") as f:
        f.write(w.buf)
    return id_size, expected_instances, expected_arrays


def _canon(t, v):
    if t == 5:
        return int(v)  # char decodes to int32 code unit
    return v


@pytest.mark.parametrize(
    "seed,address_ordered",
    [
        pytest.param(7, False, id="7"),
        pytest.param(41, False, id="41"),
        pytest.param(1337, False, id="1337"),
        pytest.param(7, True, id="7-address-ordered"),
    ],
)
def test_fuzz_roundtrip(spark, tmp_path_factory, seed, address_ordered):
    d = tmp_path_factory.mktemp(f"fuzz{seed}")
    path = str(d / "f.hprof")
    id_size, exp_inst, exp_arr = build_fuzz_dump(path, seed, address_ordered)
    out = str(d / "wh")
    summary = ingest_hprof(spark, path, out, target_split_bytes=512)
    assert summary["id_size"] == id_size
    wh = Warehouse(spark, out)

    for cname, by_oid in exp_inst.items():
        rows = {r["obj_id"]: r.asDict() for r in wh.table(cname).collect()}
        assert set(rows) == set(by_oid), cname
        # field-type map for canonicalization
        for oid, want in by_oid.items():
            got = rows[oid]
            for fn, v in want.items():
                g = got[fn]
                assert g == v or (isinstance(v, int) and g == int(v)), (
                    cname, oid, fn, g, v,
                )

    for ptype, by_oid in exp_arr.items():
        tname = f"_primitive_arrays_{ptype}"
        if not by_oid:
            continue
        rows = {r["obj_id"]: list(r["values"]) for r in wh.table(tname).collect()}
        assert set(rows) == set(by_oid), ptype
        for oid, want in by_oid.items():
            assert rows[oid] == [int(x) if ptype == "char" else x for x in want], (
                ptype, oid, rows[oid], want,
            )


def build_cut_instance_dump(path):
    """Three heap segments of 4, 5 and 4 ``com.fuzz.Point`` instances.
    The middle segment's last instance is cut 5 bytes short, while every
    segment's declared length still fits the file."""
    w = HprofWriter()
    obj, point = w.oid(), w.oid()
    w.load_class(1, obj, "java/lang/Object")
    w.load_class(2, point, "com/fuzz/Point")
    fields = [(w.sid("x"), 10), (w.sid("y"), 10)]
    segs = [[w.class_dump(obj, 0, 0, [], []), w.class_dump(point, obj, 8, [], fields)], [], []]
    for seg, n in zip(segs, (4, 5, 4)):
        seg += [w.instance(w.oid(), point, struct.pack(">ii", i, -i)) for i in range(n)]
    segs[1][-1] = segs[1][-1][:-5]
    for seg in segs:
        w.heap_segment(b"".join(seg))
    w.heap_end()
    with open(path, "wb") as f:
        f.write(w.buf)


def test_sub_record_cut_inside_segment(spark, tmp_path):
    """A heap sub-record cut short inside a segment is a truncation:
    strict mode refuses it, and strict=False ingests the 12 complete
    instances and says the dump was truncated."""
    path = str(tmp_path / "cut.hprof")
    build_cut_instance_dump(path)
    with pytest.raises(ValueError, match="truncated heap sub-record"):
        ingest_hprof(spark, path, str(tmp_path / "wh_strict"))
    summary = ingest_hprof(spark, path, str(tmp_path / "wh"), strict=False)
    assert summary["truncated"] is True
    assert Warehouse(spark, str(tmp_path / "wh")).table("com.fuzz.Point").count() == 12


def _spark_jobs(spark, group, fn):
    """Run fn under its own Spark job group: its result and the number
    of Spark jobs it ran."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_small_ingest_runs_one_spark_job(spark, tmp_path):
    """Pass 1 scans a small dump's heap segments on the driver, so the
    whole ingest of this four-segment dump is one Spark job: pass 2."""
    path = str(tmp_path / "f.hprof")
    build_fuzz_dump(path, 1337)
    wh = str(tmp_path / "wh")
    _, jobs = _spark_jobs(spark, "one-job-ingest", lambda: ingest_hprof(spark, path, wh))
    assert jobs == 1


@pytest.mark.parametrize(
    "case",
    ["7", "41", "1337", "7-address-ordered", "1337-tail-cut", "cut-instance"],
)
def test_driver_and_fanout_scans_agree(spark, tmp_path, monkeypatch, case):
    """Every dump here is far below FANOUT_MIN_SEGMENT_BYTES, so the
    driver scans it; with the gate at 0 the same scan fans out as one
    Spark job. Both must plan the same splits, class layouts and
    truncation."""
    path = str(tmp_path / "f.hprof")
    strict = True
    if case == "cut-instance":
        build_cut_instance_dump(path)
        strict = False
    else:
        build_fuzz_dump(path, int(case.split("-")[0]), case.endswith("address-ordered"))
    if case.endswith("tail-cut"):
        with open(path, "r+b") as f:
            f.truncate(f.seek(0, 2) - 30)
        strict = False

    def scan():
        return pass1.build_index(path, target_split_bytes=512, spark=spark, strict=strict)

    driver, driver_jobs = _spark_jobs(spark, f"pass1-driver-{case}", scan)
    monkeypatch.setattr(pass1, "FANOUT_MIN_SEGMENT_BYTES", 0)
    fanout, fanout_jobs = _spark_jobs(spark, f"pass1-fanout-{case}", scan)

    assert driver.record_counts["HeapDumpSegment"] > 1
    assert (driver_jobs, fanout_jobs) == (0, 1)
    assert fanout.splits == driver.splits
    assert fanout.classes == driver.classes
    assert fanout.truncated is driver.truncated is (not strict)
