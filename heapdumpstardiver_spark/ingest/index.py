"""Pass 1 — driver-side metadata index over an HPROF file.

The cheap sequential pass (≙ HprofIndex::build_with_segments,
/root/reference/src/hprof_index.rs:54-217): string table, class
registry (LoadClass + ClassDump merge), stack frames/traces, flattened
instance-field layouts with shadow renames, and — the Spark-specific
part — a list of byte-range *splits* aligned to heap sub-record
boundaries, so pass 2 can parse the heavy instance data in parallel
tasks instead of the reference's rayon pool.

The segment scan steps over heap sub-records with the grammar in
:mod:`.hprof`. It leaps over a run of equal-length records in one step,
but a JVM lists objects in heap-walk order, so on a real dump most
steps cover one record. The scan runs on the driver unless the heap
segments together exceed :data:`FANOUT_MIN_SEGMENT_BYTES`; past that it
fans out as one Spark task per segment.
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass, field

from . import hprof as H


# Heap-segment bytes above which pass 1 scans the segments as a Spark
# job (one task per segment) instead of on the driver. A PySpark job
# costs 0.2-0.35 s before its first task starts, more than the driver
# needs for the whole scan of a small dump. `build_index` seconds, warm,
# `local[4]` on a 4-core VM, range over two runs of 5-8 repetitions:
#
#   dump (4 MB segments)                   driver      Spark fan-out
#   heapgen 27 MB, 6 segments              0.02-0.05   0.35-0.66
#   interleaved String/byte[]   7 MB       0.15-0.25   0.24-0.39
#   interleaved                16 MB       0.32-0.37   0.28-0.43
#   interleaved                27 MB       0.52-0.84   0.48-0.81
#   interleaved                32 MB       0.66-0.71   0.50-0.73
#   interleaved                48 MB       1.21-2.13   0.83-1.61
#   interleaved                64 MB       1.34-2.59   1.16-1.84
#   interleaved               107 MB       2.14-4.19   2.14-3.02
#
# Interleaved records are the driver's worst case (one step per
# record): there the two tie near 30 MB. Heapgen's grouped records are
# leapt over in runs, and the driver wins by 10x. The gate sits at the
# worst-case tie.
FANOUT_MIN_SEGMENT_BYTES = 32 * 1024 * 1024


@dataclass
class RawFrame:
    frame_id: int
    method_name_id: int
    signature_id: int
    source_file_id: int
    class_serial: int
    line_num: int


@dataclass
class HprofIndex:
    header: H.Header
    strings: dict[int, str] = field(default_factory=dict)
    # class_obj_id → java name (from LoadClass, normalized)
    class_names: dict[int, str] = field(default_factory=dict)
    serial_to_class: dict[int, int] = field(default_factory=dict)
    classes: dict[int, H.ClassInfo] = field(default_factory=dict)
    frames: list[RawFrame] = field(default_factory=list)
    traces: list[tuple[int, int, list[int]]] = field(default_factory=list)
    splits: list[tuple[int, int]] = field(default_factory=list)
    record_counts: dict[str, int] = field(default_factory=dict)
    truncated: bool = False

    def class_name(self, class_obj_id: int) -> str:
        return self.class_names.get(class_obj_id, "(unresolved)")


def _flatten_layouts(idx: HprofIndex) -> None:
    """Build each class's full packed-field layout: own fields first,
    then superclass chain (the HPROF instance-bytes order), renaming
    shadowed names to ``DeclaringShortName@field`` — the reference's
    collision rule (util.rs:148-157)."""
    for info in idx.classes.values():
        layout: list[H.FieldDesc] = []
        seen: set[str] = set()
        cur = info
        while cur is not None:
            decl_name = idx.class_name(cur.class_obj_id)
            short = decl_name.rsplit(".", 1)[-1]
            for name_id, tcode in cur.own_fields:
                base = idx.strings.get(name_id, f"field_{name_id:x}")
                name = base if base not in seen else f"{short}@{base}"
                # extremely defensive: guarantee uniqueness
                while name in seen:
                    name += "_"
                seen.add(name)
                layout.append(H.FieldDesc(name=name, type_code=tcode, declaring_class=decl_name))
            cur = idx.classes.get(cur.super_class_obj_id)
        info.layout = layout


def _scan_segment(
    path: str,
    seg_start: int,
    seg_end: int,
    id_size: int,
    target_split_bytes: int,
) -> tuple[list, list[tuple[int, int]], int | None]:
    """Skip-scan one heap segment: harvest ClassDumps and plan split
    boundaries on sub-record boundaries. Reads ONLY its byte range, so
    it runs alike on the driver and as a Spark task (segments are
    independent — a split never spans the record header between
    segments).

    Records are located through the shared :class:`~.hprof.SubRecords`
    grammar; runs of equal-length object records are leapt over with its
    run prober, capped at the current split's remaining byte budget so
    split sizes still land on ~target_split_bytes.

    A sub-record cut short by the end of the segment ends the scan: the
    splits stop before it, and the third element of the result is its
    file offset (``None`` when the segment is whole). The caller decides
    whether that is an error, so both scan paths report it alike.
    """
    with open(path, "rb") as f:
        f.seek(seg_start)
        buf = f.read(seg_end - seg_start)
    g = H.SUB_RECORDS[id_size]
    classes: list = []
    splits: list[tuple[int, int]] = []
    pos = split_start = 0
    end = n = len(buf)
    while pos < end:
        rec_start = pos
        try:
            if buf[pos] == H.SUB_CLASS_DUMP:
                info, pos = H.parse_class_dump(buf, pos + 1, id_size)
                classes.append(info)
            else:
                stride = g.size(buf, pos)
                budget = split_start + target_split_bytes - pos + stride
                pos += stride * g.probe_run(buf, pos, stride, min(end - pos, budget))
        except (struct.error, IndexError):
            pos = n + 1  # the record header itself is cut short
        except ValueError as e:
            raise ValueError(f"{e} of the heap segment at file offset {seg_start}") from None
        if pos > n:
            # the record runs past the segment's bytes
            end = rec_start
            break
        if pos - split_start >= target_split_bytes:
            splits.append((seg_start + split_start, seg_start + pos))
            split_start = pos
    if split_start < end:
        splits.append((seg_start + split_start, seg_start + end))
    return classes, splits, seg_start + end if end < n else None


def build_index(
    path: str,
    target_split_bytes: int = 64 * 1024 * 1024,
    spark=None,
    strict: bool = True,
) -> HprofIndex:
    """Driver metadata pass. The top-level walk reads ONLY record
    headers plus the (bounded) metadata record bodies — heap-segment
    bodies, the O(heap) part, are ``seek``ed over. The segments are
    then skip-scanned one at a time on the driver or, when *spark* is
    given and they total more than :data:`FANOUT_MIN_SEGMENT_BYTES`, as
    one Spark task each. Driver memory stays O(strings + classes +
    frames), plus one segment while the driver scans it.

    Real-world dumps are often cut short (disk full, process killed).
    ``strict=True`` (default) raises on any truncation; ``strict=False``
    ingests the complete-record prefix and sets ``idx.truncated``, also
    when a heap sub-record is cut short inside a segment."""
    file_size = os.path.getsize(path)
    # Metadata record bodies the driver must materialize; everything
    # else (above all the multi-GB heap segments) is skipped by seek.
    _KEEP_BODY = (H.TAG_UTF8, H.TAG_LOAD_CLASS, H.TAG_STACK_FRAME, H.TAG_STACK_TRACE)

    with open(path, "rb") as f:
        head = f.read(64)
        header = H.read_header(head)
        id_size = header.id_size
        idx = HprofIndex(header=header)

        segment_ranges: list[tuple[int, int]] = []
        f.seek(header.body_offset)
        pos = header.body_offset
        while True:
            rec_hdr = f.read(9)
            if len(rec_hdr) < 9:
                if rec_hdr:  # partial top-level header at EOF
                    if strict:
                        raise ValueError(
                            f"truncated record header at offset {pos}; re-run with "
                            "strict=False to ingest the complete prefix"
                        )
                    idx.truncated = True
                break
            tag = rec_hdr[0]
            (length,) = struct.unpack_from(">I", rec_hdr, 5)
            off = pos + 9
            name = H.TAG_NAMES.get(tag, f"0x{tag:02x}")
            idx.record_counts[name] = idx.record_counts.get(name, 0) + 1
            if tag in _KEEP_BODY:
                buf = f.read(length)
                if len(buf) < length:
                    if strict:
                        raise ValueError(
                            f"truncated {name} record at offset {pos}; "
                            "re-run with strict=False to ingest the complete prefix"
                        )
                    idx.truncated = True
                    break
                if tag == H.TAG_UTF8:
                    sid = H._read_id(buf, 0, id_size)
                    idx.strings[sid] = bytes(buf[id_size:length]).decode("utf-8", "replace")
                elif tag == H.TAG_LOAD_CLASS:
                    (serial,) = struct.unpack_from(">I", buf, 0)
                    class_obj_id = H._read_id(buf, 4, id_size)
                    name_id = H._read_id(buf, 8 + id_size, id_size)
                    cname = H.jvm_name_to_java(
                        idx.strings.get(name_id, f"class_{class_obj_id:x}")
                    )
                    idx.class_names[class_obj_id] = cname
                    idx.serial_to_class[serial] = class_obj_id
                elif tag == H.TAG_STACK_FRAME:
                    fid = H._read_id(buf, 0, id_size)
                    m = H._read_id(buf, id_size, id_size)
                    sig = H._read_id(buf, 2 * id_size, id_size)
                    src = H._read_id(buf, 3 * id_size, id_size)
                    serial, line = struct.unpack_from(">Ii", buf, 4 * id_size)
                    idx.frames.append(RawFrame(fid, m, sig, src, serial, line))
                else:  # TAG_STACK_TRACE
                    serial, thread_serial, n = struct.unpack_from(">III", buf, 0)
                    fids = [
                        H._read_id(buf, 12 + i * id_size, id_size) for i in range(n)
                    ]
                    idx.traces.append((serial, thread_serial, fids))
            else:
                if tag in (H.TAG_HEAP_DUMP, H.TAG_HEAP_DUMP_SEGMENT):
                    seg_end = off + length
                    if seg_end > file_size:
                        if strict:
                            raise ValueError(
                                f"truncated heap segment at offset {off} (declared end "
                                f"{seg_end} > file size {file_size}); re-run with "
                                "strict=False to ingest the complete prefix"
                            )
                        idx.truncated = True
                        seg_end = file_size
                    segment_ranges.append((off, seg_end))
                f.seek(length, 1)
            pos = off + length

    # Skip-scan segments: harvest ClassDumps (schema source) and plan
    # splits on sub-record boundaries. Segments are independent, so on
    # a big dump the scan fans out one Spark task per segment; below
    # the crossover a job's fixed cost exceeds the whole scan.
    abspath = os.path.abspath(path)
    segment_bytes = sum(e - s for s, e in segment_ranges)
    if spark is not None and len(segment_ranges) > 1 and segment_bytes > FANOUT_MIN_SEGMENT_BYTES:
        scanned = (
            spark.sparkContext.parallelize(segment_ranges, numSlices=len(segment_ranges))
            .map(lambda r: _scan_segment(abspath, r[0], r[1], id_size, target_split_bytes))
            .collect()
        )
    else:
        scanned = [
            _scan_segment(abspath, s, e, id_size, target_split_bytes) for s, e in segment_ranges
        ]
    for class_infos, seg_splits, cut in scanned:
        if cut is not None:
            if strict:
                raise ValueError(
                    f"truncated heap sub-record at offset {cut}; "
                    "re-run with strict=False to ingest the complete prefix"
                )
            idx.truncated = True
        for info in class_infos:
            info.name = idx.class_name(info.class_obj_id)
            idx.classes[info.class_obj_id] = info
        idx.splits.extend(seg_splits)

    _flatten_layouts(idx)
    return idx
