"""Spark 4 Python DataSource exposing an HPROF dump's top-level record
index as a DataFrame: ``spark.read.format("hprof").load(path)``.

This is the lazy, Catalyst-integrated face of the binary scan (A1/A2):
where :mod:`..ingest.convert` materializes the full warehouse (many
tables, one pass), this source answers record-level questions —
`count-records` tallies, record-size histograms, offset maps — without
writing anything, and composes with any DataFrame operator
(≙ the reference's count_records command,
/root/reference/src/commands/count_records.rs:7-29).

Scale shape: planning is a driver pass over the 9-byte record HEADERS
only (seek past bodies — O(records), touches ~1 page per record run),
cutting byte ranges at record boundaries every ``split_bytes``. Each
executor task then mmaps its own range — the same no-shared-state
posture as the ingest tasks, so a 1000-executor scan reads disjoint
ranges with zero coordination.

Two addressing modes share one reader:

- a single ``.hprof`` FILE keeps the original per-record schema;
- a DIRECTORY (or glob) scans every ``*.hprof`` beneath it and
  prefixes each row with a ``dump`` column (the file's basename) so a
  fleet of dumps — one per service instance, or one per collection
  epoch — is analyzable as ONE DataFrame (`groupBy("dump", ...)`
  gives the per-dump census; a self-join on ``dump`` pairs gives the
  growth diff). Per-file ``id_size`` rides in each partition, so
  32-bit and 64-bit JVM dumps mix freely in one scan.

The directory mode is also a Structured Streaming source:
``spark.readStream.format("hprof").load(dir)`` tails a spool
directory for newly committed dumps (rename-atomic discovery via
:class:`DirectoryTailStreamReader`) — continuous heap monitoring:
each micro-batch plans the byte-range splits of exactly the dumps
that appeared since the last checkpointed offset, so a fresh 2 GB
dump still fans out across the cluster within its own micro-batch.
"""

from __future__ import annotations

import glob as _glob
import mmap
import os
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from ..ingest import hprof as H
from .dir_tail import DirectoryTailStreamReader


@dataclass
class _RecordRange(InputPartition):
    start: int
    end: int
    path: str = ""
    #: non-None ⇒ multi-dump scan; the value lands in the `dump` column
    dump: str | None = None
    id_size: int = 8


def resolve_dumps(path: str) -> list[str]:
    p = os.path.abspath(path)
    if os.path.isdir(p):
        return sorted(_glob.glob(os.path.join(p, "*.hprof")))
    return sorted(f for f in _glob.glob(p) if os.path.isfile(f))


def _is_multi(path: str) -> bool:
    """Directory / glob addressing ⇒ rows carry their dump of origin.

    Decided by the ADDRESS, not the match count, so a glob that
    happens to match one file today keeps a stable schema as more
    dumps land."""
    return not os.path.isfile(os.path.abspath(path))


def _plan_ranges(path: str, split_bytes: int) -> tuple[int, list[tuple[int, int]]]:
    """Driver-side record-boundary range plan for ONE dump; returns
    (id_size, [(start, end), ...])."""
    ranges: list[tuple[int, int]] = []
    with open(path, "rb") as f:
        with mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as buf:
            header = H.read_header(buf)
            start = header.body_offset
            pos = start
            for _tag, body_off, body_len in H.iter_records(buf, header):
                rec_end = body_off + body_len
                if rec_end - start >= split_bytes:
                    ranges.append((start, rec_end))
                    start = rec_end
                pos = rec_end
            if pos > start:
                ranges.append((start, pos))
    return header.id_size, ranges


def _instance_row(buf, sp: int, sub: int, meta: dict, ids: int):
    """One row per heap OBJECT sub-record — instance, object array,
    primitive array, or class object — mirroring exactly the row set
    of the warehouse's ``_object_index``
    (≙ /root/reference/src/commands/dump_to_parquet.rs:246-370,
    499-512: every object kind gets an index row)."""

    def s64(v: int) -> int:
        return v - (1 << 64) if v >= 1 << 63 else v

    header = H.SUB_RECORDS[ids].header
    if sub == H.SUB_INSTANCE_DUMP:
        obj_id, _, cls_id, nbytes = header[sub].unpack_from(buf, sp + 1)
        return (s64(obj_id), "instance", s64(cls_id), nbytes)
    if sub == H.SUB_OBJECT_ARRAY_DUMP:
        obj_id, _, n, cls_id = header[sub].unpack_from(buf, sp + 1)
        return (s64(obj_id), "object_array", s64(cls_id), n)
    if sub == H.SUB_PRIMITIVE_ARRAY_DUMP:
        obj_id, _, n, _ = header[sub].unpack_from(buf, sp + 1)
        return (s64(obj_id), "primitive_array", None, n)
    if sub == H.SUB_CLASS_DUMP:
        info = meta["class_info"]
        return (s64(info.class_obj_id), "class", s64(info.class_obj_id), 0)
    return None


def _read_range(partition: _RecordRange, view: str):
    """Executor-side decode of one record-aligned byte range — shared
    verbatim by the batch reader and the directory tail so both
    surfaces decode a dump identically."""
    if partition.end <= partition.start:
        return
    ids = partition.id_size
    prefix = () if partition.dump is None else (partition.dump,)
    with open(partition.path, "rb") as f:
        with mmap.mmap(f.fileno(), 0, access=mmap.ACCESS_READ) as buf:
            pos = partition.start
            while pos + 9 <= partition.end:
                tag = buf[pos]
                (length,) = H.struct.unpack_from(">I", buf, pos + 5)
                body = pos + 9
                if view == "strings":
                    if tag == H.TAG_UTF8 and length >= ids:
                        sid = H._read_id(buf, body, ids)
                        val = bytes(buf[body + ids : body + length]).decode(
                            "utf-8", "replace"
                        )
                        yield prefix + (sid, val)
                elif view == "instances":
                    if tag in (H.TAG_HEAP_DUMP, H.TAG_HEAP_DUMP_SEGMENT):
                        sp, send = body, body + length
                        while sp < send:
                            sub, nxt, meta = H.skip_sub_record(buf, sp, ids)
                            row = _instance_row(buf, sp, sub, meta, ids)
                            if row is not None:
                                yield prefix + row
                            sp = nxt
                elif view == "gc_roots":
                    if tag in (H.TAG_HEAP_DUMP, H.TAG_HEAP_DUMP_SEGMENT):
                        sp, send = body, body + length
                        while sp < send:
                            sub, nxt, _meta = H.skip_sub_record(buf, sp, ids)
                            if sub in H.ROOT_NAMES:
                                obj_id = H._read_id(buf, sp + 1, ids)
                                # u64 -> signed int64, the robo-mode
                                # id convention of the warehouse.
                                if obj_id >= 1 << 63:
                                    obj_id -= 1 << 64
                                yield prefix + (obj_id, H.ROOT_NAMES[sub], sp)
                            sp = nxt
                else:
                    yield prefix + (
                        pos,
                        int(tag),
                        H.TAG_NAMES.get(tag, f"0x{tag:02x}"),
                        length,
                    )
                pos += 9 + length


class HprofRecordsReader(DataSourceReader):
    def __init__(self, path: str, split_bytes: int, view: str = "records"):
        self.path = os.path.abspath(path)
        self.split_bytes = split_bytes
        self.view = view
        self.multi = _is_multi(path)

    def partitions(self):
        files = resolve_dumps(self.path) if self.multi else [self.path]
        if not files:
            raise ValueError(f"no *.hprof dumps under {self.path!r}")
        parts: list[_RecordRange] = []
        for f in files:
            id_size, ranges = _plan_ranges(f, self.split_bytes)
            dump = os.path.basename(f) if self.multi else None
            for s, e in ranges:
                parts.append(_RecordRange(s, e, f, dump, id_size))
        return parts or [_RecordRange(0, 0, files[0])]

    def read(self, partition: _RecordRange):
        yield from _read_range(partition, self.view)


class HprofTailStreamReader(DirectoryTailStreamReader):
    """``spark.readStream.format("hprof").load(spool_dir)`` — tail a
    directory that accumulates heap dumps (a crashed-JVM spool, a
    periodic `jmap` cron, a fleet's upload bucket mount). Offset
    semantics and rename-atomic discovery live in
    :class:`DirectoryTailStreamReader`; unlike the single-partition
    tails (TFRecord/Arrow/WARC shards are moderate files), a dump can
    be GBs, so each newly appeared dump is expanded into record-
    boundary byte-range splits AT PLAN TIME — one micro-batch
    parallelizes across the cluster exactly like a batch scan of the
    same dump. Rows carry the ``dump`` column, so a streaming
    aggregation keyed on it yields the per-dump census as each dump
    arrives."""

    def __init__(self, path: str, split_bytes: int, view: str, keep: int = 0):
        super().__init__(path, ("*.hprof",), keep)
        self.split_bytes = split_bytes
        self.view = view

    def partitions(self, start: dict, end: dict):
        base = os.path.abspath(self.path)
        parts: list[_RecordRange] = []
        for name in self._new_names(start, end):
            f = os.path.join(base, name)
            id_size, ranges = _plan_ranges(f, self.split_bytes)
            for s, e in ranges:
                parts.append(_RecordRange(s, e, f, name, id_size))
        return parts

    def read(self, partition: _RecordRange):
        yield from _read_range(partition, self.view)


class HprofDataSource(DataSource):
    """``format("hprof")``: one row per top-level HPROF record
    (default view); ``option("view", "strings")`` yields the UTF8
    string dictionary (A4), ``option("view", "gc_roots")`` walks
    heap-dump sub-records (explicit lengths — no class registry
    needed) yielding the 9-way GC root set (A17), and
    ``option("view", "instances")`` yields one row per heap object
    (instance / object array / primitive array / class) — the lazy
    twin of the warehouse's ``_object_index`` (A6) — each as a
    DataFrame instead of a materialized warehouse table.

    Loading a DIRECTORY (or glob) scans every ``*.hprof`` it holds
    and prefixes rows with the ``dump`` basename; the same directory
    form is tailable with ``spark.readStream`` (see
    :class:`HprofTailStreamReader`)."""

    @classmethod
    def name(cls):
        return "hprof"

    def schema(self):
        view = self.options.get("view", "records")
        if view == "strings":
            cols = "string_id BIGINT, value STRING"
        elif view == "gc_roots":
            cols = "obj_id BIGINT, root_type STRING, offset BIGINT"
        elif view == "instances":
            cols = "obj_id BIGINT, kind STRING, class_obj_id BIGINT, n BIGINT"
        else:
            cols = "offset BIGINT, tag INT, tag_name STRING, body_len BIGINT"
        path = self.options.get("path")
        if path and _is_multi(path):
            return f"dump STRING, {cols}"
        return cols

    def _split_bytes(self) -> int:
        return int(self.options.get("split_bytes", 64 << 20))

    def reader(self, schema):
        path = self.options.get("path")
        if not path:
            raise ValueError("hprof source requires a path: .load('/dump.hprof')")
        return HprofRecordsReader(
            path, self._split_bytes(), self.options.get("view", "records")
        )

    def streamReader(self, schema):
        path = self.options.get("path")
        if not path or not os.path.isdir(os.path.abspath(path)):
            raise ValueError(
                "format('hprof') streaming tails a DIRECTORY of dumps; "
                f"got {path!r}"
            )
        return HprofTailStreamReader(
            path,
            self._split_bytes(),
            self.options.get("view", "records"),
            int(self.options.get("offset_keep", 0)),
        )


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(HprofDataSource)
