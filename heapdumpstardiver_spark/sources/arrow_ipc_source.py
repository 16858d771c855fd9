"""Spark 4 Python DataSource for Arrow IPC containers:
``spark.read.format("arrowipc").load(path)`` — one row per record.

Arrow IPC (the Feather V2 container and its streaming sibling) is the
zero-copy interchange format feature-store exports, DuckDB
``COPY TO ... (FORMAT arrow)``, Polars/pandas ``to_feather`` and ML
dataloaders all speak — a training-data engine needs to ingest it
next to parquet, JSONL (``ingest/jsonl.py``), WARC
(``sources/warc_source.py``) and HPROF. Spark has no built-in reader
for it; this source bridges it through the Python DataSource API
with pyarrow doing the decode.

The fast path matters here: ``read`` yields whole ``pyarrow
RecordBatch`` objects, which the Python DataSource runner ships to
the JVM as Arrow buffers — no per-row Python materialization at all
(the same Arrow-batch discipline as the engine's mapInPandas
stages). Schema comes from the first file's IPC schema footer (a
metadata-only open — no data pages touched), converted with Spark's
own arrow-schema mapping so nested/temporal types land exactly as
``spark.createDataFrame`` would land them.

Scale shape mirrors the WARC source: one input partition per FILE
(exports ship as many moderate files; file count is the parallelism
unit on a 1000-executor cluster), each task streaming only its own
batches. Both layouts are handled: the random-access FILE format
(.arrow / .feather, magic ``ARROW1``) and the STREAM format
(.arrows or anything without the magic).
"""

from __future__ import annotations

import glob as _glob
import os
from dataclasses import dataclass

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

from heapdumpstardiver_spark.sources.dir_tail import DirectoryTailStreamReader
from heapdumpstardiver_spark.sources.stream_sink import (
    BatchReplayStreamWriter,
    StagedCommitWriter,
    prepare_sink_dir,
)

_EXTS = (".arrow", ".feather", ".arrows", ".ipc")



@dataclass
class _ArrowFile(InputPartition):
    path: str


def _is_file_format(path: str) -> bool:
    """The IPC FILE container starts with the ARROW1 magic; the
    stream format does not — sniff bytes, never trust extensions."""
    with open(path, "rb") as f:
        return f.read(6) == b"ARROW1"


def _open_reader(path: str):
    import pyarrow.ipc as ipc

    if _is_file_format(path):
        return ipc.open_file(path)
    return ipc.open_stream(path)


def _iter_batches(path: str):
    import pyarrow.ipc as ipc

    if _is_file_format(path):
        with ipc.open_file(path) as r:
            for i in range(r.num_record_batches):
                yield r.get_batch(i)
    else:
        with ipc.open_stream(path) as r:
            yield from r


def resolve_files(path: str) -> list[str]:
    p = os.path.abspath(path)
    if os.path.isdir(p):
        return sorted(
            f
            for ext in _EXTS
            for f in _glob.glob(os.path.join(p, f"*{ext}"))
        )
    return sorted(_glob.glob(p)) or [p]


class ArrowIpcReader(DataSourceReader):
    def __init__(self, path: str):
        self.path = path
        self.files = resolve_files(path)

    def partitions(self):
        # loud failure lives here, not __init__: the WRITE command also
        # instantiates the reader against the (possibly empty) target
        if not self.files or not os.path.exists(self.files[0]):
            raise ValueError(f"no Arrow IPC files under {self.path!r}")
        return [_ArrowFile(f) for f in self.files]

    def read(self, partition: _ArrowFile):
        # Arrow-batch fast path: the runner ships RecordBatches to the
        # JVM as Arrow buffers — zero per-row Python cost.
        yield from _iter_batches(partition.path)


class ArrowIpcStreamReader(DirectoryTailStreamReader):
    """``spark.readStream.format("arrowipc").load(dir)`` tails an
    export directory: each micro-batch plans exactly the files that
    appeared since the last committed offset, batches forwarded as
    Arrow buffers by the same ``_iter_batches`` the batch reader
    uses. Offset semantics and the rename-atomic discovery contract
    live in :class:`DirectoryTailStreamReader`. The schema is pinned
    by the FIRST file at stream start (see
    :meth:`ArrowIpcDataSource.streamReader`); files arriving later
    with a different schema are the caller's error, the same strict
    posture as the batch reader."""

    def __init__(self, path: str, keep: int = 0):
        super().__init__(path, tuple(f"*{e}" for e in _EXTS), keep)

    def _partition(self, path: str):
        return _ArrowFile(path)

    def read(self, partition: _ArrowFile):
        yield from _iter_batches(partition.path)


def _write_ipc_shard(staged_path: str, batches) -> int:
    """Stream RecordBatches into one IPC FILE container; return rows."""
    import pyarrow.ipc as ipc

    rows = 0
    writer = None
    try:
        for batch in batches:
            if writer is None:
                writer = ipc.new_file(staged_path, batch.schema)
            writer.write_batch(batch)
            rows += batch.num_rows
    finally:
        if writer is not None:
            writer.close()
    return rows


class ArrowIpcWriter(StagedCommitWriter):
    """Executor-side Arrow IPC sink: each task streams its
    RecordBatches into one staged IPC FILE container, promoted to
    ``part-NNNNN-<job>.arrow`` by the driver's commit (the protocol
    and its incident notes live on :class:`StagedCommitWriter`)."""

    ext = ".arrow"

    def write_shard(self, staged_path: str, batches) -> int:
        return _write_ipc_shard(staged_path, batches)


class ArrowIpcStreamWriter(BatchReplayStreamWriter):
    """``df.writeStream.format("arrowipc")`` — continuous export of
    Arrow IPC FILE containers (one shard per non-empty task per
    micro-batch), e.g. a feature-store hop whose consumers mmap
    Feather directly. The batch-id-keyed replay-convergent commit
    protocol lives in :class:`BatchReplayStreamWriter`; this subclass
    only streams the task's RecordBatches into the IPC container.
    Any schema is writable (unlike the single-binary-column TFRecord
    framing) — the shard carries its own schema footer."""

    ext = ".arrow"

    def write_shard(self, staged_path: str, batches) -> int:
        return _write_ipc_shard(staged_path, batches)


class ArrowIpcDataSource(DataSource):
    """``format("arrowipc")``: Arrow IPC file/stream containers, one
    partition per file, batches forwarded as Arrow buffers. Schema is
    read from the first file's IPC metadata; heterogeneous files are
    the caller's error (the strict posture of `catalog.load_table`).
    Writable: ``df.write.format("arrowipc").mode(...).save(path)``
    streams each partition's batches into one IPC FILE container via
    the staged-commit protocol of :class:`ArrowIpcWriter`; also a
    streaming sink (``df.writeStream`` commits one replay-convergent
    shard set per micro-batch — see :class:`ArrowIpcStreamWriter`)."""

    @classmethod
    def name(cls):
        return "arrowipc"

    def schema(self):
        from pyspark.sql.pandas.types import from_arrow_schema

        path = self.options.get("path")
        if not path:
            raise ValueError("format('arrowipc') requires .load(path)")
        files = resolve_files(path)
        if not files or not os.path.exists(files[0]):
            # the WRITE path instantiates the source against a not-yet-
            # populated target and still asks for a schema — return a
            # placeholder (writes take their schema from the DataFrame;
            # reads of an empty path still fail loudly in the reader)
            return "placeholder string"
        with _open_reader(files[0]) as r:
            return from_arrow_schema(r.schema)

    def reader(self, schema):
        return ArrowIpcReader(self.options["path"])

    def streamReader(self, schema):
        # unlike the fixed-schema TFRecord stream, this source INFERS
        # its schema, so the tail needs at least one committed file at
        # stream start to pin it — starting on an empty directory
        # would silently bind the write-path placeholder schema and
        # poison the checkpoint
        files = resolve_files(self.options["path"])
        if not files or not os.path.exists(files[0]):
            raise ValueError(
                "format('arrowipc') streaming needs at least one "
                f"committed file under {self.options['path']!r} to pin "
                "the schema before the tail starts"
            )
        return ArrowIpcStreamReader(
            self.options["path"], int(self.options.get("offset_keep", 0))
        )

    def streamWriter(self, schema, overwrite: bool):
        # appending one shard set per micro-batch IS the streaming
        # semantics — the immutable-snapshot refusal below is a
        # batch-sink posture only
        path = prepare_sink_dir(self.options.get("path"), "arrowipc")
        return ArrowIpcStreamWriter(path)

    def writer(self, schema, overwrite: bool):
        path = prepare_sink_dir(self.options.get("path"), "arrowipc")
        preexisting = [
            f
            for ext in _EXTS
            for f in _glob.glob(os.path.join(path, f"*{ext}"))
        ]
        if preexisting and not overwrite:
            raise ValueError(
                f"path {path!r} already holds Arrow files; use "
                "mode('overwrite') (append is not supported — exports "
                "are immutable snapshots)"
            )
        return ArrowIpcWriter(path, overwrite, preexisting)


def register(spark) -> None:
    """Idempotently register the source on a session."""
    spark.dataSource.register(ArrowIpcDataSource)
