"""Shared staged-commit core for the directory sinks.

The TFRecord and Arrow IPC sinks write the same way, batch and
streaming, so the protocol lives here once (the write-side twin of
:mod:`.dir_tail`, which owns the read-side offset core). A batch write
(:class:`StagedCommitWriter`) stages one dot-file per non-empty task
under a job id and the driver renames them to
``part-NNNNN-<job><ext>``; an overwrite deletes the files that
predated the job only AFTER all stages landed. A streaming write
(:class:`BatchReplayStreamWriter`):

- tasks stage into dot-files named ``.staging-<stream>-<uuid>`` —
  invisible to directory tails (glob skips dot-files) and to the
  batch readers;
- the driver's per-batch ``commit`` promotes staged files to names
  keyed by the BATCH id alone (``part-b<batchId>-<seq>.<ext>``,
  ``os.replace``), so a batch replayed after a crash REWRITES the
  same names instead of duplicating records;
- any leftover shard of a wider earlier attempt of the SAME batch is
  reaped before commit returns — the directory converges to exactly
  one shard set per batch id;
- ``abort`` sweeps by the sink's own staging scope only, because
  Spark hands it all-None messages on job failure (the incident
  contract documented on StagedCommitWriter) and an unscoped sweep would
  delete a concurrent batch writer's in-flight staging on the same
  target, breaking its commit renames.

One stream per target directory: batch-id-keyed names are what make
replays idempotent, so two different streams sharing a target would
collide on them (the same single-writer contract as Spark's own file
sink, which pins it via its metadata log). Composed with the
directory tails this makes a curation hop (tail upstream exports →
transform → commit downstream shards) restart-safe end-to-end:
downstream tails see only rename-committed shards.
"""

from __future__ import annotations

import glob as _glob
import os
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSourceArrowWriter,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

#: staging files older than this are presumed orphans of a hard-crashed
#: job and swept by the next writer; younger ones may belong to a
#: concurrent job mid-write on the same target and are left alone
STAGING_TTL_S = 3600.0


@dataclass
class StagedCommit(WriterCommitMessage):
    staged: str | None = None
    rows: int = 0


def prepare_sink_dir(path: str | None, fmt: str) -> str:
    """Resolve a sink's target directory, create it, and sweep staging
    leftovers of a previously crashed job. Their leading dot keeps them
    invisible to readers (glob's '*' skips dot-files), but they'd
    otherwise accumulate forever. Age-scoped: a CONCURRENT job writing
    the same directory has seconds-old staging files, and removing
    those would break its commit renames — only leftovers past the TTL
    can belong to a job that is truly gone (normal failures are cleaned
    by abort() immediately; this is the hard-crash backstop)."""
    import time

    path = os.path.abspath(path or "")
    if not path:
        raise ValueError(f"format('{fmt}') write requires .save(path)")
    os.makedirs(path, exist_ok=True)
    now = time.time()
    for stale in _glob.glob(os.path.join(path, ".staging-*")):
        try:
            if now - os.path.getmtime(stale) > STAGING_TTL_S:
                os.remove(stale)
        except OSError:
            pass
    return path


def _stage(path: str, scope: str, suffix: str, iterator, write_shard) -> StagedCommit:
    """Task side of both protocols: stream the task's RecordBatches
    into one ``.staging-<scope>-<uuid><suffix>`` file through
    *write_shard*. A task that fails mid-stream removes its own staging
    file eagerly (cheaper than waiting for the scope-level abort glob,
    and also covers retried attempts of a task whose job ultimately
    succeeds)."""
    import uuid

    it = iter(iterator)
    first = next(it, None)
    if first is None:
        return StagedCommit()  # empty partition: no shard
    staged = os.path.join(path, f".staging-{scope}-{uuid.uuid4().hex}{suffix}")
    try:
        rows = write_shard(staged, (b for b in (first, *it)))
    except BaseException:
        try:
            os.remove(staged)
        except OSError:
            pass
        raise
    return StagedCommit(staged=staged, rows=rows)


def _remove_all(paths) -> None:
    for p in paths:
        try:
            os.remove(p)
        except OSError:
            pass


class StagedCommitWriter(DataSourceArrowWriter):
    """Batch sink: one shard per non-empty task. Subclasses set
    :attr:`ext` and implement :meth:`write_shard`, as for
    :class:`BatchReplayStreamWriter`. The job id is assigned once,
    driver-side, and carried to every task and the commit worker by
    pickling; the per-task uuid keeps retries collision-free. Readers
    of the directory never observe a torn write (the
    `test_commit_protocol` discipline of the parquet pointer swaps).

    The job-scoped abort glob is load-bearing: on job failure Spark
    hands ``abort`` a None message for EVERY task — including tasks
    that completed before the stage was cancelled — so the staged
    paths cannot be recovered from the messages; and an unscoped sweep
    would delete a concurrent job's in-flight staging on the same
    target, breaking its commit renames."""

    ext = ""

    def __init__(self, path: str, overwrite: bool, preexisting: list[str]):
        import uuid

        self.path = path
        self.overwrite = overwrite
        self.preexisting = preexisting
        self.job_id = uuid.uuid4().hex[:12]

    def write_shard(self, staged_path: str, batches) -> int:
        raise NotImplementedError

    def write(self, iterator):
        return _stage(self.path, self.job_id, self.ext, iterator, self.write_shard)

    def commit(self, messages):
        # job-unique part names: an overwrite's new files can never
        # collide with the preexisting set it is about to delete
        # (same-name collision would delete the fresh data)
        staged = [m.staged for m in messages if m and m.staged]
        for i, s in enumerate(sorted(staged)):
            os.rename(
                s, os.path.join(self.path, f"part-{i:05d}-{self.job_id}{self.ext}")
            )
        if self.overwrite:
            _remove_all(self.preexisting)

    def abort(self, messages):
        _remove_all(_glob.glob(os.path.join(self.path, f".staging-{self.job_id}-*")))


class BatchReplayStreamWriter(DataSourceStreamArrowWriter):
    """Subclasses set :attr:`ext` (committed-shard extension, with the
    dot) and implement :meth:`write_shard` — stream the task's Arrow
    RecordBatches into one open staging file, return the row count."""

    ext = ""

    def __init__(self, path: str):
        import uuid

        self.path = path
        # staging scope only — committed names must NOT carry this id,
        # or a post-restart replay of a half-committed batch would
        # duplicate instead of replace
        self.stream_id = uuid.uuid4().hex[:12]

    # -- task side ---------------------------------------------------------

    def write_shard(self, staged_path: str, batches) -> int:
        raise NotImplementedError

    def write(self, iterator):
        return _stage(self.path, self.stream_id, "", iterator, self.write_shard)

    # -- driver side -------------------------------------------------------

    def commit(self, messages, batchId: int) -> None:
        staged = sorted(m.staged for m in messages if m and m.staged)
        prefix = f"part-b{batchId:08d}-"
        final = []
        for i, s in enumerate(staged):
            dest = os.path.join(self.path, f"{prefix}{i:05d}{self.ext}")
            os.replace(s, dest)  # idempotent under batch replay
            final.append(dest)
        # a wider earlier attempt of this batch may have committed more
        # shards than this one staged — reap them or the replay leaks
        # their records into the total
        _remove_all(
            old
            for old in _glob.glob(os.path.join(self.path, f"{prefix}*{self.ext}"))
            if old not in final
        )

    def abort(self, messages, batchId: int) -> None:
        # messages are all None on failure — sweep by own scope only
        _remove_all(
            _glob.glob(os.path.join(self.path, f".staging-{self.stream_id}-*"))
        )
