"""TFRecord DataSource: framing, CRC32C, reader options, and the
staged-commit writer protocol (the Arrow IPC sink's discipline under
TFRecord framing)."""

import glob
import os
import struct

import pytest

from pyspark.sql import functions as F

from heapdumpstardiver_spark.sources import register_tfrecord
from heapdumpstardiver_spark.sources.tfrecord_source import (
    _CRC_CHUNK,
    _crc32c_bytewise,
    crc32c,
    crc32c_many,
    iter_records,
    masked_crc,
    write_record,
    write_records,
)


# ---------------------------------------------------------------------------
# CRC + framing (no Spark)
# ---------------------------------------------------------------------------


def test_crc32c_known_vectors():
    # The canonical Castagnoli check vector plus degenerate inputs.
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0
    assert crc32c(b"\x00" * 32) == 0x8A9136AA  # RFC 3720 B.4 test vector


def test_vectorized_crc_matches_bytewise_across_boundaries():
    # r13: crc32c is numpy-vectorized (linear-contribution gather +
    # xor reduce); the per-byte loop is the parity oracle. Lengths
    # straddle the small-input cutoff, the chunk boundary, and the
    # <4-byte chunk tail.
    import random

    rnd = random.Random(42)
    lengths = [
        0, 1, 3, 4, 5, 63, 64, 65, 300,
        _CRC_CHUNK - 1, _CRC_CHUNK, _CRC_CHUNK + 1,
        _CRC_CHUNK + 3, 2 * _CRC_CHUNK + 2,
    ]
    data = [bytes(rnd.getrandbits(8) for _ in range(n)) for n in lengths]
    for d in data:
        assert crc32c(d) == _crc32c_bytewise(d)
    # batched path: same answers, any mix of sizes, in one call
    assert crc32c_many(data) == [_crc32c_bytewise(d) for d in data]


def test_write_records_byte_identical_to_write_record(tmp_path):
    # r13: the batched writer (one vectorized CRC pass + one buffered
    # write per Arrow batch) must frame byte-for-byte like the
    # per-record reference path.
    import io

    payloads = [b"", b"a", b"abc", bytes(range(256)), b"x" * 9000]
    a, b = io.BytesIO(), io.BytesIO()
    for p in payloads:
        write_record(a, p)
    write_records(b, payloads)
    assert a.getvalue() == b.getvalue()


def test_mask_is_tf_rotation_plus_delta():
    crc = crc32c(b"abc")
    expect = (((crc >> 15) | (crc << 17)) + 0xA282EAD8) & 0xFFFFFFFF
    assert masked_crc(b"abc") == expect


def test_framing_roundtrip_and_corruption(tmp_path):
    p = tmp_path / "x.tfrecord"
    payloads = [b"abc", b"", bytes(range(256))]
    with open(p, "wb") as f:
        for pl in payloads:
            write_record(f, pl)
    recs = list(iter_records(str(p)))
    assert [(i, pl) for i, pl, _ in recs] == list(enumerate(payloads))
    assert all(ok for _, _, ok in recs)
    # flip one payload byte of record 0 (offset 12 = 8 len + 4 crc)
    data = bytearray(p.read_bytes())
    data[12] ^= 0xFF
    p.write_bytes(bytes(data))
    recs = list(iter_records(str(p)))
    assert recs[0][2] is False and recs[1][2] and recs[2][2]
    # validation off: framing still parses, crc_ok is None
    assert [ok for _, _, ok in iter_records(str(p), validate=False)] == [
        None,
        None,
        None,
    ]


def test_truncated_record_raises(tmp_path):
    p = tmp_path / "torn.tfrecord"
    with open(p, "wb") as f:
        write_record(f, b"whole")
        f.write(struct.pack("<Q", 100))  # length of a record that never came
    with pytest.raises(ValueError, match="truncated"):
        list(iter_records(str(p)))


# ---------------------------------------------------------------------------
# Spark reader
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def shard_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("tfr_shards")
    for shard, n in [("a", 3), ("b", 2)]:
        with open(d / f"{shard}.tfrecord", "wb") as f:
            for i in range(n):
                write_record(f, f"{shard}:{i}".encode())
    return str(d)


def test_reader_one_partition_per_file(spark, shard_dir):
    register_tfrecord(spark)
    df = spark.read.format("tfrecord").load(shard_dir)
    assert df.rdd.getNumPartitions() == 2
    rows = df.select("record_index", "length", "crc_ok").collect()
    assert len(rows) == 5
    assert all(r.crc_ok for r in rows)
    # record_index restarts per file
    assert sorted(r.record_index for r in rows) == [0, 0, 1, 1, 2]


def test_reader_validate_off_yields_null_crc(spark, shard_dir):
    register_tfrecord(spark)
    df = (
        spark.read.format("tfrecord")
        .option("validate", "false")
        .load(shard_dir)
    )
    assert [r[0] for r in df.select("crc_ok").distinct().collect()] == [None]


def test_reader_missing_path_fails_loudly(spark, tmp_path):
    register_tfrecord(spark)
    with pytest.raises(Exception, match="no TFRecord files"):
        spark.read.format("tfrecord").load(str(tmp_path / "nope")).count()


# ---------------------------------------------------------------------------
# Spark writer: staged-commit protocol
# ---------------------------------------------------------------------------


def _payload_df(spark, n=100, parts=4):
    return spark.range(0, n, 1, parts).select(
        F.encode(F.concat(F.lit("p:"), F.col("id")), "utf-8").alias("payload")
    )


def test_writer_roundtrip_and_part_naming(spark, tmp_path):
    register_tfrecord(spark)
    out = str(tmp_path / "export")
    _payload_df(spark).write.format("tfrecord").mode("append").save(out)
    shards = sorted(os.listdir(out))
    assert len(shards) == 4
    assert all(s.startswith("part-") and s.endswith(".tfrecord") for s in shards)
    assert not glob.glob(os.path.join(out, ".staging-*"))
    back = spark.read.format("tfrecord").load(out)
    assert back.count() == 100
    assert back.agg(F.min("crc_ok")).first()[0] is True


def test_writer_overwrite_replaces_prior_snapshot(spark, tmp_path):
    register_tfrecord(spark)
    out = str(tmp_path / "export")
    _payload_df(spark, n=10, parts=1).write.format("tfrecord").mode(
        "append"
    ).save(out)
    first = set(os.listdir(out))
    _payload_df(spark, n=7, parts=1).write.format("tfrecord").mode(
        "overwrite"
    ).save(out)
    second = set(os.listdir(out))
    assert first.isdisjoint(second)  # job-unique names, old snapshot gone
    assert spark.read.format("tfrecord").load(out).count() == 7


def test_writer_refuses_append_semantics(spark, tmp_path):
    register_tfrecord(spark)
    out = str(tmp_path / "export")
    _payload_df(spark, n=5, parts=1).write.format("tfrecord").mode(
        "append"
    ).save(out)
    with pytest.raises(Exception, match="already holds TFRecord"):
        _payload_df(spark, n=5, parts=1).write.format("tfrecord").mode(
            "append"
        ).save(out)


def test_writer_rejects_non_binary_schema(spark, tmp_path):
    register_tfrecord(spark)
    out = str(tmp_path / "export")
    with pytest.raises(Exception, match="single binary column"):
        spark.range(3).write.format("tfrecord").mode("append").save(out)


def test_writer_empty_partitions_produce_no_shards(spark, tmp_path):
    register_tfrecord(spark)
    out = str(tmp_path / "export")
    df = _payload_df(spark, n=2, parts=8)  # 6 of 8 partitions empty
    df.write.format("tfrecord").mode("append").save(out)
    assert len(os.listdir(out)) <= 2
    assert spark.read.format("tfrecord").load(out).count() == 2


# ---------------------------------------------------------------------------
# tf.train.Example wire codec (no Spark)
# ---------------------------------------------------------------------------

from heapdumpstardiver_spark.sources.tf_example import (  # noqa: E402
    decode_example,
    encode_example,
)


def test_example_known_wire_vector():
    # Example{features{feature{key:"a" value{int64_list{value:[1]}}}}}
    # hand-assembled from the published protobuf wire spec.
    known = bytes.fromhex("0a0c0a0a0a01611205" + "1a030a0101")
    assert encode_example({"a": [1]}) == known
    assert decode_example(known) == {"a": ("int64", [1])}


def test_example_roundtrip_all_kinds_and_negatives():
    ex = {
        "cat": [b"img", b""],
        "ids": [1, 0, -3, 2**62, -(2**62)],
        "score": [0.5, 1.25, -2.75],
    }
    dec = decode_example(encode_example(ex))
    assert dec["cat"] == ("bytes", [b"img", b""])
    assert dec["ids"] == ("int64", [1, 0, -3, 2**62, -(2**62)])
    assert dec["score"] == ("float", [0.5, 1.25, -2.75])


def test_example_encoder_is_deterministic():
    ex = {"b": [2], "a": [b"x"], "c": [1.5]}
    assert encode_example(ex) == encode_example(dict(reversed(ex.items())))


def test_example_decoder_skips_unknown_fields():
    from heapdumpstardiver_spark.sources.tf_example import (
        _VARINT,
        _tag,
        _write_varint,
    )

    buf = bytearray(encode_example({"a": [7]}))
    _write_varint(buf, _tag(99, _VARINT))
    _write_varint(buf, 424242)
    assert decode_example(bytes(buf)) == {"a": ("int64", [7])}


def test_example_decoder_accepts_unpacked_encodings():
    # legacy per-element repeated encoding for int64 and float lists
    import struct as _struct

    from heapdumpstardiver_spark.sources.tf_example import (
        _I32,
        _VARINT,
        _tag,
        _write_len_field,
        _write_varint,
    )

    ids_body = bytearray()
    for v in (3, -1):
        _write_varint(ids_body, _tag(1, _VARINT))
        _write_varint(ids_body, v)
    sc_body = bytearray()
    for s in (0.5,):
        _write_varint(sc_body, _tag(1, _I32))
        sc_body.extend(_struct.pack("<f", s))
    feats = bytearray()
    for name, kind_field, body in (
        ("ids", 3, bytes(ids_body)),
        ("score", 2, bytes(sc_body)),
    ):
        feat = bytearray()
        _write_len_field(feat, kind_field, body)
        entry = bytearray()
        _write_len_field(entry, 1, name.encode())
        _write_len_field(entry, 2, bytes(feat))
        _write_len_field(feats, 1, bytes(entry))
    msg = bytearray()
    _write_len_field(msg, 1, bytes(feats))
    dec = decode_example(bytes(msg))
    assert dec["ids"] == ("int64", [3, -1])
    assert dec["score"] == ("float", [0.5])


def test_example_roundtrip_property():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    names = st.text(
        alphabet=st.characters(min_codepoint=97, max_codepoint=122),
        min_size=1,
        max_size=8,
    )
    i64 = st.integers(min_value=-(2**63), max_value=2**63 - 1)
    values = st.one_of(
        st.lists(st.binary(max_size=16), min_size=1, max_size=4),
        st.lists(i64, min_size=1, max_size=6),
    )

    @settings(max_examples=200, deadline=None)
    @given(st.dictionaries(names, values, min_size=1, max_size=4))
    def check(ex):
        dec = decode_example(encode_example(ex))
        assert set(dec) == set(ex)
        for name, vals in ex.items():
            kind, got = dec[name]
            assert got == vals
            assert kind == ("bytes" if isinstance(vals[0], bytes) else "int64")

    check()


# ---------------------------------------------------------------------------
# Stream reader: tail a shard directory
# ---------------------------------------------------------------------------

from heapdumpstardiver_spark.sources.tfrecord_source import (  # noqa: E402
    TfRecordStreamReader,
    _TfrFile,
)


def test_stream_offset_planning_is_set_difference(tmp_path):
    d = tmp_path / "tail"
    d.mkdir()
    for name in ("a.tfrecord", "b.tfrecord"):
        with open(d / name, "wb") as f:
            write_record(f, name.encode())
    r = TfRecordStreamReader(str(d), validate=True)
    assert r.initialOffset() == {"seen": []}
    first = r.latestOffset()
    assert first == {"seen": ["a.tfrecord", "b.tfrecord"]}
    parts = r.partitions(r.initialOffset(), first)
    assert sorted(os.path.basename(p.path) for p in parts) == [
        "a.tfrecord",
        "b.tfrecord",
    ]
    # no new files -> empty plan; new file -> exactly that file
    assert r.partitions(first, r.latestOffset()) == []
    with open(d / "c.tfrecord", "wb") as f:
        write_record(f, b"c")
    parts2 = r.partitions(first, r.latestOffset())
    assert [os.path.basename(p.path) for p in parts2] == ["c.tfrecord"]


def test_stream_discovery_ignores_staging_and_empty_dir(tmp_path):
    d = tmp_path / "tail"
    d.mkdir()
    r = TfRecordStreamReader(str(d), validate=True)
    # a directory the exporter has not committed to yet is NOT an error
    assert r.latestOffset() == {"seen": []}
    (d / ".staging-deadbeef-0").write_bytes(b"half a shard")
    assert r.latestOffset() == {"seen": []}
    os.rename(d / ".staging-deadbeef-0", d / "done.tfrecord")
    assert r.latestOffset() == {"seen": ["done.tfrecord"]}


def test_stream_reads_only_new_shards_per_drain(spark, tmp_path):
    """Two availableNow drains over one checkpoint: drain 1 reads the
    initial shards, a shard committed between drains is read by drain
    2 ALONE (no re-read of drain 1's files), and stream rows ==
    batch rows over the final directory."""
    register_tfrecord(spark)
    src = tmp_path / "tail"
    src.mkdir()
    for shard, n in [("a", 3), ("b", 2)]:
        with open(src / f"{shard}.tfrecord", "wb") as f:
            for i in range(n):
                write_record(f, f"{shard}:{i}".encode())
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.format("tfrecord")
            .load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 5
    with open(src / "late.tfrecord", "wb") as f:
        write_record(f, b"late:0")
    drain()
    got = spark.read.parquet(out)
    assert got.count() == 6  # 5 + 1, NOT 11: old shards were not re-read
    batch = spark.read.format("tfrecord").load(str(src))
    assert sorted(
        bytes(r.payload) for r in got.select("payload").collect()
    ) == sorted(bytes(r.payload) for r in batch.select("payload").collect())
    assert [r.crc_ok for r in got.collect()] == [True] * 6


def test_stream_validate_option_flows_to_tasks(spark, tmp_path):
    register_tfrecord(spark)
    src = tmp_path / "tail"
    src.mkdir()
    with open(src / "x.tfrecord", "wb") as f:
        write_record(f, b"p")
    out = str(tmp_path / "out")
    q = (
        spark.readStream.format("tfrecord")
        .option("validate", "false")
        .load(str(src))
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert [r.crc_ok for r in spark.read.parquet(out).collect()] == [None]


# ---------------------------------------------------------------------------
# Stream writer: continuous shard export
# ---------------------------------------------------------------------------

from heapdumpstardiver_spark.sources.tfrecord_source import (  # noqa: E402
    TfRecordStreamWriter,
)


def test_stream_writer_commit_is_batch_replayable(tmp_path):
    """Replaying a batch id must converge the directory to ONE shard
    set for that batch — including when the replay stages fewer
    shards than a wider earlier attempt."""
    d = tmp_path / "sink"
    d.mkdir()
    w = TfRecordStreamWriter(str(d))

    def stage(payloads):
        p = str(d / f".staging-{w.stream_id}-{len(payloads)}{payloads[0].hex()}")
        with open(p, "wb") as f:
            for pl in payloads:
                write_record(f, pl)
        return _TfrCommit(staged=p, rows=len(payloads))

    from heapdumpstardiver_spark.sources.stream_sink import StagedCommit as _TfrCommit

    # attempt 1 of batch 7: two shards
    w.commit([stage([b"a"]), stage([b"b"])], batchId=7)
    assert sorted(os.listdir(d)) == [
        "part-b00000007-00000.tfrecord",
        "part-b00000007-00001.tfrecord",
    ]
    # replay of batch 7 stages ONE shard (e.g. different partitioning
    # after restart): the stale second shard must be reaped
    w2 = TfRecordStreamWriter(str(d))
    p = str(d / f".staging-{w2.stream_id}-x")
    with open(p, "wb") as f:
        write_record(f, b"a2")
    w2.commit([_TfrCommit(staged=p, rows=1)], batchId=7)
    assert sorted(os.listdir(d)) == ["part-b00000007-00000.tfrecord"]
    recs = list(iter_records(str(d / "part-b00000007-00000.tfrecord")))
    assert [pl for _, pl, _ in recs] == [b"a2"]


def test_stream_writer_hop_end_to_end(spark, tmp_path):
    """The curation hop: tail upstream TFRecord exports, transform,
    commit downstream shards. Two availableNow drains — the second
    must add exactly the new upstream payloads downstream (no
    duplicates of drain 1's batch)."""
    register_tfrecord(spark)
    up = tmp_path / "up"
    up.mkdir()
    down = str(tmp_path / "down")
    ck = str(tmp_path / "ck")

    def export(name, payloads):
        with open(up / name, "wb") as f:
            for pl in payloads:
                write_record(f, pl)

    export("a.tfrecord", [b"doc:1", b"doc:2"])

    def drain():
        q = (
            spark.readStream.format("tfrecord")
            .load(str(up))
            .select(F.col("payload"))
            .writeStream.format("tfrecord")
            .option("path", down)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    first = spark.read.format("tfrecord").load(down)
    assert sorted(
        bytes(r.payload) for r in first.select("payload").collect()
    ) == [b"doc:1", b"doc:2"]
    export("b.tfrecord", [b"doc:3"])
    drain()
    final = spark.read.format("tfrecord").load(down)
    assert sorted(
        bytes(r.payload) for r in final.select("payload").collect()
    ) == [b"doc:1", b"doc:2", b"doc:3"]
    # every committed shard is batch-keyed and CRC-clean
    names = sorted(os.listdir(down))
    assert all(n.startswith("part-b") and n.endswith(".tfrecord") for n in names)
    assert final.filter(~F.col("crc_ok")).count() == 0


def test_stream_writer_rejects_non_binary_schema(spark, tmp_path):
    register_tfrecord(spark)
    up = tmp_path / "up"
    up.mkdir()
    with open(up / "a.tfrecord", "wb") as f:
        write_record(f, b"x")
    with pytest.raises(Exception, match="single binary column"):
        q = (
            spark.readStream.format("tfrecord")
            .load(str(up))
            .select("record_index", "payload")
            .writeStream.format("tfrecord")
            .option("path", str(tmp_path / "down"))
            .option("checkpointLocation", str(tmp_path / "ck"))
            .trigger(availableNow=True)
            .start()
        )
        # no finite timeout: under heavy host load the failure can take
        # >2 min to surface, and a timed-out await returns instead of
        # raising — availableNow guarantees termination either way
        q.awaitTermination()


def test_tail_planning_reads_each_file_exactly_once_property():
    """Model any monotone growth of the export directory: across an
    arbitrary sequence of drains, the union of planned partitions
    covers every committed file EXACTLY once — the tail can neither
    skip nor re-read a shard, regardless of drain timing."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    names = st.lists(
        st.integers(0, 30).map(lambda i: f"s{i:02d}.tfrecord"),
        max_size=8,
        unique=True,
    )

    @settings(max_examples=200, deadline=None)
    @given(st.lists(names, min_size=1, max_size=6))
    def check(additions):
        r = TfRecordStreamReader("/exports", validate=True)
        seen: list[str] = []
        offset = r.initialOffset()
        planned: list[str] = []
        committed: set[str] = set()
        for batch in additions:
            committed |= {n for n in batch}
            seen = sorted(committed)
            # latestOffset is a directory snapshot; model it directly
            nxt = {"seen": seen}
            parts = r.partitions(offset, nxt)
            planned.extend(os.path.basename(p.path) for p in parts)
            assert all(p.validate for p in parts)
            offset = nxt
        assert sorted(planned) == sorted(committed)  # exactly once
        assert len(planned) == len(set(planned))

    check()


def test_stream_drain_with_no_new_files_is_a_noop(spark, tmp_path):
    """A trigger that finds nothing new must complete cleanly with an
    empty plan — the steady state of a production tail between
    exporter commits."""
    register_tfrecord(spark)
    src = tmp_path / "tail"
    src.mkdir()
    with open(src / "a.tfrecord", "wb") as f:
        write_record(f, b"x")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.format("tfrecord")
            .load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    drain()
    assert spark.read.parquet(out).count() == 1
    drain()  # nothing new committed between drains
    assert spark.read.parquet(out).count() == 1


# ---------------------------------------------------------------------------
# Bounded offsets (offset_keep): fleet-scale tails
# ---------------------------------------------------------------------------


def _mk_shards(d, names):
    for n in names:
        with open(d / n, "wb") as f:
            write_record(f, n.encode())


def test_offset_compaction_bounds_and_covers(tmp_path):
    """With keep=3 the offset lists at most 3 names plus a floor, yet
    across monotone growth every file is planned exactly once."""
    d = tmp_path / "tail"
    d.mkdir()
    r = TfRecordStreamReader(str(d), validate=True, keep=3)
    offset = r.initialOffset()
    planned = []
    for wave in range(4):
        _mk_shards(d, [f"s{wave}{i}.tfrecord" for i in range(3)])
        nxt = r.latestOffset()
        assert len(nxt.get("seen", [])) <= 3
        planned += [os.path.basename(p.path) for p in r.partitions(offset, nxt)]
        offset = nxt
    want = sorted(f"s{w}{i}.tfrecord" for w in range(4) for i in range(3))
    assert sorted(planned) == want and len(planned) == len(set(planned))
    assert "floor" in offset  # 12 files, keep=3: compaction engaged


def test_offset_compaction_bootstrap_over_floor(tmp_path):
    """A fresh checkpoint facing a compacted end offset recovers the
    floor region from the directory: every file on disk is planned."""
    d = tmp_path / "tail"
    d.mkdir()
    names = [f"s{i:02d}.tfrecord" for i in range(8)]
    _mk_shards(d, names)
    r = TfRecordStreamReader(str(d), validate=True, keep=2)
    end = r.latestOffset()
    assert len(end["seen"]) == 2 and end["floor"] == names[-3]
    parts = r.partitions(r.initialOffset(), end)
    assert sorted(os.path.basename(p.path) for p in parts) == names


def test_offset_compaction_straggler_below_floor_is_skipped(tmp_path):
    """The documented horizon semantics (FileStreamSource maxFileAge,
    name-ordered): a file committed late with a name sorting below an
    already-committed floor is not replanned once the floor stands
    still — monotone naming is the contract that avoids this."""
    d = tmp_path / "tail"
    d.mkdir()
    _mk_shards(d, [f"s{i}.tfrecord" for i in range(6)])
    r = TfRecordStreamReader(str(d), validate=True, keep=2)
    committed = r.latestOffset()
    r.partitions(r.initialOffset(), committed)
    # straggler sorting below the committed floor, no other new files
    _mk_shards(d, ["a0.tfrecord"])
    nxt = r.latestOffset()
    assert nxt["floor"] == committed["floor"]  # floor stands still
    assert r.partitions(committed, nxt) == []
    # a straggler INSIDE the keep window is still caught exactly once
    _mk_shards(d, ["s4a.tfrecord"])
    nxt2 = r.latestOffset()
    got = [os.path.basename(p.path) for p in r.partitions(nxt, nxt2)]
    assert got == ["s4a.tfrecord"]


def test_offset_compaction_exactly_once_property():
    """Monotone commit order (each wave's names sort after all prior
    names — the batch-keyed sink layout), any keep in 0..4: the union
    of planned files across drains covers every commit exactly once."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=150, deadline=None)
    @given(
        st.lists(st.integers(1, 3), min_size=1, max_size=6),
        st.integers(0, 4),
    )
    def check(wave_sizes, keep):
        r = TfRecordStreamReader("/exports", validate=True, keep=keep)
        committed: list[str] = []
        offset = r.initialOffset()
        planned: list[str] = []
        snap: list[str] = []
        # model the directory via the snapshot hook
        r._snapshot = lambda: sorted(snap)  # type: ignore[method-assign]
        seq = 0
        for size in wave_sizes:
            for _ in range(size):
                snap.append(f"s{seq:03d}.tfrecord")
                committed.append(f"s{seq:03d}.tfrecord")
                seq += 1
            nxt = r.latestOffset()
            if keep:
                assert len(nxt.get("seen", [])) <= keep
            planned.extend(
                os.path.basename(p.path) for p in r.partitions(offset, nxt)
            )
            offset = nxt
        assert sorted(planned) == sorted(committed)
        assert len(planned) == len(set(planned))

    check()


def test_stream_offset_keep_option_end_to_end(spark, tmp_path):
    """offset_keep flows from the reader option to the tail: three
    drains over growing shards, rows == batch read, no re-reads."""
    register_tfrecord(spark)
    src = tmp_path / "tail"
    src.mkdir()
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.format("tfrecord")
            .option("offset_keep", "2")
            .load(str(src))
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(240)

    _mk_shards(src, ["s00.tfrecord", "s01.tfrecord", "s02.tfrecord"])
    drain()
    _mk_shards(src, ["s03.tfrecord", "s04.tfrecord"])
    drain()
    _mk_shards(src, ["s05.tfrecord"])
    drain()
    got = sorted(
        bytes(r.payload) for r in spark.read.parquet(out).select("payload").collect()
    )
    batch = spark.read.format("tfrecord").load(str(src))
    assert got == sorted(
        bytes(r.payload) for r in batch.select("payload").collect()
    )
    assert len(got) == 6
