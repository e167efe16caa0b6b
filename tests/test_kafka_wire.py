"""Kafka wire-format contract: RecordBatch v2 frames replayed through
b05's exact decode+aggregate pipeline (the broker-path evidence the
sandbox cannot produce live — no broker, no connector jar, no network).
The codec is validated against the public protocol's fixed points
(CRC-32C check value, zig-zag varint identities, v2 header layout) so
the replay is not merely self-consistent."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from iceberg_playground_spark.kafkawire import (
    WireRecord,
    crc32c,
    decode_record_batch,
    decode_varint,
    encode_record_batch,
    encode_varint,
)


def test_crc32c_known_vector():
    # THE standard CRC-32C check value (RFC 3720 appendix / every
    # implementation's self-test): crc of ascii "123456789".
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"") == 0


@pytest.mark.parametrize("n", [0, 1, 63, 64, 65, 1023, 1024, 16391, 250_007])
def test_crc32c_lanes_match_the_byte_loop(n):
    import random

    from iceberg_playground_spark.kafkawire import _CRC32C_TABLE

    data = random.Random(n).randbytes(n)
    crc = 0xFFFFFFFF
    for b in data:
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    assert crc32c(data) == crc ^ 0xFFFFFFFF
    assert crc32c(bytearray(data)) == crc ^ 0xFFFFFFFF


def test_varint_zigzag_identities():
    for n in [0, 1, -1, 63, -64, 64, 300, -301, 2**31, -(2**31), 2**62]:
        buf = encode_varint(n)
        got, pos = decode_varint(buf, 0)
        assert got == n and pos == len(buf)
    # protobuf zig-zag fixed points
    assert encode_varint(0) == b"\x00"
    assert encode_varint(-1) == b"\x01"
    assert encode_varint(1) == b"\x02"


def test_record_batch_round_trip():
    recs = [
        (b"k0", b'{"k": 1}'),
        (None, b'{"k": 2}'),
        (b"k2", None),
    ]
    buf = encode_record_batch(recs, base_offset=100)
    out = decode_record_batch(buf)
    assert [(r.key, r.value) for r in out] == recs
    assert [r.offset for r in out] == [100, 101, 102]
    assert out[2].timestamp - out[0].timestamp == 2


def test_corruption_is_detected():
    buf = bytearray(encode_record_batch([(b"k", b"v")]))
    buf[-1] ^= 0xFF
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batch(bytes(buf))
    # a frame long enough for the lane path: a byte flipped mid-frame
    big = bytearray(
        encode_record_batch([(b"k%d" % i, b"v" * 100) for i in range(200)])
    )
    assert len(big) > 16384
    big[len(big) // 2] ^= 0x01
    with pytest.raises(ValueError, match="CRC32C"):
        decode_record_batch(bytes(big))
    with pytest.raises(ValueError, match="magic"):
        bad = bytearray(encode_record_batch([(b"k", b"v")]))
        bad[16] = 1  # magic v1
        decode_record_batch(bytes(bad))


def test_wire_frames_through_b05_decode_path(spark):
    # The contract run VERDICT r4 item 5 asks for: wire-format batches
    # (as a fetch response would carry them) → decode → the SAME
    # _decode_and_count pipeline b05 uses — including the reference's
    # strict-decode asymmetry (missing required key = violation,
    # wrong-typed = silent NULL, kafka-bench.rs:277-299).
    from iceberg_playground_spark.queries.kafka import _decode_and_count

    per_partition = 40
    frames = []
    for part in range(5):  # the reference's 5-partition topic layout
        payloads = []
        for i in range(per_partition):
            n = part * per_partition + i
            if n % 20 == 0:
                payloads.append((None, b'{"pad": 1}'))  # violation
            elif n % 7 == 0:
                payloads.append((None, b'{"k": "oops"}'))  # silent null
            else:
                payloads.append((None, json.dumps({"k": n}).encode()))
        batch = encode_record_batch(payloads, base_offset=part * 1000)
        for rec in decode_record_batch(batch):
            frames.append(("events", part, rec.value.decode()))
    df = spark.createDataFrame(
        frames, "topic STRING, partition INT, json STRING"
    )
    got = {
        r["partition"]: (r["n_messages"], r["n_violations"], r["sum_k"])
        for r in _decode_and_count(df).collect()
    }
    # python-side expectation, computed independently of Spark
    exp = {}
    for part in range(5):
        n_msg, n_viol, sum_k = per_partition, 0, 0
        for i in range(per_partition):
            n = part * per_partition + i
            if n % 20 == 0:
                n_viol += 1
            elif n % 7 == 0:
                pass  # wrong type: NULL k, no violation
            else:
                sum_k += n
        exp[part] = (n_msg, n_viol, sum_k)
    assert got == exp


def test_batch_parses_like_a_fetch_payload(spark):
    # multiple batches concatenated (a fetch response returns a batch
    # sequence per partition): parse sequentially by batchLength
    import struct

    b1 = encode_record_batch([(None, b'{"k": 1}')], base_offset=0)
    b2 = encode_record_batch(
        [(None, b'{"k": 2}'), (None, b'{"k": 3}')], base_offset=1
    )
    payload = b1 + b2
    pos, recs = 0, []
    while pos < len(payload):
        (_, blen) = struct.unpack_from(">qi", payload, pos)
        end = pos + 12 + blen
        recs += decode_record_batch(payload[pos:end])
        pos = end
    assert [json.loads(r.value)["k"] for r in recs] == [1, 2, 3]
    assert [r.offset for r in recs] == [0, 1, 2]
