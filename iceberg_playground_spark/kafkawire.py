"""Kafka wire-format (RecordBatch v2) codec in Python (numpy for the CRC).

The sandbox has no broker and no spark-sql-kafka connector jar, so the
env-gated ``spark.read.format("kafka")`` branch of b05 can never
execute here. This module closes the remaining evidence gap from the
protocol side: it encodes and decodes the on-the-wire **RecordBatch
magic v2** layout a real fetch response carries (the format the
reference's rdkafka consumer parses under the hood —
/root/reference/src/bin/kafka-bench.rs:43-55 — and the one Spark's
Kafka source hands to ``value``), so the contract test can replay
wire-format frames through the exact b05 decode+aggregate pipeline.

Layout implemented (Kafka protocol docs, KIP-98; stable since 0.11):

    RecordBatch =>
      baseOffset: int64          batchLength: int32
      partitionLeaderEpoch: int32   magic: int8 (=2)
      crc: uint32 (CRC32C over everything AFTER this field)
      attributes: int16          lastOffsetDelta: int32
      baseTimestamp: int64       maxTimestamp: int64
      producerId: int64          producerEpoch: int16
      baseSequence: int32        recordCount: int32
      records: [Record]
    Record =>
      length: varint             attributes: int8
      timestampDelta: varlong    offsetDelta: varint
      keyLength: varint  key: bytes     (-1 = null)
      valueLength: varint  value: bytes (-1 = null)
      headerCount: varint  [headerKeyLen key headerValLen val]

Varints are zig-zag encoded (protobuf style). The CRC is CRC32C
(Castagnoli) — NOT zlib's crc32 — computed over the bytes from
``attributes`` to the end of the batch; ``decode_record_batch``
verifies it and raises on corruption, which is the broker/client
integrity contract. Compression (attributes bits 0-2) is not
implemented: the generator writes uncompressed batches, and the
decoder rejects compressed input loudly rather than mis-parsing it.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

# -- CRC32C (Castagnoli, reflected polynomial 0x82F63B78), table-driven ----

_CRC32C_TABLE: list[int] = []


def _build_table() -> None:
    for n in range(256):
        c = n
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        _CRC32C_TABLE.append(c)


_build_table()

# Inputs of at least this many bytes run as 64-byte lanes in numpy: one
# table step per byte position across all lanes, then a fold of the
# lane registers. The CRC register update is linear over GF(2), so
# crc(A || B) = shift(crc(A), len(B)) ^ crc_from_zero(B); "shift by 64
# zero bytes" is a fixed linear map, applied a byte of the register at
# a time through four 256-entry tables.
_LANE = 64
_LANES_MIN = 1024
_TABLE_NP = np.array(_CRC32C_TABLE, dtype=np.uint32)


def _build_shift_tables() -> list[list[int]]:
    v = np.arange(256, dtype=np.uint32)
    v = np.concatenate([v << np.uint32(8 * k) for k in range(4)])
    for _ in range(_LANE):
        v = _TABLE_NP[v & 0xFF] ^ (v >> np.uint32(8))
    return [v[256 * k : 256 * (k + 1)].tolist() for k in range(4)]


_SHIFT_T0, _SHIFT_T1, _SHIFT_T2, _SHIFT_T3 = _build_shift_tables()


def crc32c(data: bytes) -> int:
    crc = 0xFFFFFFFF
    n = len(data) // _LANE if len(data) >= _LANES_MIN else 0
    if n:
        lanes = np.frombuffer(data, np.uint8, n * _LANE).reshape(n, _LANE)
        regs = np.zeros(n, dtype=np.uint32)
        for j in range(_LANE):
            regs = _TABLE_NP[(regs ^ lanes[:, j]) & 0xFF] ^ (
                regs >> np.uint32(8)
            )
        t0, t1, t2, t3 = _SHIFT_T0, _SHIFT_T1, _SHIFT_T2, _SHIFT_T3
        for r in regs.tolist():
            crc = (
                t0[crc & 0xFF]
                ^ t1[(crc >> 8) & 0xFF]
                ^ t2[(crc >> 16) & 0xFF]
                ^ t3[crc >> 24]
                ^ r
            )
    for b in memoryview(data)[n * _LANE :]:  # the tail, byte by byte
        crc = _CRC32C_TABLE[(crc ^ b) & 0xFF] ^ (crc >> 8)
    return crc ^ 0xFFFFFFFF


# -- zig-zag varints --------------------------------------------------------


def _zigzag(n: int) -> int:
    return (n << 1) ^ (n >> 63)


def _unzigzag(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def encode_varint(n: int) -> bytes:
    v = _zigzag(n) & 0xFFFFFFFFFFFFFFFF
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def decode_varint(buf: bytes, pos: int) -> tuple[int, int]:
    shift, acc = 0, 0
    while True:
        b = buf[pos]
        pos += 1
        acc |= (b & 0x7F) << shift
        if not b & 0x80:
            return _unzigzag(acc), pos
        shift += 7
        if shift > 70:
            raise ValueError("varint overruns 10 bytes")


# -- records ---------------------------------------------------------------


@dataclass
class WireRecord:
    offset: int
    timestamp: int
    key: bytes | None
    value: bytes | None


def _encode_record(
    offset_delta: int, ts_delta: int, key: bytes | None, value: bytes | None
) -> bytes:
    body = bytearray()
    body += b"\x00"  # record attributes (unused by the protocol)
    body += encode_varint(ts_delta)
    body += encode_varint(offset_delta)
    for blob in (key, value):
        if blob is None:
            body += encode_varint(-1)
        else:
            body += encode_varint(len(blob))
            body += blob
    body += encode_varint(0)  # header count
    return encode_varint(len(body)) + bytes(body)


def encode_record_batch(
    records: list[tuple[bytes | None, bytes | None]],
    base_offset: int = 0,
    base_timestamp: int = 1_700_000_000_000,
) -> bytes:
    """One uncompressed RecordBatch: records are (key, value) pairs,
    timestamps base_timestamp + index ms (the shape a rate-limited
    producer like kafka-load-gen/main.go emits)."""
    if not records:
        raise ValueError("a record batch holds >= 1 record")
    recs = b"".join(
        _encode_record(i, i, k, v) for i, (k, v) in enumerate(records)
    )
    n = len(records)
    # everything covered by the CRC: attributes .. records
    after_crc = (
        struct.pack(">hiqqqhii", 0, n - 1, base_timestamp,
                    base_timestamp + n - 1, -1, -1, -1, n)
        + recs
    )
    crc = crc32c(after_crc)
    # batchLength counts bytes AFTER the batchLength field itself
    batch_len = 4 + 1 + 4 + len(after_crc)  # leaderEpoch+magic+crc+rest
    return (
        struct.pack(">qiib", base_offset, batch_len, -1, 2)
        + struct.pack(">I", crc)
        + after_crc
    )


def decode_record_batch(buf: bytes) -> list[WireRecord]:
    """Parse + integrity-check one RecordBatch; returns its records
    with absolute offsets/timestamps reconstructed from the deltas."""
    if len(buf) < 61:
        raise ValueError("short batch: no v2 header fits")
    base_offset, batch_len, _epoch, magic = struct.unpack_from(">qiib", buf, 0)
    if magic != 2:
        raise ValueError(f"unsupported magic {magic}: only v2 batches")
    (crc,) = struct.unpack_from(">I", buf, 17)
    body = buf[21 : 12 + batch_len]
    if crc32c(body) != crc:
        raise ValueError("CRC32C mismatch: corrupt batch")
    (attributes, _last_delta, base_ts, _max_ts, _pid, _pepoch, _bseq,
     count) = struct.unpack_from(">hiqqqhii", body, 0)
    if attributes & 0x07:
        raise ValueError("compressed batch: codec not implemented")
    out: list[WireRecord] = []
    pos = 40  # fixed part of the post-crc header
    for _ in range(count):
        rec_len, pos = decode_varint(body, pos)
        end = pos + rec_len
        pos += 1  # record attributes
        ts_delta, pos = decode_varint(body, pos)
        off_delta, pos = decode_varint(body, pos)
        klen, pos = decode_varint(body, pos)
        key = None
        if klen >= 0:
            key = bytes(body[pos : pos + klen])
            pos += klen
        vlen, pos = decode_varint(body, pos)
        value = None
        if vlen >= 0:
            value = bytes(body[pos : pos + vlen])
            pos += vlen
        nheaders, pos = decode_varint(body, pos)
        for _ in range(nheaders):
            hk, pos = decode_varint(body, pos)
            pos += max(hk, 0)
            hv, pos = decode_varint(body, pos)
            pos += max(hv, 0)
        if pos != end:
            raise ValueError("record length mismatch: corrupt record")
        out.append(
            WireRecord(
                offset=base_offset + off_delta,
                timestamp=base_ts + ts_delta,
                key=key,
                value=value,
            )
        )
    return out
