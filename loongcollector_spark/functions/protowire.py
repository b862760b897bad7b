"""Minimal pure-Python protobuf wire-format primitives.

The protobuf binary wire format is public and tiny: a message is a
sequence of (tag, value) records where ``tag = field_number << 3 |
wire_type`` and wire types are 0=varint, 1=fixed64, 2=length-delimited,
5=fixed32 (protobuf.dev encoding spec). These helpers support the two
places the engine needs wire-level access without shipping protobuf
bindings:

* decoding OTLP ``TracesData``/``MetricsData`` payloads
  (operators/otel.py ``format='protobuf'`` — the reference's
  ptrace/pmetric ProtoUnmarshaler path,
  plugins/processor/otel/processor_otel_trace.go:118-124), and
* encoding SLS ``LogGroup`` (sources/sinks.py serializer — the
  reference's wire format, pkg/protocol/proto/sls_logs.proto:8-33).

Driver/UDF-side plain Python; never per-row in a JVM hot path.
"""

from __future__ import annotations

import struct

__all__ = [
    "read_varint",
    "iter_fields",
    "zigzag32",
    "u64_to_i64",
    "read_double",
    "write_varint",
    "write_tag",
    "write_len_delimited",
    "write_string_field",
    "write_varint_field",
    "write_fixed32_field",
]

# ------------------------------------------------------------------ reading


def read_varint(buf: bytes, i: int) -> tuple[int, int]:
    """Decode a base-128 varint at *i* → (value, next_index)."""
    shift = 0
    out = 0
    while True:
        if i >= len(buf):
            raise ValueError("truncated varint")
        b = buf[i]
        out |= (b & 0x7F) << shift
        i += 1
        if not b & 0x80:
            return out, i
        shift += 7
        if shift > 63:
            raise ValueError("varint too long")


def iter_fields(buf: bytes):
    """Yield ``(field_number, wire_type, value)`` for each record in a
    message body. Values are ints for wire types 0/1/5 (raw,
    unsigned) and ``bytes`` slices for type 2. Unknown/deprecated
    groups (types 3/4) are rejected — OTLP/SLS protos never use them.
    """
    i = 0
    n = len(buf)
    while i < n:
        key, i = read_varint(buf, i)
        field, wt = key >> 3, key & 0x7
        if wt == 0:
            v, i = read_varint(buf, i)
        elif wt == 1:
            if i + 8 > n:
                raise ValueError("truncated fixed64")
            v = int.from_bytes(buf[i : i + 8], "little")
            i += 8
        elif wt == 2:
            ln, i = read_varint(buf, i)
            if i + ln > n:
                raise ValueError("truncated length-delimited field")
            v = buf[i : i + ln]
            i += ln
        elif wt == 5:
            if i + 4 > n:
                raise ValueError("truncated fixed32")
            v = int.from_bytes(buf[i : i + 4], "little")
            i += 4
        else:
            raise ValueError(f"unsupported wire type {wt}")
        yield field, wt, v


def zigzag32(raw: int) -> int:
    """Decoded sint32 from its zigzag varint value."""
    return (raw >> 1) ^ -(raw & 1)


def u64_to_i64(raw: int) -> int:
    """Reinterpret an unsigned 64-bit value as two's-complement."""
    return raw - (1 << 64) if raw >= (1 << 63) else raw


def read_double(raw_fixed64: int) -> float:
    return struct.unpack("<d", raw_fixed64.to_bytes(8, "little"))[0]


# ------------------------------------------------------------------ writing


def write_varint(value: int) -> bytes:
    if value < 0:
        value += 1 << 64  # two's-complement encoding of negative ints
    out = bytearray()
    while True:
        b = value & 0x7F
        value >>= 7
        if value:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def write_tag(field: int, wire_type: int) -> bytes:
    return write_varint((field << 3) | wire_type)


def write_len_delimited(field: int, payload: bytes) -> bytes:
    return write_tag(field, 2) + write_varint(len(payload)) + payload


def write_string_field(field: int, value: str) -> bytes:
    return write_len_delimited(field, value.encode("utf-8"))


def write_varint_field(field: int, value: int) -> bytes:
    return write_tag(field, 0) + write_varint(value)


def write_fixed32_field(field: int, value: int) -> bytes:
    return write_tag(field, 5) + value.to_bytes(4, "little")


def write_fixed64_field(field: int, value: int) -> bytes:
    return write_tag(field, 1) + value.to_bytes(8, "little")
