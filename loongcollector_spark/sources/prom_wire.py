"""Prometheus remote-write wire serializer (flusher_prometheus's sink
format, plugins/flusher/prometheus/flusher_prometheus.go + def.go:41:
snappy-compressed ``prompb.WriteRequest`` protobuf bodies).

Public prompb schema (prometheus/prompb/remote.proto + types.proto):

.. code-block:: proto

    message WriteRequest { repeated TimeSeries timeseries = 1; }
    message TimeSeries   { repeated Label labels  = 1;
                           repeated Sample samples = 2; }
    message Label        { string name = 1; string value = 2; }
    message Sample       { double value = 1; int64 timestamp = 2; }  // ms

Encoding uses the pure-Python wire writer (functions/protowire.py).
Labels are emitted sorted by name — the remote-write 1.0 spec requires
sorted, duplicate-free labelsets (the reference's converter does the
same via model.LabelSet).

The snappy layer implements the public block format
(google/snappy format_description.txt): the compressor emits a
spec-valid literal-only stream (compression is transport concern, not
correctness; any conforming decoder accepts it), while the decompressor
implements the FULL format — literals and all three copy element kinds —
so round-trip tests can also decode payloads produced by real snappy
encoders.

DataFrame surface: :func:`serialize_remote_write` (rows → one
snappy(WriteRequest) blob per ≤``max_series`` single-sample series per
Arrow batch, ``batcher.batch_payloads``) and
:func:`decode_write_request` for verification.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame

from ..functions import protowire as w
from .batcher import batch_payloads, double0, long0, text

__all__ = [
    "snappy_compress",
    "snappy_decompress",
    "encode_label",
    "encode_sample",
    "encode_timeseries",
    "encode_write_request",
    "decode_write_request",
    "serialize_remote_write",
]


# ------------------------------------------------------------------ snappy


def snappy_compress(data: bytes) -> bytes:
    """Spec-valid snappy block stream: varint uncompressed length, then
    literal elements (≤ the 4-byte-length literal cap each)."""
    out = [w.write_varint(len(data))]
    i, n = 0, len(data)
    while i < n:
        chunk = data[i : i + (1 << 16)]
        ln = len(chunk) - 1
        if ln < 60:
            out.append(bytes([ln << 2]))
        elif ln < (1 << 8):
            out.append(bytes([60 << 2, ln & 0xFF]))
        else:
            out.append(bytes([61 << 2]) + struct.pack("<H", ln))
        out.append(chunk)
        i += len(chunk)
    return b"".join(out)


def snappy_decompress(data: bytes) -> bytes:
    """Full snappy block decoder (literals + 1/2/4-byte-offset copies)."""
    expected, i = w.read_varint(data, 0)
    out = bytearray()
    n = len(data)
    while i < n:
        tag = data[i]
        i += 1
        kind = tag & 0b11
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59
                ln = int.from_bytes(data[i : i + extra], "little")
                i += extra
            ln += 1
            out += data[i : i + ln]
            i += ln
            continue
        if kind == 1:  # copy, 1-byte offset
            ln = ((tag >> 2) & 0b111) + 4
            off = ((tag >> 5) << 8) | data[i]
            i += 1
        elif kind == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[i : i + 2], "little")
            i += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            off = int.from_bytes(data[i : i + 4], "little")
            i += 4
        if off == 0 or off > len(out):
            raise ValueError("snappy: invalid copy offset")
        # copies may overlap forward (off < ln): byte-by-byte semantics
        start = len(out) - off
        for k in range(ln):
            out.append(out[start + k])
    if len(out) != expected:
        raise ValueError(
            f"snappy: length mismatch (got {len(out)}, want {expected})"
        )
    return bytes(out)


# ------------------------------------------------------------------ prompb


def encode_label(name: str, value: str) -> bytes:
    return w.write_string_field(1, name) + w.write_string_field(2, value)


def encode_sample(value: float, timestamp_ms: int) -> bytes:
    body = w.write_tag(1, 1) + struct.pack("<d", float(value))
    # int64 timestamp varint-encodes negatives as 10-byte two's complement
    ts = int(timestamp_ms) & ((1 << 64) - 1)
    return body + w.write_varint_field(2, ts)


def encode_timeseries(
    labels: list[tuple[str, str]], samples: list[tuple[float, int]]
) -> bytes:
    body = b""
    for name, value in sorted(labels):  # spec: sorted by label name
        body += w.write_len_delimited(1, encode_label(name, value))
    for value, ts_ms in samples:
        body += w.write_len_delimited(2, encode_sample(value, ts_ms))
    return body


def encode_write_request(timeseries: list[bytes]) -> bytes:
    return b"".join(w.write_len_delimited(1, ts) for ts in timeseries)


def decode_write_request(buf: bytes, *, snappy: bool = True) -> list[dict]:
    """snappy(WriteRequest) → [{labels: {..}, samples: [(value, ts_ms)]}]."""
    if snappy:
        buf = snappy_decompress(buf)
    series: list[dict] = []
    for field, wire, val in w.iter_fields(buf):
        if field != 1 or wire != 2:
            continue
        labels: dict[str, str] = {}
        samples: list[tuple[float, int]] = []
        for f2, w2, v2 in w.iter_fields(val):
            if f2 == 1 and w2 == 2:
                name = value = ""
                for f3, w3, v3 in w.iter_fields(v2):
                    if f3 == 1:
                        name = v3.decode("utf-8")
                    elif f3 == 2:
                        value = v3.decode("utf-8")
                labels[name] = value
            elif f2 == 2 and w2 == 2:
                sval, sts = 0.0, 0
                for f3, w3, v3 in w.iter_fields(v2):
                    if f3 == 1:
                        sval = w.read_double(v3)
                    elif f3 == 2:
                        sts = w.u64_to_i64(v3)
                samples.append((sval, sts))
        series.append({"labels": labels, "samples": samples})
    return series


# --------------------------------------------------------------- DataFrame


def serialize_remote_write(
    df: DataFrame,
    *,
    metric_name: str,
    value_key: str,
    time_ms_key: str,
    label_keys: list[str],
    max_series: int = 1000,
) -> DataFrame:
    """Rows → snappy-compressed ``WriteRequest`` blobs.

    Each row becomes one single-sample TimeSeries with labels
    ``__name__=metric_name`` plus ``{k: row[k]}`` for *label_keys*
    (the reference's converter emits one prompb.Sample per log, no
    same-labelset aggregation — flusher_prometheus_test.go:107).
    Label values are Spark's ``cast(… AS string)`` (so doubles,
    booleans and timestamps render as Spark renders them), NULL → '';
    the value is a double (NULL → 0.0) and *time_ms_key* epoch
    milliseconds (NULL → 0). Requests rotate every *max_series*
    series within an Arrow batch (``batcher.batch_payloads``).
    Output schema: ``value binary`` (one blob per request).
    """
    staged = df.select(
        double0(value_key), long0(time_ms_key), *[text(k) for k in label_keys]
    )

    def item(val, ts_ms, *label_vals):
        labels = [("__name__", metric_name), *zip(label_keys, label_vals)]
        return encode_timeseries(labels, [(val, ts_ms)])

    def encode(_key, series):
        return (snappy_compress(encode_write_request(series)),)

    return batch_payloads(staged, item, encode, "value binary", max_items=max_series)
