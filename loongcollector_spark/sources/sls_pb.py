"""SLS protobuf ``LogGroup`` wire serializer (the reference's sink
wire format, pkg/protocol/proto/sls_logs.proto:8-33):

.. code-block:: proto

    message Log      { required uint32 Time = 1;
                       message Content { required string Key = 1;
                                         required string Value = 2; }
                       repeated Content Contents = 2;
                       optional fixed32 Time_ns = 4; }
    message LogTag   { required string Key = 1; required string Value = 2; }
    message LogGroup { repeated Log Logs = 1;     optional string Category = 2;
                       optional string Topic = 3; optional string Source = 4;
                       optional string MachineUUID = 5;
                       repeated LogTag LogTags = 6; }

Encoding uses the pure-Python wire writer (functions/protowire.py) —
no protobuf bindings needed. The DataFrame surface is
:func:`serialize_sls_loggroups`: rows → ``LogGroup`` binary blobs,
one blob per ≤``max_log_count`` rows of one topic within each Arrow
batch (aggregator_base.go:40-54 MaxLogCount=1024 rotation analog; the
flusher_sls serializer is core/collection_pipeline/serializer/
SLSSerializer.h:37), grouped and rotated by ``batcher.batch_payloads``.
A wire *decoder* for round-trip verification lives beside it
(:func:`decode_loggroup`).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import protowire as w
from .batcher import batch_payloads, epoch_seconds, text

__all__ = [
    "encode_log",
    "encode_loggroup",
    "decode_loggroup",
    "serialize_sls_loggroups",
]


def encode_log(
    time_sec: int, contents: list[tuple[str, str]], time_ns: int | None = None
) -> bytes:
    # Log.Time is proto `required uint32`: a negative epoch would
    # varint-encode as 10 bytes of two's complement that a conforming
    # uint32 reader rejects, and >= 2^32 silently wraps — clamp like
    # the NULL-time path floors to 0 (ADVICE r3)
    time_sec = min(max(int(time_sec), 0), (1 << 32) - 1)
    body = w.write_varint_field(1, time_sec)
    for k, v in contents:
        body += w.write_len_delimited(
            2, w.write_string_field(1, k) + w.write_string_field(2, v)
        )
    if time_ns is not None:
        body += w.write_fixed32_field(4, int(time_ns))
    return body


def encode_loggroup(
    logs: list[bytes],
    *,
    category: str = "",
    topic: str = "",
    source: str = "",
    machine_uuid: str = "",
    log_tags: list[tuple[str, str]] | None = None,
) -> bytes:
    out = b"".join(w.write_len_delimited(1, lg) for lg in logs)
    if category:
        out += w.write_string_field(2, category)
    if topic:
        out += w.write_string_field(3, topic)
    if source:
        out += w.write_string_field(4, source)
    if machine_uuid:
        out += w.write_string_field(5, machine_uuid)
    for k, v in log_tags or []:
        out += w.write_len_delimited(
            6, w.write_string_field(1, k) + w.write_string_field(2, v)
        )
    return out


def _decode_kv(buf: bytes) -> tuple[str, str]:
    k = v = ""
    for field, _wt, val in w.iter_fields(buf):
        if field == 1:
            k = val.decode("utf-8")
        elif field == 2:
            v = val.decode("utf-8")
    return k, v


def decode_loggroup(buf: bytes) -> dict:
    """Wire → plain dict (tests' round-trip oracle; also a reader for
    the serialized sink files)."""
    out: dict = {"logs": [], "log_tags": []}
    for field, _wt, val in w.iter_fields(buf):
        if field == 1:
            log: dict = {"time": 0, "contents": [], "time_ns": None}
            for f2, _wt2, v2 in w.iter_fields(val):
                if f2 == 1:
                    log["time"] = int(v2)
                elif f2 == 2:
                    log["contents"].append(_decode_kv(v2))
                elif f2 == 4:
                    log["time_ns"] = int(v2)
            out["logs"].append(log)
        elif field == 2:
            out["category"] = val.decode("utf-8")
        elif field == 3:
            out["topic"] = val.decode("utf-8")
        elif field == 4:
            out["source"] = val.decode("utf-8")
        elif field == 5:
            out["machine_uuid"] = val.decode("utf-8")
        elif field == 6:
            out["log_tags"].append(_decode_kv(val))
    return out


def serialize_sls_loggroups(
    df: DataFrame,
    *,
    time_key: str | None = None,
    category: str = "",
    topic_key: str | None = None,
    source: str = "",
    log_tags: dict[str, str] | None = None,
    max_log_count: int = 1024,
) -> DataFrame:
    """Rows → ``LogGroup`` wire blobs: one output row per group of
    ≤``max_log_count`` input rows (per Arrow batch, per topic value
    when *topic_key* is set — flusher groups are per-logstore/topic;
    a NULL topic is the empty topic).

    Every non-time column becomes a ``Content`` pair in column order
    (content ORDER is the reference's preserved insertion order,
    core/models/LogEvent.h:120-124); each value is Spark's
    ``cast(… AS string)`` (so doubles, booleans and timestamps render
    as Spark renders them), NULL → ''. ``time_key`` holds epoch
    seconds (a number) or a timestamp; NULL → 0.

    Output schema: ``topic string, n_logs int, value binary``.
    """
    tags = sorted((log_tags or {}).items())
    content_cols = [c for c in df.columns if c != time_key and c != topic_key]
    time_col = (
        epoch_seconds(df, time_key) if time_key else F.lit(0).cast("long")
    )
    staged = df.select(
        (text(topic_key) if topic_key else F.lit("")).alias("topic"),
        time_col,
        *[text(c) for c in content_cols],
    )

    def item(t, *values):
        return encode_log(t, list(zip(content_cols, values)))

    def encode(topic, logs):
        blob = encode_loggroup(
            logs, category=category, topic=topic, source=source, log_tags=tags
        )
        return topic, len(logs), blob

    return batch_payloads(
        staged,
        item,
        encode,
        "topic string, n_logs int, value binary",
        max_items=max_log_count,
        key="topic",
    )
