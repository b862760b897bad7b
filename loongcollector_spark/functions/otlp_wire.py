"""OTLP protobuf wire decoding → OTLP/JSON dicts.

Implements the reference's ``format: protobuf`` path for
processor_otel_trace / processor_otel_metric
(plugins/processor/otel/processor_otel_trace.go:118-124 uses
ptrace.ProtoUnmarshaler on ``TracesData``; the metric twin uses
pmetric on ``MetricsData``) without protobuf bindings: a pure-Python
walk of the public wire format (functions/protowire.py) guided by the
public opentelemetry-proto field tables below, emitting the OTLP/JSON
(protojson camelCase) shape that operators/otel.py already parses —
so both formats share one converter and produce identical rows.

Field numbers are from the public opentelemetry-proto definitions
(trace/v1/trace.proto, metrics/v1/metrics.proto, common/v1/common.proto,
resource/v1/resource.proto). JSON conventions follow the OTLP/JSON
spec: trace/span ids render as hex, 64-bit ints as decimal strings,
enums as their numeric value (stringified — the downstream schema
types enum fields as strings and accepts both encodings).

The per-payload decode is plain Python inside an Arrow-batched UDF —
acceptable for the opt-in protobuf parity path; the JSON format stays
the JVM-native hot path.
"""

from __future__ import annotations

import base64
import binascii
import json

from . import protowire as w

__all__ = ["decode_traces", "decode_metrics", "decode_logs", "decode_udf"]

# kind codes: s=string, hex=bytes→hex, b64=bytes→base64, d=double,
# b=bool, e=enum→str(int), u32=varint int, s32=zigzag sint32,
# i64v=varint int64→str, i64f=sfixed64→str, u64f=fixed64→str,
# pd=packed double list, pu64f=packed fixed64→[str],
# pu64v=packed varint→[str], or a nested table dict.
# entry: field_number -> (json_name, kind, repeated)

_KEYVALUE: dict = {}
_ANYVALUE = {
    1: ("stringValue", "s", False),
    2: ("boolValue", "b", False),
    3: ("intValue", "i64v", False),
    4: ("doubleValue", "d", False),
    5: ("arrayValue", None, False),  # filled below (recursive)
    6: ("kvlistValue", None, False),
    7: ("bytesValue", "b64", False),
}
_ARRAYVALUE = {1: ("values", _ANYVALUE, True)}
_KVLIST = {1: ("values", _KEYVALUE, True)}
_ANYVALUE[5] = ("arrayValue", _ARRAYVALUE, False)
_ANYVALUE[6] = ("kvlistValue", _KVLIST, False)
_KEYVALUE.update({1: ("key", "s", False), 2: ("value", _ANYVALUE, False)})

_RESOURCE = {1: ("attributes", _KEYVALUE, True)}
_SCOPE = {
    1: ("name", "s", False),
    2: ("version", "s", False),
    3: ("attributes", _KEYVALUE, True),
}

_STATUS = {2: ("message", "s", False), 3: ("code", "e", False)}
_EVENT = {
    1: ("timeUnixNano", "u64f", False),
    2: ("name", "s", False),
    3: ("attributes", _KEYVALUE, True),
}
_LINK = {
    1: ("traceId", "hex", False),
    2: ("spanId", "hex", False),
    3: ("traceState", "s", False),
    4: ("attributes", _KEYVALUE, True),
}
_SPAN = {
    1: ("traceId", "hex", False),
    2: ("spanId", "hex", False),
    3: ("traceState", "s", False),
    4: ("parentSpanId", "hex", False),
    5: ("name", "s", False),
    6: ("kind", "e", False),
    7: ("startTimeUnixNano", "u64f", False),
    8: ("endTimeUnixNano", "u64f", False),
    9: ("attributes", _KEYVALUE, True),
    10: ("droppedAttributesCount", "u32", False),
    11: ("events", _EVENT, True),
    12: ("droppedEventsCount", "u32", False),
    13: ("links", _LINK, True),
    14: ("droppedLinksCount", "u32", False),
    15: ("status", _STATUS, False),
}
_SCOPE_SPANS = {
    1: ("scope", _SCOPE, False),
    2: ("spans", _SPAN, True),
    3: ("schemaUrl", "s", False),
}
_RESOURCE_SPANS = {
    1: ("resource", _RESOURCE, False),
    2: ("scopeSpans", _SCOPE_SPANS, True),
    3: ("schemaUrl", "s", False),
}
TRACES_DATA = {1: ("resourceSpans", _RESOURCE_SPANS, True)}

_EXEMPLAR = {
    2: ("timeUnixNano", "u64f", False),
    3: ("asDouble", "d", False),
    4: ("spanId", "hex", False),
    5: ("traceId", "hex", False),
    6: ("asInt", "i64f", False),
    7: ("filteredAttributes", _KEYVALUE, True),
}
_NUM_DP = {
    2: ("startTimeUnixNano", "u64f", False),
    3: ("timeUnixNano", "u64f", False),
    4: ("asDouble", "d", False),
    5: ("exemplars", _EXEMPLAR, True),
    6: ("asInt", "i64f", False),
    7: ("attributes", _KEYVALUE, True),
    8: ("flags", "u32", False),
}
_HIST_DP = {
    2: ("startTimeUnixNano", "u64f", False),
    3: ("timeUnixNano", "u64f", False),
    4: ("count", "u64f", False),
    5: ("sum", "d", False),
    6: ("bucketCounts", "pu64f", False),
    7: ("explicitBounds", "pd", False),
    8: ("exemplars", _EXEMPLAR, True),
    9: ("attributes", _KEYVALUE, True),
    10: ("flags", "u32", False),
    11: ("min", "d", False),
    12: ("max", "d", False),
}
_EXP_BUCKETS = {
    1: ("offset", "s32", False),
    2: ("bucketCounts", "pu64v", False),
}
_EXP_DP = {
    1: ("attributes", _KEYVALUE, True),
    2: ("startTimeUnixNano", "u64f", False),
    3: ("timeUnixNano", "u64f", False),
    4: ("count", "u64f", False),
    5: ("sum", "d", False),
    6: ("scale", "s32", False),
    7: ("zeroCount", "u64f", False),
    8: ("positive", _EXP_BUCKETS, False),
    9: ("negative", _EXP_BUCKETS, False),
    10: ("flags", "u32", False),
    11: ("exemplars", _EXEMPLAR, True),
    12: ("min", "d", False),
    13: ("max", "d", False),
}
_QUANTILE = {1: ("quantile", "d", False), 2: ("value", "d", False)}
_SUMMARY_DP = {
    2: ("startTimeUnixNano", "u64f", False),
    3: ("timeUnixNano", "u64f", False),
    4: ("count", "u64f", False),
    5: ("sum", "d", False),
    6: ("quantileValues", _QUANTILE, True),
    7: ("attributes", _KEYVALUE, True),
    8: ("flags", "u32", False),
}
_GAUGE = {1: ("dataPoints", _NUM_DP, True)}
_SUM = {
    1: ("dataPoints", _NUM_DP, True),
    2: ("aggregationTemporality", "e", False),
    3: ("isMonotonic", "b", False),
}
_HISTOGRAM = {
    1: ("dataPoints", _HIST_DP, True),
    2: ("aggregationTemporality", "e", False),
}
_EXP_HISTOGRAM = {
    1: ("dataPoints", _EXP_DP, True),
    2: ("aggregationTemporality", "e", False),
}
_SUMMARY = {1: ("dataPoints", _SUMMARY_DP, True)}
_METRIC = {
    1: ("name", "s", False),
    2: ("description", "s", False),
    3: ("unit", "s", False),
    5: ("gauge", _GAUGE, False),
    7: ("sum", _SUM, False),
    9: ("histogram", _HISTOGRAM, False),
    10: ("exponentialHistogram", _EXP_HISTOGRAM, False),
    11: ("summary", _SUMMARY, False),
}
_SCOPE_METRICS = {
    1: ("scope", _SCOPE, False),
    2: ("metrics", _METRIC, True),
    3: ("schemaUrl", "s", False),
}
_RESOURCE_METRICS = {
    1: ("resource", _RESOURCE, False),
    2: ("scopeMetrics", _SCOPE_METRICS, True),
    3: ("schemaUrl", "s", False),
}
METRICS_DATA = {1: ("resourceMetrics", _RESOURCE_METRICS, True)}


# canonical wire type per scalar kind (proto3 encoders MUST emit it);
# a known field number carrying any other wire type is a corrupt or
# adversarial payload and rejects the whole message, same as the
# length-delimited guard in decode_message — without this, varint
# bytes landing in a fixed64 slot would silently decode to a bogus
# number instead of ValueError → None
_SCALAR_WT = {
    "d": 1,
    "b": 0,
    "e": 0,
    "u32": 0,
    "s32": 0,
    "i64v": 0,
    "i64f": 1,
    "u64f": 1,
}


def _scalar(kind: str, wt: int, v):
    if kind == "s":
        return v.decode("utf-8", errors="replace")
    if kind == "hex":
        return v.hex()
    if kind == "b64":
        return base64.b64encode(v).decode("ascii")
    want = _SCALAR_WT.get(kind)
    if want is None:
        raise ValueError(f"unknown scalar kind {kind}")
    if wt != want:
        raise ValueError(
            f"scalar kind {kind}: expected wire type {want}, got {wt}"
        )
    if kind == "d":
        return w.read_double(v)
    if kind == "b":
        return bool(v)
    if kind == "e":
        return str(int(v))
    if kind == "u32":
        return int(v)
    if kind == "s32":
        return w.zigzag32(int(v))
    if kind == "i64v":
        return str(w.u64_to_i64(int(v)))
    if kind == "i64f":
        return str(w.u64_to_i64(int(v)))
    return str(int(v))  # u64f


def _packed(kind: str, wt: int, v) -> list:
    """Packed repeated numerics; tolerate the unpacked encoding too
    (one record per element), as the spec requires of parsers. Any
    other wire type, or a fixed-width payload whose length is not a
    multiple of 8, is malformed — ValueError so the caller drops the
    payload instead of crashing (TypeError) or fabricating a value
    from the truncated tail."""
    out = []
    if kind == "pd":
        if wt == 1:
            return [w.read_double(int(v))]
        if wt != 2 or len(v) % 8:
            raise ValueError(f"malformed packed double field (wt={wt})")
        for i in range(0, len(v), 8):
            out.append(w.read_double(int.from_bytes(v[i : i + 8], "little")))
    elif kind == "pu64f":
        if wt == 1:
            return [str(int(v))]
        if wt != 2 or len(v) % 8:
            raise ValueError(f"malformed packed fixed64 field (wt={wt})")
        for i in range(0, len(v), 8):
            out.append(str(int.from_bytes(v[i : i + 8], "little")))
    elif kind == "pu64v":
        if wt == 0:
            return [str(int(v))]
        if wt != 2:
            raise ValueError(f"malformed packed varint field (wt={wt})")
        i = 0
        while i < len(v):
            val, i = w.read_varint(v, i)
            out.append(str(val))
    else:
        raise ValueError(f"unknown packed kind {kind}")
    return out


def decode_message(buf: bytes, table: dict) -> dict:
    """Wire bytes → dict shaped like the message's OTLP/JSON form.
    Unknown fields are skipped (forward compatibility, as protobuf
    requires)."""
    out: dict = {}
    for field, wt, v in w.iter_fields(buf):
        spec = table.get(field)
        if spec is None:
            continue
        name, kind, repeated = spec
        # wire-type guard: a known field number carrying the wrong wire
        # type (corrupt/adversarial payload) is malformed — reject the
        # whole payload (ValueError → caller returns None) rather than
        # mis-decoding an int as a nested message
        if isinstance(kind, dict) or kind in ("s", "hex", "b64"):
            if wt != 2:
                raise ValueError(
                    f"field {field}: expected length-delimited, got wire type {wt}"
                )
        if isinstance(kind, dict):
            val = decode_message(v, kind)
            if repeated:
                out.setdefault(name, []).append(val)
            else:
                out[name] = val
        elif isinstance(kind, str) and kind.startswith("p"):
            out.setdefault(name, []).extend(_packed(kind, wt, v))
        else:
            val = _scalar(kind, wt, v)
            if repeated:
                out.setdefault(name, []).append(val)
            else:
                out[name] = val
    return out


def _coerce_bytes(payload) -> bytes | None:
    if payload is None:
        return None
    if isinstance(payload, (bytes, bytearray, memoryview)):
        return bytes(payload)
    if isinstance(payload, str):
        # string columns carry base64 (the transport-safe string form);
        # fall back to latin-1 raw bytes
        try:
            return base64.b64decode(payload, validate=True)
        except (binascii.Error, ValueError):
            return payload.encode("latin-1", errors="replace")
    return None


def decode_traces(payload) -> str | None:
    """TracesData wire bytes → OTLP/JSON string (None on undecodable
    input — the caller's from_json then yields zero spans, matching
    the reference's drop-with-alarm)."""
    buf = _coerce_bytes(payload)
    if buf is None:
        return None
    try:
        return json.dumps(decode_message(buf, TRACES_DATA))
    except ValueError:
        return None


# logs/v1/logs.proto (public opentelemetry-proto) — completes the
# OTLP triple alongside TRACES_DATA / METRICS_DATA above.
_LOG_RECORD = {
    1: ("timeUnixNano", "u64f", False),
    2: ("severityNumber", "e", False),
    3: ("severityText", "s", False),
    5: ("body", _ANYVALUE, False),
    6: ("attributes", _KEYVALUE, True),
    7: ("droppedAttributesCount", "u32", False),
    8: ("flags", "u32", False),
    9: ("traceId", "hex", False),
    10: ("spanId", "hex", False),
    11: ("observedTimeUnixNano", "u64f", False),
    12: ("eventName", "s", False),
}
_SCOPE_LOGS = {
    1: ("scope", _SCOPE, False),
    2: ("logRecords", _LOG_RECORD, True),
    3: ("schemaUrl", "s", False),
}
_RESOURCE_LOGS = {
    1: ("resource", _RESOURCE, False),
    2: ("scopeLogs", _SCOPE_LOGS, True),
    3: ("schemaUrl", "s", False),
}
LOGS_DATA = {1: ("resourceLogs", _RESOURCE_LOGS, True)}


def decode_metrics(payload) -> str | None:
    buf = _coerce_bytes(payload)
    if buf is None:
        return None
    try:
        return json.dumps(decode_message(buf, METRICS_DATA))
    except ValueError:
        return None


def decode_logs(payload) -> str | None:
    """LogsData wire bytes → OTLP/JSON string (None on undecodable
    input, the decode_traces convention)."""
    buf = _coerce_bytes(payload)
    if buf is None:
        return None
    try:
        return json.dumps(decode_message(buf, LOGS_DATA))
    except ValueError:
        return None


def decode_udf(which: str):
    """Arrow-batched decode UDF (``which`` in {'traces','metrics','logs'})."""
    import pandas as pd  # noqa: F401  (kept local: UDF import context)
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    fn = {"traces": decode_traces, "metrics": decode_metrics,
          "logs": decode_logs}[which]

    @F.pandas_udf(T.StringType())
    def _decode(s):
        return s.map(fn)

    # evaluate-once rule: see the operators/parse.py module docstring
    return _decode.asNondeterministic()
