"""Loki push-API serializer (flusher_loki's sink format,
plugins/flusher/loki/flusher_loki.go:53-164: per-log labelset from
StaticLabels + DynamicLabels, one ``(timestamp, line)`` entry per log).

The public Loki push payload (`POST /loki/api/v1/push`) is::

    {"streams": [
        {"stream": {"label": "value", ...},
         "values": [["<unix epoch ns as string>", "<line>"], ...]},
        ...
    ]}

:func:`serialize_loki_push` emits one JSON payload per ≤``max_entries``
entries of an Arrow batch (``batcher.batch_payloads``), grouping each
payload's entries by labelset (the flusher's buildLokiLabels path,
:219-226); :func:`decode_loki_push` parses a payload back to
(labels, ts_ns, line) rows for round-trip verification. Values are
ns-precision strings per the API contract.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame

from .batcher import batch_payloads, long0, text

__all__ = ["encode_loki_push", "decode_loki_push", "serialize_loki_push"]


def encode_loki_push(
    streams: list[tuple[dict[str, str], list[tuple[int, str]]]]
) -> str:
    """[(labels, [(ts_ns, line)])] → push-API JSON (sorted label keys,
    entries sorted by timestamp as the API requires per stream)."""
    payload = {
        "streams": [
            {
                "stream": dict(sorted(labels.items())),
                "values": [[str(int(ts)), line] for ts, line in sorted(values)],
            }
            for labels, values in streams
        ]
    }
    return json.dumps(payload, sort_keys=True, separators=(",", ":"))


def decode_loki_push(payload: str) -> list[tuple[dict[str, str], int, str]]:
    doc = json.loads(payload)
    out: list[tuple[dict[str, str], int, str]] = []
    for stream in doc["streams"]:
        labels = dict(stream["stream"])
        for ts_str, line in stream["values"]:
            out.append((labels, int(ts_str), line))
    return out


def serialize_loki_push(
    df: DataFrame,
    *,
    line_key: str,
    time_ns_key: str,
    label_keys: list[str],
    static_labels: dict[str, str] | None = None,
    max_entries: int = 4096,
) -> DataFrame:
    """Rows → Loki push JSON payloads (``value string``, one per request).

    Labels = *static_labels* ∪ ``{k: row[k]}`` for *label_keys*
    (StaticLabels + DynamicLabels, flusher_loki.go:53-55). Payloads
    rotate at *max_entries* entries in arrival order within the Arrow
    batch; a payload's entries group by labelset into streams. Label
    values and the line are Spark's ``cast(… AS string)`` (so doubles,
    booleans and timestamps render as Spark renders them), NULL → '';
    a NULL time is 0.
    """
    static = dict(static_labels or {})
    staged = df.select(
        text(line_key), long0(time_ns_key), *[text(k) for k in label_keys]
    )

    def item(line, ts, *label_vals):
        labels = {**static, **dict(zip(label_keys, label_vals))}
        return tuple(sorted(labels.items())), (ts, line)

    def encode(_key, entries):
        streams: dict[tuple, list[tuple[int, str]]] = {}
        for labels, entry in entries:
            streams.setdefault(labels, []).append(entry)
        payload = encode_loki_push(
            [(dict(k), v) for k, v in sorted(streams.items())]
        )
        return (payload,)

    return batch_payloads(staged, item, encode, "value string", max_items=max_entries)
