"""Elasticsearch ``_bulk`` NDJSON serializer (flusher_elasticsearch's
sink format, plugins/flusher/elasticsearch/flusher_elasticsearch.go:
188-218: one ``{"index": {"_index": "<idx>"}}`` action line per log
followed by the serialized document, newline-joined with a trailing
newline; dynamic index names render ``%{field}`` placeholders via
pkg/fmtstr.FormatIndex — the same convention as kafka-v2 topics).

:func:`serialize_es_bulk` renders the index expression JVM-side
(concat of literals and columns — codegen, no Python) and builds the
NDJSON bodies in an Arrow-batched pass (``batcher.batch_payloads``),
rotating every ``max_docs`` documents. :func:`decode_es_bulk` parses
a body back to ``(index, doc)`` pairs for round-trip verification.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.sqltext import col
from .batcher import batch_payloads
from .sinks import format_string_col

__all__ = ["decode_es_bulk", "serialize_es_bulk"]


def serialize_es_bulk(
    df: DataFrame,
    *,
    index_format: str,
    doc_keys: list[str] | None = None,
    max_docs: int = 1000,
) -> DataFrame:
    """Rows → ``_bulk`` bodies (``value string``, one per request).

    The document is the row's *doc_keys* (default: every column) as a
    JSON object, serialized JVM-side via ``to_json``; only the body
    assembly (action-line interleave) runs in Python, rotating every
    *max_docs* documents (``batcher.batch_payloads``).
    """
    cols = doc_keys or list(df.columns)
    staged = df.select(
        format_string_col(index_format), F.to_json(F.struct(*map(col, cols)))
    )

    def item(idx, doc):
        action = json.dumps({"index": {"_index": idx}}, separators=(",", ":"))
        return action + "\n" + doc

    def encode(_key, docs):
        return ("\n".join(docs) + "\n",)

    return batch_payloads(staged, item, encode, "value string", max_items=max_docs)


def decode_es_bulk(body: str) -> list[tuple[str, dict]]:
    """_bulk NDJSON body → [(index, doc)]."""
    out: list[tuple[str, dict]] = []
    lines = [ln for ln in body.split("\n") if ln]
    if len(lines) % 2:
        raise ValueError("es bulk: odd line count (action without doc)")
    for i in range(0, len(lines), 2):
        action = json.loads(lines[i])
        if "index" not in action:
            raise ValueError(f"es bulk: unexpected action {action}")
        out.append((action["index"]["_index"], json.loads(lines[i + 1])))
    return out
