"""ClickHouse RowBinary serializer for the flusher_clickhouse sink
shape (plugins/flusher/clickhouse/flusher_clickhouse.go).

The reference writes every log as ``(_timestamp Int64, _log String)``
into a Null-engine staging table fronted by a Buffer table
(flusher_clickhouse.go:270-292: ``ilogtail_<table>`` / ``ilogtail_
<table>_buffer``), serializing the log itself through the JSON
converter (:180-203 builds ``INSERT ... VALUES (ts, '<json>')`` per
row). The at-scale equivalent of that INSERT stream is ClickHouse's
native bulk form, ``INSERT ... FORMAT RowBinary``: per row each
column in wire order — Int64 as 8-byte little-endian, String as a
ULEB128 varint byte-length followed by UTF-8 bytes (the public
RowBinary spec). This module produces those payloads batch-rotated,
plus a FULL decoder for round-trip verification, and renders the
reference's exact staging DDL pair.

Plan shape: the JSON document and timestamp are built JVM-side
(``to_json`` + codegen); only the byte packing runs in Python, over
Arrow batches (``batcher.batch_payloads``, shared by every wire
serializer). One payload row per ``max_rows`` input rows — no driver
collect, no shuffle.
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import protowire as _w
from ..functions.sqltext import col
from .batcher import batch_payloads, epoch_seconds

__all__ = [
    "buffer_table_ddl",
    "decode_clickhouse_rowbinary",
    "encode_clickhouse_rowbinary",
    "serialize_clickhouse_rowbinary",
]


def _pack_row(ts: int, log: str) -> bytes:
    raw = log.encode("utf-8")
    return struct.pack("<q", ts) + _w.write_varint(len(raw)) + raw


def encode_clickhouse_rowbinary(rows: list[tuple[int, str]]) -> bytes:
    """``(Int64, String)`` rows → one RowBinary payload."""
    return b"".join(_pack_row(ts, log) for ts, log in rows)


def serialize_clickhouse_rowbinary(
    df: DataFrame,
    *,
    ts_col: str = "ts",
    doc_keys: list[str] | None = None,
    max_rows: int = 1000,
) -> DataFrame:
    """Rows → RowBinary payloads (``value binary``, one per INSERT).

    Each input row becomes the reference's ``(_timestamp Int64,
    _log String)`` pair: the epoch-seconds of *ts_col* (NULL → 0) and
    the JSON document of *doc_keys* (default: every column except
    *ts_col*), both rendered JVM-side. Payloads rotate every
    *max_rows* rows (``batcher.batch_payloads``).
    """
    cols = doc_keys or [c for c in df.columns if c != ts_col]
    staged = df.select(
        epoch_seconds(df, ts_col), F.to_json(F.struct(*map(col, cols)))
    )
    return batch_payloads(
        staged,
        _pack_row,
        lambda _key, packed: (b"".join(packed),),
        "value binary",
        max_items=max_rows,
    )


def decode_clickhouse_rowbinary(payload: bytes) -> list[tuple[int, str]]:
    """Full RowBinary decoder for the ``(Int64, String)`` row shape —
    the round-trip verification path. Raises on any trailing or
    truncated bytes (a payload is exact, never padded)."""
    rows: list[tuple[int, str]] = []
    pos = 0
    while pos < len(payload):
        if pos + 8 > len(payload):
            raise ValueError("truncated Int64")
        (ts,) = struct.unpack_from("<q", payload, pos)
        pos += 8
        ln, pos = _w.read_varint(payload, pos)
        if pos + ln > len(payload):
            raise ValueError("truncated String")
        rows.append((ts, payload[pos : pos + ln].decode("utf-8")))
        pos += ln
    return rows


def buffer_table_ddl(
    database: str,
    table: str,
    *,
    cluster: str = "",
    num_layers: int = 4,
    min_time: int = 10,
    max_time: int = 100,
    min_rows: int = 10000,
    max_rows: int = 1000000,
    min_bytes: int = 10000000,
    max_bytes: int = 100000000,
) -> tuple[str, str]:
    """The reference's staging DDL pair, byte-for-byte
    (flusher_clickhouse.go:270-292): a Null-engine landing table and
    the Buffer table in front of it. Defaults mirror the flusher's
    config defaults."""
    null_name = f"`{database}`.`ilogtail_{table}`"
    buf_name = f"`{database}`.`ilogtail_{table}_buffer`"
    if cluster:
        null_name = f"{null_name} on cluster '{cluster}'"
        buf_name = f"{buf_name} on cluster '{cluster}'"
    sql_null = (
        f"CREATE TABLE IF NOT EXISTS {null_name} "
        "(`_timestamp` Int64,`_log` String) ENGINE = Null"
    )
    sql_buffer = (
        f"CREATE TABLE IF NOT EXISTS {buf_name} AS "
        f"`{database}`.`ilogtail_{table}` ENGINE = Buffer("
        f"{database}, ilogtail_{table}, {num_layers}, {min_time}, "
        f"{max_time}, {min_rows}, {max_rows}, {min_bytes}, {max_bytes})"
    )
    return sql_null, sql_buffer
