"""Routing: ordered regex router + condition router + multi-sink fan-out.

Capability parity (new code) with:

* logstore regex router — plugins/aggregator/logstorerouter/aggregator_router.go:43-136
  (ordered ``RouterRegex[i]`` FULL-match on SourceKey → sink i; first
  match wins; non-matching → default sink or dropped, ``DropDisMatch``)
* C++ Router + conditions — core/collection_pipeline/route/Router.cpp:26-82,
  Condition.cpp:55-113 (matching flushers each get a COPY of the
  group; unconditional flushers always receive one)

Spark design: routing is a single ``when``-chain producing a ``sink``
column — one pass, codegen'd, no shuffle. Fan-out write is ONE job
with ``partitionBy('sink')`` (each sink = one partition directory =
one sink table), instead of K filter+write jobs re-reading the input
K times. Unconditional/copy semantics append extra (row, sink) pairs
via a small union before the write.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sqltext

__all__ = [
    "RouterRule",
    "RouterConfig",
    "route",
    "fanout_write",
    "fanout_write_sls",
    "read_sink",
]


def _anchor(pattern: str) -> str:
    """Full-match anchoring (aggregator_router.go:99 uses anchored
    regex semantics: the whole value must match). ``\\z``, not ``$``:
    Java's ``$`` also matches before a final line terminator."""
    return f"^(?:{pattern})\\z"


@dataclass
class RouterRule:
    regex: str
    sink: str


@dataclass
class RouterConfig:
    source_key: str
    rules: list[RouterRule]
    default_sink: str | None = "sink_default"  # None + drop_dismatch=False invalid
    drop_dismatch: bool = False
    # sinks that additionally receive a copy of EVERY row
    # (unconditional flushers, Router.cpp:33-37,62-66)
    unconditional_sinks: list[str] = field(default_factory=list)
    # sinks receiving a copy of rows matching a tag equality
    # (TagCondition, Condition.cpp:105-113): list of (key, value, sink)
    tag_copy_sinks: list[tuple[str, str, str]] = field(default_factory=list)


def route(df: DataFrame, cfg: RouterConfig, sink_col: str = "sink") -> DataFrame:
    """Assign each row its sink (first matching ordered rule wins).

    Rows matching no rule go to ``default_sink`` or are dropped
    (aggregator_router.go:104-110). Copy semantics (unconditional /
    tag-condition sinks) duplicate rows with the extra sink — the
    routed output is a MULTISET over (row, sink), exactly the
    reference's group-copy behavior (Router.cpp:62-80).

    Plan shape: ONE scan. With copy sinks, each row builds a sink
    array — first-match chain + copy sinks — and explodes it (the
    union-per-extra-sink alternative re-reads the 100 TB input once
    per copy sink). Without copy sinks — the common config — the sink
    is just the when-chain column: no array, no explode, zero extra
    allocation per row in the generated code.
    """
    chain: Column | None = None
    src = df[cfg.source_key]
    for r in cfg.rules:
        # F.rlike and plain-value when branches: a Column method costs
        # ~11 py4j round-trips (operators/parse.py's build rule)
        cond = F.rlike(src, F.lit(_anchor(r.regex)))
        chain = F.when(cond, r.sink) if chain is None else chain.when(cond, r.sink)
    if chain is None:
        chain = F.lit(cfg.default_sink)
    elif cfg.default_sink is not None and not cfg.drop_dismatch:
        chain = chain.otherwise(cfg.default_sink)
    if not cfg.unconditional_sinks and not cfg.tag_copy_sinks:
        out = df.withColumn(sink_col, chain)
        # null chain = dismatch under drop_dismatch (no otherwise)
        if cfg.drop_dismatch:
            return out.filter(f"{sqltext.quote(sink_col)} IS NOT NULL")
        return out
    empty = F.array().cast("array<string>")
    arr = F.array(chain)
    for s in cfg.unconditional_sinks:
        arr = F.concat(arr, F.array(F.lit(s)))
    for key, value, s in cfg.tag_copy_sinks:
        arr = F.concat(
            arr,
            F.when(F.col(key) == F.lit(value), F.array(F.lit(s))).otherwise(empty),
        )
    # nulls in slot 0 = dropped-dismatch rows; array_compact removes
    # them and explode drops rows whose array became empty
    return df.withColumn(sink_col, F.explode(F.array_compact(arr)))


def fanout_write(
    routed: DataFrame,
    base_path: str,
    sink_col: str = "sink",
    fmt: str = "parquet",
    mode: str = "append",
    bucket_cols: list[str] | None = None,
    n_buckets: int | None = None,
) -> None:
    """Write all sinks in ONE pass: ``partitionBy(sink)``.

    Each sink becomes ``{base}/sink=<name>/`` — the per-sink table
    (production: per-logstore Iceberg table; parquet directory layout
    here carries identical semantics). Optionally pre-shuffles on
    *bucket_cols* (shard-hash affinity, FlusherSLS.cpp:1157-1170) so
    each sink's files are clustered by the shard key.
    """
    if bucket_cols:
        nb = n_buckets or 32
        routed = routed.repartition(nb, F.col(sink_col), F.xxhash64(*bucket_cols))
    (
        routed.write.partitionBy(sink_col)
        .format(fmt)
        .mode(mode)
        .save(base_path)
    )


def read_sink(spark, base_path: str, sink: str, fmt: str = "parquet") -> DataFrame:
    """Read one sink table back (partition-pruned scan)."""
    return (
        spark.read.format(fmt)
        .load(base_path)
        .filter(F.col("sink") == sink)
        .drop("sink")
        if not os.path.isdir(os.path.join(base_path, f"sink={sink}"))
        else spark.read.format(fmt).load(os.path.join(base_path, f"sink={sink}"))
    )


def fanout_write_sls(
    routed: DataFrame,
    base_path: str,
    sink_col: str = "sink",
    *,
    time_key: str | None = None,
    mode: str = "append",
    **serializer_kwargs,
) -> None:
    """Fan-out in the reference's WIRE format: rows → per-sink SLS
    ``LogGroup`` protobuf blobs (sources/sls_pb.py;
    pkg/protocol/proto/sls_logs.proto:8-33, serializer
    SLSSerializer.h:37) written in ONE pass as
    ``{base}/topic=<sink>/`` parquet of ``(topic, n_logs, value)``
    rows — the flusher_sls per-logstore batch layout with Spark's
    atomic job commit instead of HTTP send."""
    from ..sources.sls_pb import serialize_sls_loggroups

    blobs = serialize_sls_loggroups(
        routed, topic_key=sink_col, time_key=time_key, **serializer_kwargs
    )
    blobs.write.partitionBy("topic").mode(mode).parquet(base_path)
