"""Flushers / sinks & serializers.

Capability parity (new code) with the reference flusher layer:

* JSON-lines sink      — flusher_stdout/flusher_file golden-output
                         format (plugins/flusher/stdout/flusher_stdout.go:47-57):
                         each row becomes a JSON object of its columns
* blackhole            — benchmark sink (``noop`` format)
* dynamic-topic layout — flusher_kafka_v2 ``%{field}`` topic routing
                         (pkg/fmtstr/format_topic.go:18-31) →
                         partitionBy(topic column) directory layout /
                         per-topic tables; hash partitioner
                         (flusher_kafka_v2.go:500-510) → pre-shuffle on
                         HashKeys
* sls-shard layout     — FlusherSLS shard-hash key
                         (core/plugin/flusher/sls/FlusherSLS.cpp:1157-1170)
                         → repartition on xxhash64(tags) before write
* sls protobuf         — the reference's LogGroup wire format
                         (pkg/protocol/proto/sls_logs.proto:8-33;
                         serializer SLSSerializer.h:37) via the
                         pure-Python encoder in sls_pb.py
                         (re-exported here as serialize_sls_loggroups)
* iceberg              — production sink: atomic-commit table appends;
                         gated on the runtime having Iceberg jars, with
                         parquet directory fallback carrying the same
                         layout semantics (this sandbox has no Iceberg
                         runtime jar).
* flusher table        — :data:`FLUSHERS`: each ``run_pipeline.py
                         --flusher`` name → its write and, for a wire
                         format (sls, loki, es, clickhouse), the decode
                         that reads its payload table back to one row
                         per wire log (each reference flusher owns its
                         serializer, SLSSerializer.h:37)
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.sqltext import col
from ..operators.route import fanout_write, require_sink
from .sls_pb import decode_loggroup, serialize_sls_loggroups

__all__ = [
    "FLUSHERS",
    "Flusher",
    "write_json_lines",
    "write_blackhole",
    "write_dynamic_topics",
    "iceberg_available",
    "write_table",
    "read_table",
    "read_text_logs",
    "serialize_sls_loggroups",
    "write_bucketed_table",
]


def serialize_json(df: DataFrame, dest: str = "value") -> DataFrame:
    """Row → JSON string of all columns (the stdout-flusher golden
    serializer; also the Kafka value serializer shape)."""
    return df.select(F.to_json(F.struct(*map(col, df.columns))).alias(dest))


def write_json_lines(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Golden-output sink: JSON lines (flusher_stdout KeyValuePairs
    format)."""
    df.write.mode(mode).json(path)


def format_string_col(fmt: str):
    """``%{col}`` format string → codegen concat Column (the
    reference's fmtstr.FormatTopic semantics; *col* is a flat column
    name, any text up to ``}``) — shared by the dynamic kafka topic
    renderer and the ES ``_index`` renderer. NULL field
    values render as '' (concat NULL-propagates: one NULL field would
    otherwise null the WHOLE rendered topic and partitionBy would
    divert the row to __HIVE_DEFAULT_PARTITION__, invisible to every
    topic-directory consumer)."""
    import re as _re

    parts: list = []
    pos = 0
    for m in _re.finditer(r"%\{([^}]+)\}", fmt):
        if m.start() > pos:
            parts.append(F.lit(fmt[pos : m.start()]))
        parts.append(F.coalesce(col(m.group(1)).cast("string"), F.lit("")))
        pos = m.end()
    if pos < len(fmt):
        parts.append(F.lit(fmt[pos:]))
    return F.concat(*parts) if parts else F.lit(fmt)


def write_blackhole(df: DataFrame) -> None:
    """Benchmark sink: full execution, no output (flusher_blackhole,
    used by the reference perf harness)."""
    df.write.format("noop").mode("overwrite").save()


def write_dynamic_topics(
    df: DataFrame,
    base_path: str,
    topic_format: str,
    *,
    hash_keys: list[str] | None = None,
    n_partitions: int = 32,
    mode: str = "append",
) -> None:
    """Kafka-v2-style dynamic topic fan-out: ``topic_format`` may
    reference columns as ``%{col}`` (fmtstr.FormatTopic semantics);
    each distinct rendered topic becomes a partition directory (= a
    topic/table). ``hash_keys`` pre-shuffles rows so all rows of a key
    land in one task's files (the hash partitioner analog)."""
    out = df.withColumn("__topic", format_string_col(topic_format))
    if hash_keys:
        out = out.repartition(n_partitions, *map(col, hash_keys))
    out.write.partitionBy("__topic").mode(mode).parquet(base_path)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg catalog can be instantiated in this JVM."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


def write_table(
    df: DataFrame,
    name_or_path: str,
    spark: SparkSession | None = None,
    mode: str = "append",
) -> None:
    """Sink-table append: Iceberg ``writeTo(...).append()`` when the
    runtime has Iceberg (atomic snapshot commit — the exactly-once
    sink contract), else parquet directory append (idempotence then
    comes from the checkpoint layer's per-unit overwrite,
    plans/checkpoint.py)."""
    spark = spark or df.sparkSession
    if iceberg_available(spark) and "/" not in name_or_path:
        exists = spark.catalog.tableExists(name_or_path)
        if mode == "append":
            if exists:
                df.writeTo(name_or_path).append()
            else:
                # first-ever append must create the table (append to a
                # missing table raises NoSuchTableException)
                df.writeTo(name_or_path).create()
        elif mode == "overwrite":
            df.writeTo(name_or_path).createOrReplace()
        elif mode == "ignore":
            if not exists:
                df.writeTo(name_or_path).create()
        elif mode in ("error", "errorifexists"):
            # create() raises on an existing table — the parquet
            # branch's semantics; createOrReplace here would DESTROY
            # the existing table on a mode that promises to fail
            df.writeTo(name_or_path).create()
        else:
            raise ValueError(f"write_table: unknown mode {mode!r}")
    else:
        df.write.mode(mode).parquet(name_or_path)


def read_table(spark: SparkSession, name_or_path: str) -> DataFrame:
    if iceberg_available(spark) and "/" not in name_or_path:
        return spark.read.table(name_or_path)
    return spark.read.parquet(name_or_path)


def read_text_logs(
    spark: SparkSession,
    path: str,
    *,
    text_col: str = "content",
    path_tag: str = "__tag__:__path__",
    line_number_col: str | None = None,
    wholetext: bool = False,
    recursive: bool = True,
) -> DataFrame:
    """The ``input_file`` scan analog for raw text logs — the
    reference's primary input (core/file_server tailing; batch Spark
    scans the same files instead of tailing them).

    Each line becomes a row with the raw line under *text_col* (the
    reference's default ``content`` key) and the originating file path
    under *path_tag* (``__tag__:__path__``,
    pkg/protocol/converter tag layout — the key that downstream
    flatteners render as ``log.file.path``). ``wholetext=True`` reads
    one row per file (the multiline-merge-from-file shape);
    *line_number_col* adds a per-file line index for stable ordering
    (the offset analog of the reference's file checkpoints) via a
    window over the path — use only when ordering matters, it costs a
    shuffle on the path."""
    # NB: wholetext must go through the .text() kwarg — the string
    # option form is silently ignored by the text source
    df = (
        spark.read.option("recursiveFileLookup", str(recursive).lower())
        .text(path, wholetext=wholetext)
        .withColumnRenamed("value", text_col)
        .withColumn(path_tag, F.input_file_name())
    )
    if line_number_col:
        from pyspark.sql import Window as W

        # order splits of one file by their BYTE OFFSET
        # (_metadata.file_block_start), then rows within a split by
        # monotonically_increasing_id (ascending within a partition).
        # Ordering by the id alone assumed partition indices follow
        # file offsets — an artifact of the current split bin-packing,
        # not a contract.
        w = W.partitionBy(path_tag).orderBy(
            F.col("_metadata.file_block_start"),
            F.monotonically_increasing_id(),
        )
        df = df.withColumn(line_number_col, F.row_number().over(w))
    return df


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int = 32,
    *,
    sort_cols: list[str] | None = None,
    mode: str = "overwrite",
) -> None:
    """Persist a table bucketed (and optionally sorted) on *bucket_cols*
    — the co-located-join layout: two tables bucketed the same way
    join WITHOUT a shuffle (each task reads matching bucket files from
    both sides), which at 100 TB turns the repeated transcript⨝sink /
    signature⨝signature joins from full exchanges into local merges.
    The write itself pays one shuffle to cluster rows; every
    subsequent join on the bucket key is exchange-free
    (tests/test_plans.py pins the no-Exchange join plan).

    Uses the session catalog's managed-table path (``bucketBy``
    requires ``saveAsTable``; the warehouse dir is local parquet here,
    an Iceberg catalog with a bucket partition transform in
    production)."""
    w = df.write.format("parquet").mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


# ---------------------------------------------------------------------------
# The flusher table: one write per ``run_pipeline.py --flusher``, and one
# decode per wire format. The wire serializers are imported when a write
# runs (es_bulk imports this module's format_string_col).


@dataclass(frozen=True)
class Flusher:
    """One flusher: ``write(routed, path, job_id)`` runs one action over
    the routed frame; a wire format's ``decode(payloads)`` maps its
    payload table (a frame with a ``value`` column) to one row per wire
    log."""

    write: Callable[[DataFrame, str, str], None]
    decode: Callable[[DataFrame], DataFrame] | None = None


def _wire(stage, decode) -> Flusher:
    """A wire flusher: ``stage(routed, job_id)`` serializes the routed
    rows into payload rows, written as ONE unpartitioned parquet table
    (overwrite: wire jobs rerun whole). The sink rides inside each
    payload as SLS topic / Loki label / ES index / ClickHouse doc
    field, so a transport layer can fan payloads out per sink. The
    serializers group by sink inside each task, so the rows spread
    evenly over every core, not one task per sink."""

    def write(routed: DataFrame, path: str, job_id: str) -> None:
        require_sink(routed)
        par = routed.sparkSession.sparkContext.defaultParallelism
        payloads = stage(routed.repartition(par), job_id)
        payloads.write.mode("overwrite").parquet(path)

    return Flusher(write, decode)


def _decoder(rows_of, schema: str):
    """Payload frame → one row per wire log, in one ``mapInPandas``
    pass: ``rows_of(value)`` lists the rows one payload holds, as
    tuples in *schema*'s column order. Strings stay strings (the
    reference's all-contents-are-strings event model, SURVEY §1.1)."""
    names = [f.split(" ")[0] for f in schema.split(", ")]

    def decode(payloads: DataFrame) -> DataFrame:
        def explode(batches):
            import pandas as pd

            for pdf in batches:
                rows = [r for v in pdf["value"] for r in rows_of(v)]
                if rows:
                    yield pd.DataFrame(rows, columns=names)

        return payloads.select("value").mapInPandas(explode, schema)

    return decode


def _ts_key(routed: DataFrame) -> str | None:
    return "ts" if "ts" in routed.columns else None


def _sls_payloads(routed: DataFrame, job_id: str) -> DataFrame:
    return serialize_sls_loggroups(
        routed, time_key=_ts_key(routed), topic_key="sink"
    )


def _sls_logs(value) -> list[tuple]:
    g = decode_loggroup(bytes(value))
    topic = g.get("topic", "")
    return [(topic, int(log["time"]), dict(log["contents"])) for log in g["logs"]]


def _loki_payloads(routed: DataFrame, job_id: str) -> DataFrame:
    from .loki_push import serialize_loki_push

    ts_key = _ts_key(routed)
    doc_cols = [c for c in routed.columns if c not in ("sink", "ts")]
    ns = (
        (F.unix_micros(F.col(ts_key).cast("timestamp")) * 1000)
        if ts_key
        else F.lit(0)
    )
    lined = routed.select(
        F.col("sink"),
        ns.cast("long").alias("lc_ns"),
        F.to_json(F.struct(*map(col, doc_cols))).alias("lc_line"),
    )
    return serialize_loki_push(
        lined,
        line_key="lc_line",
        time_ns_key="lc_ns",
        label_keys=["sink"],
        static_labels={"job": job_id},
    )


def _loki_entries(value) -> list[tuple]:
    from .loki_push import decode_loki_push

    return [(dict(lbl), int(t), line) for lbl, t, line in decode_loki_push(str(value))]


def _es_payloads(routed: DataFrame, job_id: str) -> DataFrame:
    from .es_bulk import serialize_es_bulk

    return serialize_es_bulk(routed, index_format="lc-%{sink}")


def _es_docs(value) -> list[tuple]:
    import json

    from .es_bulk import decode_es_bulk

    return [
        (index, json.dumps(doc, sort_keys=True))
        for index, doc in decode_es_bulk(str(value))
    ]


def _clickhouse_payloads(routed: DataFrame, job_id: str) -> DataFrame:
    from .clickhouse_rb import serialize_clickhouse_rowbinary

    ts_key = _ts_key(routed)
    if ts_key is None:
        # synthesize epoch-0 (the loki entry's lit(0) convention)
        # instead of sacrificing a real column to the _timestamp slot
        routed = routed.withColumn("lc_zero_ts", F.lit(0).cast("timestamp"))
        ts_key = "lc_zero_ts"
    return serialize_clickhouse_rowbinary(routed, ts_col=ts_key)


def _clickhouse_rows(value) -> list[tuple]:
    from .clickhouse_rb import decode_clickhouse_rowbinary

    return [(int(t), log) for t, log in decode_clickhouse_rowbinary(bytes(value))]


FLUSHERS: dict[str, Flusher] = {
    # overwrite: a rerun of the same job replaces its output
    # (append-without-lineage would silently duplicate data);
    # incremental appends go through run_pipeline.py --lineage
    "parquet": Flusher(
        lambda routed, path, job_id: fanout_write(routed, path, mode="overwrite")
    ),
    "blackhole": Flusher(lambda routed, path, job_id: write_blackhole(routed)),
    "sls": _wire(
        _sls_payloads,
        _decoder(_sls_logs, "topic string, time long, contents map<string,string>"),
    ),
    "loki": _wire(
        _loki_payloads,
        _decoder(_loki_entries, "labels map<string,string>, ts_ns long, line string"),
    ),
    "es": _wire(_es_payloads, _decoder(_es_docs, "index string, doc string")),
    "clickhouse": _wire(
        _clickhouse_payloads, _decoder(_clickhouse_rows, "ts long, log string")
    ),
}
