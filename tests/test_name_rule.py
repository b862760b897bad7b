"""The name rule: a spec key is a flat, literal column name.

A key with a dot, a space, a backtick or a reserved word names one
top-level column in every spine processor, the router, the aggregates,
the five wire serializers and the curation processors' ``text_col``
(``functions/sqltext.py``), as the reference's flat ``LogEvent`` keys
do."""

import hashlib
import json
from datetime import datetime

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from loongcollector_spark.pipeline import Pipeline
from loongcollector_spark.sources.clickhouse_rb import (
    decode_clickhouse_rowbinary,
    serialize_clickhouse_rowbinary,
)
from loongcollector_spark.sources.es_bulk import decode_es_bulk, serialize_es_bulk
from loongcollector_spark.sources.loki_push import decode_loki_push, serialize_loki_push
from loongcollector_spark.sources.prom_wire import (
    decode_write_request,
    serialize_remote_write,
)
from loongcollector_spark.sources.sls_pb import decode_loggroup, serialize_sls_loggroups

KEYS = ["host.name", "a b", "a`b", "order"]


def _frame(spark, key):
    """One row: ``conv_id='c1', turn_idx=0``, the column *key* = 'v' and
    ``text``, a JSON object whose member *key* is 'w'."""
    schema = T.StructType(
        [T.StructField(n, t) for n, t in [
            ("conv_id", T.StringType()), ("turn_idx", T.IntegerType()),
            (key, T.StringType()), ("text", T.StringType()),
        ]]
    )
    return spark.createDataFrame([("c1", 0, "v", json.dumps({key: "w"}))], schema)


def _run(spark, key, step, dims=None):
    """The rows *step* (one processor spec) leaves, as dicts."""
    out = Pipeline({"processors": [step]}, dims).run(_frame(spark, key))
    return [r.asDict() for r in out.collect()]


def _parse_regex(spark, k):
    step = {"type": "parse_regex", "source_key": k, "regex": "(v)", "keys": [k + "2"]}
    return _run(spark, k, step), {k: "v", k + "2": "v"}


def _parse_json(spark, k):
    step = {"type": "parse_json", "source_key": "text", "keys": [k]}
    return _run(spark, k, step), {k: "w", "parsed": {k: "w"}}


def _dict_map(spark, k):
    dim = spark.createDataFrame([("v", "mapped")], [k, k + "2"])
    step = {"type": "dict_map", "dim": "d", "source_key": k, "dest_key": k + "2"}
    return _run(spark, k, step, {"d": dim}), {k: "v", k + "2": "mapped"}


def _filter_regex(spark, k):
    step = {"type": "filter_regex", "include": {k: "^v$"}, "exclude": {k: "x"}}
    return _run(spark, k, step), {k: "v", "turn_idx": 0}


def _pick(spark, k):
    return _run(spark, k, {"type": "pick", "include": [k]}), {k: "v"}


def _drop(spark, k):
    rows = _run(spark, k, {"type": "drop", "keys": [k]})
    assert k not in rows[0]
    return rows, {"conv_id": "c1", "turn_idx": 0}


def _rename(spark, k):
    rows = _run(spark, k, {"type": "rename", "mapping": {k: k + "2"}})
    assert k not in rows[0]
    return rows, {k + "2": "v"}


def _desensitize(spark, k):
    step = {"type": "desensitize", "source_key": k, "regex": "v", "replace_string": "*"}
    return _run(spark, k, step), {k: "*"}


def _stable_order(spark, k):
    step = {"type": "stable_order", "conv_col": k, "order_col": "turn_idx"}
    return _run(spark, k, step), {k: "v", "seq": 0}


def _group_count(spark, k):
    pipe = Pipeline({"aggregates": [{"type": "group_count", "keys": [k]}]})
    out = pipe.aggregates(_frame(spark, k))["group_count"]
    return [r.asDict() for r in out.collect()], {k: "v", "cnt": 1}


def _router(spark, k):
    spec = {"router": {
        "source_key": k,
        "rules": [{"regex": "v", "sink": "s_v"}],
        "tag_copy_sinks": [[k, "v", "s_copy"]],
    }}
    rows = [r.asDict() for r in Pipeline(spec).run(_frame(spark, k)).collect()]
    assert sorted(r["sink"] for r in rows) == ["s_copy", "s_v"]
    return rows, {k: "v"}


def _sls(spark, k):
    out = serialize_sls_loggroups(_frame(spark, k), topic_key="conv_id")
    groups = [decode_loggroup(bytes(r.value)) for r in out.collect()]
    logs = [dict(log["contents"]) for g in groups for log in g["logs"]]
    return logs, {k: "v", "text": json.dumps({k: "w"})}


def _loki(spark, k):
    out = serialize_loki_push(
        _frame(spark, k), line_key=k, time_ns_key="turn_idx", label_keys=[k]
    )
    entries = [e for r in out.collect() for e in decode_loki_push(r.value)]
    return [{**labels, "line": line} for labels, _, line in entries], {
        k: "v", "line": "v"
    }


def _es(spark, k):
    out = serialize_es_bulk(_frame(spark, k), index_format="i-%{" + k + "}")
    docs = [d for r in out.collect() for d in decode_es_bulk(r.value)]
    return [{"index": idx, **doc} for idx, doc in docs], {k: "v", "index": "i-v"}


def _clickhouse(spark, k):
    out = serialize_clickhouse_rowbinary(_frame(spark, k), ts_col="turn_idx")
    rows = [x for r in out.collect() for x in decode_clickhouse_rowbinary(r.value)]
    return [json.loads(log) for _, log in rows], {k: "v", "conv_id": "c1"}


def _prom(spark, k):
    out = serialize_remote_write(
        _frame(spark, k), metric_name="m", value_key="turn_idx",
        time_ms_key="turn_idx", label_keys=[k],
    )
    series = [s for r in out.collect() for s in decode_write_request(r.value)]
    return [s["labels"] for s in series], {k: "v", "__name__": "m"}


def _token_stats(spark, k):
    step = {"type": "token_stats", "text_col": k}
    return _run(spark, k, step), {
        k: "v", "n_chars_calc": 1, "n_ws_tokens": 1, "n_re_tokens": 1
    }


def _quality_signals(spark, k):
    step = {"type": "quality_signals", "text_col": k}
    return _run(spark, k, step), {
        k: "v", "n_punct": 0, "n_digits": 0, "mean_word_len": 1.0,
        "uniq_token_ratio": 1.0,
    }


def _quality_score(spark, k):
    step = {"type": "quality_score", "text_col": k, "weights": [0.0] * 6, "bias": 0.0}
    return _run(spark, k, step), {k: "v", "quality_score": 0.5, "quality_keep": True}


def _language_id(spark, k):
    step = {"type": "language_id", "text_col": k}
    return _run(spark, k, step), {k: "v", "lang_pred": "unknown"}


def _fingerprint(spark, k):
    step = {"type": "fingerprint", "text_col": k}
    return _run(spark, k, step), {k: "v", "fingerprint": hashlib.md5(b"v").hexdigest()}


def _pii_redact(spark, k):
    frame = _frame(spark, k).withColumn(k, F.lit("mail a@b.io"))
    out = Pipeline({"processors": [{"type": "pii_redact", "text_col": k}]}).run(frame)
    return [r.asDict() for r in out.collect()], {k: "mail <EMAIL>"}


CASES = {
    f.__name__[1:]: f
    for f in [
        _parse_regex, _parse_json, _dict_map, _filter_regex, _pick, _drop,
        _rename, _desensitize, _stable_order, _group_count, _router,
        _sls, _loki, _es, _clickhouse, _prom,
        _token_stats, _quality_signals, _quality_score, _language_id,
        _fingerprint, _pii_redact,
    ]
}


@pytest.mark.parametrize("key", KEYS)
@pytest.mark.parametrize("case", list(CASES))
def test_spec_key_names_one_flat_column(spark, case, key):
    rows, want = CASES[case](spark, key)
    assert rows, case
    for row in rows:
        assert {n: row.get(n) for n in want} == want


# processors that add temporary columns, each over an input holding a
# user column named like a temporary: the temporaries carry the
# ``__lc_`` prefix, so the user column keeps its values
TEMPORARIES = {
    "merge_multiline": (
        "conv_id string, turn_idx int, text string, __blk string",
        [("c1", 0, "S1", "u0"), ("c1", 1, "x", "u1")],
        {"source_key": "text", "start_pattern": "^S", "group_cols": ["conv_id"]},
        [{"text": "S1\nx", "__blk": "u0"}],
    ),
    "split_log_regex": (
        "text string, __rid string, __pos string, __line string, __blk string",
        [("S1\nx\nS2", "r", "p", "l", "b")],
        {"source_key": "text", "start_pattern": "^S"},
        [
            {"text": t, "__rid": "r", "__pos": "p", "__line": "l", "__blk": "b"}
            for t in ["S1\nx", "S2"]
        ],
    ),
    "parse_gotime": (
        "t string, __gt string",
        [("2024-05-06 07:08:09", "keep")],
        {
            "source_key": "t", "source_format": "2006-01-02 15:04:05",
            "dest_key": "o", "dest_format": "2006-01-02",
        },
        [{"o": "2024-05-06", "__gt": "keep"}],
    ),
    "rate_limit": (
        "key string, ts timestamp, __rn string",
        [("a", datetime(2024, 1, 1), "r1"), ("b", datetime(2024, 1, 1), "r2")],
        {"fields": ["key"], "limit": 1},
        [{"key": "a", "__rn": "r1"}, {"key": "b", "__rn": "r2"}],
    ),
}


@pytest.mark.parametrize("case", list(TEMPORARIES))
def test_user_column_named_like_a_temporary_survives(spark, case):
    schema, rows, params, want = TEMPORARIES[case]
    df = spark.createDataFrame(rows, schema)
    out = Pipeline({"processors": [{"type": case, **params}]}).run(df)
    got = [{n: r[n] for n in want[0]} for r in out.collect()]
    assert sorted(got, key=repr) == sorted(want, key=repr)


def test_otel_dotted_output_filters_and_routes(spark):
    """The package's own dotted columns feed the next steps: the
    ``otlp.name`` scope column ``parse_otel_trace`` emits is filtered
    on and routed on."""
    from test_otel import PAYLOAD

    spec = {
        "processors": [
            {"type": "parse_otel_trace", "source_key": "payload"},
            {"type": "filter_regex", "include": {"otlp.name": "^lib$"}},
        ],
        "router": {
            "source_key": "otlp.name",
            "rules": [{"regex": "lib", "sink": "s_lib"}],
        },
    }
    df = spark.createDataFrame([(json.dumps(PAYLOAD),)], ["payload"])
    rows = Pipeline(spec).run(df).collect()
    assert len(rows) == 2
    assert {(r["otlp.name"], r["otlp.version"], r.sink) for r in rows} == {
        ("lib", "1.2", "s_lib")
    }
