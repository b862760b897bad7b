"""LoongCollector processor queries over the transcripts table: the
parse, enrich, filter, route and aggregate processors, the flagship
parse → enrich → route fan-out, and SPL scripts.

The SPL queries run real SPL script text through ``spl.compile_spl``
(the reference's processor_spl: core/plugin/processor/ProcessorSPL.h,
unittest surface core/unittest/spl/spl.txt + SplUnittest.cpp), so the
whole chain is checked: tokenizer → command parser → expression
translation → one Catalyst plan, against hand-written DuckDB twins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..operators import (
    aggregate as agg,
    enrich,
    filter as flt,
    parse,
    route as rt,
)
from ..sources.transcripts import load_transcripts
from .common import (
    DEFAULT_SINK,
    NGINX_KEYS,
    NGINX_REGEX,
    ROLE_DIM,
    ROUTER_RULES,
    _ROUTE_CASE,
    _TX,
    _routed,
)
from .registry import query


NGINX_ANCHORED = f"^{NGINX_REGEX}$"
_NK_LIST = "[" + ", ".join(f"'{k}'" for k in NGINX_KEYS) + "]"


TOOL_DIM = [
    ("search", "retrieval", True),
    ("code", "execution", True),
    ("browser", "retrieval", True),
    ("none", "na", False),
]


def _role_dim_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(ROLE_DIM, ["role", "role_class", "priority"])


def _tool_dim_df(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(TOOL_DIM, ["tool", "tool_family", "billable"])


_ROLE_DIM_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{r}', '{c}', {p})" for r, c, p in ROLE_DIM)
    + ") AS role_dim(role, role_class, priority)"
)
_TOOL_DIM_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(f"('{t}', '{f}', {str(b).lower()})" for t, f, b in TOOL_DIM)
    + ") AS tool_dim(tool, tool_family, billable)"
)


def _enriched(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = load_transcripts(spark, sf_dir)
    out = enrich.dict_map(
        tx,
        _role_dim_df(spark),
        "role",
        "role_class",
        handle_missing=True,
        missing="Unknown",
    )
    out = enrich.dict_map(out, _tool_dim_df(spark), "tool", "tool_family")
    return out


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    parsed AS (
      SELECT conv_id, turn_idx,
             regexp_extract(text, '{NGINX_ANCHORED}', {_NK_LIST}) AS g
      FROM transcripts
      WHERE regexp_matches(text, '{NGINX_ANCHORED}')
    )
    SELECT conv_id, turn_idx, g.ip AS ip, g.method AS method,
           g.path AS path, g.status AS status,
           g.body_bytes AS body_bytes, g.log_no AS log_no
    FROM parsed
""")
def q_parse_nginx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nginx-dialect regex parse (reference bench payload,
    test/benchmark/.../loongcollector.yaml:8-27)."""
    tx = load_transcripts(spark, sf_dir)
    out = parse.parse_regex(
        tx, "text", NGINX_REGEX, NGINX_KEYS, discard_unmatched=True, keep_source=False
    )
    return out.select(
        "conv_id",
        "turn_idx",
        "ip",
        "method",
        "path",
        "status",
        "body_bytes",
        "log_no",
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           regexp_extract(text, 'level=(\\S+)', 1) AS level,
           regexp_extract(text, 'svc=(\\S+)', 1) AS svc,
           regexp_extract(text, 'code=(\\S+)', 1) AS code,
           regexp_extract(text, 'dur=(\\S+)', 1) AS dur
    FROM transcripts WHERE text LIKE 'level=%'
""")
def q_parse_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key=value dialect via JVM str_to_map (processor_split_key_value)."""
    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    out = parse.parse_keyvalue(tx, "text", keys=["level", "svc", "code", "dur"])
    return out.select("conv_id", "turn_idx", "level", "svc", "code", "dur")


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.msg') AS msg,
           json_extract_string(text, '$.ctx.k') AS ctx_k,
           json_extract_string(text, '$.ctx.arr[0]') AS arr0,
           json_extract_string(text, '$.logNo') AS log_no
    FROM transcripts WHERE text LIKE '{{%'
""")
def q_parse_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON dialect flatten (processor_json dialect: connector keys,
    array [i] expansion)."""
    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("{"))
    out = parse.parse_json(tx, "text", expand_array=True)
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("parsed")["level"].alias("level"),
        F.col("parsed")["msg"].alias("msg"),
        F.col("parsed")["ctx_k"].alias("ctx_k"),
        F.col("parsed")["ctx_arr[0]"].alias("arr0"),
        F.col("parsed")["logNo"].alias("log_no"),
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT {_ROUTE_CASE} AS sink, count(*) AS cnt
    FROM transcripts GROUP BY 1 ORDER BY sink
""")
def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink routed-row counts — the north-star verification
    aggregate (aggregator_router + groupBy(sink).count)."""
    return agg.group_count(_routed(spark, sf_dir), ["sink"]).orderBy("sink")


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx, {_ROUTE_CASE} AS sink FROM transcripts
    UNION ALL
    SELECT conv_id, turn_idx, 'sink_audit' AS sink FROM transcripts
""")
def q_routed_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Routed-row multiset (conv_id, turn_idx, sink) incl. an
    unconditional copy-sink — Router copy semantics
    (core/collection_pipeline/route/Router.cpp:62-80)."""
    tx = load_transcripts(spark, sf_dir)
    cfg = rt.RouterConfig(
        source_key="role",
        rules=ROUTER_RULES,
        default_sink=DEFAULT_SINK,
        unconditional_sinks=["sink_audit"],
    )
    return rt.route(tx, cfg).select("conv_id", "turn_idx", "sink")


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx, {_ROUTE_CASE} AS sink, text
    FROM transcripts
""")
def q_routed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strongest north-star check in one query: full routed content
    — every (conv_id, turn_idx, sink) with its byte-exact per-turn
    text under stable ordering."""
    return _routed(spark, sf_dir).select("conv_id", "turn_idx", "sink", "text")


@query("events", oracle="""
    SELECT event_id, json_extract_string(props, '$.k') AS k
    FROM events
""")
def q_parse_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON flatten over a second table (events.props)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = parse.parse_json(ev, "props")
    return out.select(
        "event_id", F.col("parsed")["k"].alias("k")
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn_idx
    FROM transcripts GROUP BY conv_id
""")
def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation turn counts (context-aggregator grouping)."""
    tx = load_transcripts(spark, sf_dir)
    return tx.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"), F.max("turn_idx").alias("max_turn_idx")
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    role_dim AS ({_ROLE_DIM_SQL}),
    tool_dim AS ({_TOOL_DIM_SQL})
    SELECT t.role AS role,
           coalesce(r.role_class, 'Unknown') AS role_class,
           td.tool_family AS tool_family,
           count(*) AS cnt
    FROM transcripts t
    LEFT JOIN role_dim r ON t.role = r.role
    LEFT JOIN tool_dim td ON t.tool = td.tool
    GROUP BY 1, 2, 3
""")
def q_enrich_dictmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan dict lookup w/ missing handling (processor_dict_map)."""
    out = _enriched(spark, sf_dir)
    return out.groupBy("role", "role_class", "tool_family").agg(
        F.count("*").alias("cnt")
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx, role FROM transcripts
    WHERE regexp_matches(text, 'logNo=\\d+')
      AND regexp_matches(role, 'user|assistant')
      AND NOT regexp_matches(text, 'ERROR')
""")
def q_filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Include/exclude regex filter (processor_filter_regex)."""
    tx = load_transcripts(spark, sf_dir)
    out = flt.filter_regex(
        tx, include={"text": r".*logNo=\d+.*", "role": "user|assistant"},
        exclude={"text": r".*ERROR.*"},
    )
    return out.select("conv_id", "turn_idx", "role")


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx, role, tool FROM transcripts
    WHERE (regexp_matches(role, '^assistant$')
           OR regexp_matches(tool, '^code$'))
      AND NOT regexp_matches(text, '^\\{{')
""")
def q_filter_expression_tree(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boolean expression-tree filter (ProcessorFilterNative.h:34-96)."""
    tx = load_transcripts(spark, sf_dir)
    tree = {
        "operator": "and",
        "operands": [
            {
                "operator": "or",
                "operands": [
                    {"key": "role", "exp": "^assistant$"},
                    {"key": "tool", "exp": "^code$"},
                ],
            },
            {"operator": "not", "operands": [{"key": "text", "exp": "^\\{"}]},
        ],
    }
    return flt.filter_expression(tx, tree).select("conv_id", "turn_idx", "role", "tool")


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT CASE WHEN role = 'assistant' THEN 'model'
                WHEN role = 'user' OR role = 'system'
                     THEN 'human_or_infra' END AS speaker,
           count(*) AS cnt
    FROM transcripts GROUP BY 1
""")
def q_fields_with_condition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Switch-case enrich (processor_fields_with_condition)."""
    tx = load_transcripts(spark, sf_dir)
    out = flt.fields_with_condition(
        tx,
        [
            {
                "fields": [{"key": "role", "value": "assistant"}],
                "add_fields": {"speaker": "model"},
            },
            {
                "fields": [
                    {"key": "role", "value": "user"},
                    {"key": "role", "value": "system"},
                ],
                "logical_operator": "or",
                "add_fields": {"speaker": "human_or_infra"},
            },
        ],
    )
    return out.groupBy("speaker").agg(F.count("*").alias("cnt"))


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    ranked AS (
      SELECT role,
             row_number() OVER (
               PARTITION BY role, date_trunc('hour', ts)
               ORDER BY ts, conv_id, turn_idx) AS rn
      FROM transcripts
    )
    SELECT role, count(*) AS cnt FROM ranked WHERE rn <= 3 GROUP BY role
""")
def q_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic rate-sample: ≤3 rows per (role, 1-hour window)
    (processor_rate_limit batch analog)."""
    tx = load_transcripts(spark, sf_dir)
    w = W.partitionBy("role", F.date_trunc("hour", F.col("ts"))).orderBy(
        "ts", "conv_id", "turn_idx"
    )
    out = (
        tx.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 3)
        .drop("__rn")
    )
    return out.groupBy("role").agg(F.count("*").alias("cnt"))


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           cast(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
                - 1 AS INT) AS seq,
           text
    FROM transcripts
""")
def q_stable_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable turn ordering + per-turn text (logNo order oracle,
    test/engine/verify/log_order.go:58-77): seq must equal turn_idx."""
    tx = load_transcripts(spark, sf_dir)
    out = agg.stable_order(tx)
    return out.select("conv_id", "turn_idx", "seq", "text")


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    seq AS (
      SELECT conv_id,
             cast(floor((row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
                   - 1) / 16.0) AS BIGINT) AS packno
      FROM transcripts
    )
    SELECT concat('pack-', conv_id, '-', cast(packno AS STRING)) AS __pack_id__,
           count(*) AS cnt
    FROM seq GROUP BY 1
""")
def q_pack_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """__pack_id__ provenance batching (aggregator_base.go:139-147):
    16-row packs per conversation."""
    tx = load_transcripts(spark, sf_dir)
    out = agg.pack_groups(tx, ["conv_id"], "turn_idx", max_log_count=16)
    return out.groupBy("__pack_id__").agg(F.count("*").alias("cnt"))


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    role_dim AS ({_ROLE_DIM_SQL}),
    enriched AS (
      SELECT t.*, coalesce(r.role_class, 'Unknown') AS role_class,
             CASE WHEN regexp_matches(text, '{NGINX_ANCHORED}')
                  THEN regexp_extract(text, '{NGINX_ANCHORED}', {_NK_LIST}).status
                  END AS status
      FROM transcripts t LEFT JOIN role_dim r ON t.role = r.role
    )
    SELECT {_ROUTE_CASE} AS sink, role_class,
           count(*) AS cnt, count(status) AS n_nginx
    FROM enriched GROUP BY 1, 2
""")
def q_enrich_pipeline_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship: parse all three dialects → enrich → route → per-sink,
    per-status counts (full pipeline in one plan)."""
    tx = load_transcripts(spark, sf_dir)
    parsed = parse.parse_regex(tx, "text", NGINX_REGEX, NGINX_KEYS)
    enriched = enrich.dict_map(
        parsed,
        _role_dim_df(spark),
        "role",
        "role_class",
        handle_missing=True,
        missing="Unknown",
    )
    cfg = rt.RouterConfig(
        source_key="role", rules=ROUTER_RULES, default_sink=DEFAULT_SINK
    )
    routed = rt.route(enriched, cfg)
    return routed.groupBy("sink", "role_class").agg(
        F.count("*").alias("cnt"),
        F.count("status").alias("n_nginx"),
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS doc
    FROM transcripts GROUP BY conv_id
""")
def q_merge_transcript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge a conversation's turns into one document in stable order
    (ProcessorMergeMultilineLogNative analog: collect + ordered concat)."""
    tx = load_transcripts(spark, sf_dir)
    merged = (
        tx.groupBy("conv_id")
        .agg(
            F.array_sort(F.collect_list(F.struct("turn_idx", "text"))).alias("__a")
        )
        .select(
            "conv_id",
            F.concat_ws(
                "\n", F.transform(F.col("__a"), lambda s: s["text"])
            ).alias("doc"),
        )
    )
    return merged


GROK_KV = (
    "level=%{LOGLEVEL:level} svc=%{NOTSPACE:svc} code=%{INT:code:int} "
    "dur=%{INT:dur:int}ms logNo=%{INT:log_no:int}"
)


def _grok_oracle_sql() -> str:
    """Build the DuckDB oracle for q_grok from the SAME compiled grok
    pattern (named groups → positional; RE2 dialect-compatible)."""
    import re as _re

    from ..functions.grok import compile_grok

    pat, _types = compile_grok(GROK_KV)
    plain = _re.sub(r"\(\?P<\w+>", "(", pat.pattern).replace("'", "''")
    return f"""
        WITH transcripts AS ({_TX}),
        g AS (
          SELECT conv_id, turn_idx,
                 regexp_extract(text, '{plain}',
                    ['level', 'svc', 'code', 'dur', 'log_no']) AS m
          FROM transcripts WHERE text LIKE 'level=%'
        )
        SELECT conv_id, turn_idx, m.level AS level, m.svc AS svc,
               cast(m.code AS BIGINT) AS code, cast(m.dur AS BIGINT) AS dur,
               cast(m.log_no AS BIGINT) AS log_no
        FROM g
    """


@query("events", oracle=_grok_oracle_sql())
def q_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok parse of the kv dialect (processor_grok): driver-compiled
    pattern graph → Arrow-batched first-match UDF, with :int type
    hints applied."""
    from ..operators.parse import parse_grok

    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    out = parse_grok(tx, "text", [GROK_KV])
    return out.select("conv_id", "turn_idx", "level", "svc", "code", "dur", "log_no")


@query("documents", oracle="""
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
""")
def q_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-one-into-many (split_log_string → explode): token counts
    over documents (each doc splits into whitespace tokens)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return toks.groupBy("token").agg(F.count("*").alias("cnt"))


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           regexp_extract(text, 'svc=(.*?) ', 1) AS svc
    FROM transcripts WHERE text LIKE 'level=%'
""")
def q_anchor_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor substring extraction (processor_anchor) on the kv
    dialect: value between 'svc=' and the following space."""
    from ..operators.parse import parse_anchor

    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    out = parse_anchor(
        tx, "text", [{"start": "svc=", "stop": " ", "field": "svc"}]
    )
    return out.select("conv_id", "turn_idx", "svc")


@query("events", oracle="""
    SELECT event_id AS __time__,
           concat('event_type#$#', event_type, '|user_id#$#',
                  cast(user_id AS STRING)) AS __labels__,
           'value' AS metric_name,
           value AS metric_value
    FROM events
""")
def q_log_to_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log→metric unpivot (processor_log_to_sls_metric) over events."""
    from ..operators.enrich import log_to_metric

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return log_to_metric(
        ev.withColumn("t", F.col("event_id")),
        "t",
        ["event_type", "user_id"],
        ["value"],
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S') AS parsed_ts
    FROM transcripts
""")
def q_timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strptime/gotime analog: format event time to a string and parse
    it back (processor_strptime / processor_parse_timestamp_native)."""
    from ..operators.parse import parse_timestamp

    tx = load_transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss").alias("ts_str"),
    )
    out = parse_timestamp(tx, "ts_str", "yyyy-MM-dd HH:mm:ss", dest_key="parsed_ts")
    return out.select(
        "conv_id",
        "turn_idx",
        "ts_str",
        F.col("parsed_ts").cast("timestamp_ntz").alias("parsed_ts"),
    )


# round-trip identity: the parse must recover exactly what was packed
@query("events", oracle="""
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS apsara_time,
           upper(event_type) AS level,
           cast(user_id AS STRING) AS thread,
           'app.cpp:42' AS location,
           cast(event_id AS STRING) AS eid,
           props AS props_v
    FROM events
""")
def q_apsara(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apsara fixed-layout parse: build apsara-formatted lines from
    events deterministically, parse them back, return the parts."""
    from ..operators.parse import parse_apsara

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    line = F.concat_ws(
        "\t",
        F.concat(F.lit("["), F.date_format("ts", "yyyy-MM-dd HH:mm:ss"), F.lit("]")),
        F.concat(F.lit("["), F.upper("event_type"), F.lit("]")),
        F.concat(F.lit("["), F.col("user_id").cast("string"), F.lit("]")),
        F.lit("[app.cpp:42]"),
        F.concat(F.lit("eid:"), F.col("event_id").cast("string")),
        F.concat(F.lit("props:"), F.col("props")),
    )
    df = ev.select(F.col("event_id"), line.alias("raw"))
    out = parse_apsara(df, "raw")
    return out.select(
        "event_id",
        "apsara_time",
        "level",
        "thread",
        "location",
        F.col("fields")["eid"].alias("eid"),
        F.col("fields")["props"].alias("props_v"),
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    t AS (
      SELECT conv_id, turn_idx, string_split(text, ' ') AS tk
      FROM transcripts WHERE text LIKE 'level=%'
    )
    SELECT conv_id, turn_idx,
           tk[1] AS f1, tk[2] AS f2, tk[3] AS expand_1, tk[4] AS expand_2,
           CASE WHEN len(tk) >= 5
                THEN array_to_string(tk[5:], ' ') ELSE NULL END AS expand_3
    FROM t
""")
def q_delimiter_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """parse_delimiter with PreserveOthers+ExpandOthers
    (split_string.go:92-99): first two space-separated fields named,
    the rest expanded into expand_1..3 with the unsplit tail in the
    last expand column."""
    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    out = parse.parse_delimiter(
        tx,
        "text",
        " ",
        ["f1", "f2"],
        preserve_others=True,
        expand_others=True,
        max_expand=3,
    )
    return out.select(
        "conv_id", "turn_idx", "f1", "f2", "expand_1", "expand_2", "expand_3"
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           CASE WHEN text LIKE 'level=%'
                THEN regexp_extract(text, '^level=([^ ]*)', 1)
                ELSE '' END AS level,
           CASE WHEN text LIKE 'level=%' THEN ''
                ELSE regexp_replace(text, '\\d+', '<NUM>', 'g') END AS text,
           'prod' AS env,
           'host-1' AS host,
           tool AS tool_name,
           role,
           regexp_replace(role, '[aeiou]', '*', 'g') AS role_x,
           replace(conv_id, 'conv-', 'c#') AS conv_tag,
           md5(role) AS role_md5,
           to_base64(encode(role)) AS role_b64,
           decode(from_base64(to_base64(encode(role)))) AS role_rt,
           '{{"env":"prod","host":"host-1"}}' AS packed,
           'a#$#1|b#$#2|h#$#h9' AS labels
    FROM transcripts
""")
def q_enrich_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-enrich operator chain in one oracle-checked query —
    every step is an exact DuckDB twin: parse_keyvalue →
    desensitize(const) → drop_last_key → add_fields → add_tags(rename)
    → rename → string_replace(regex + const) → md5 → base64
    encode/decode roundtrip → pack_json → appender(sort_labels) →
    pick_keys projection. All steps are JVM expressions fused into one
    Catalyst plan (no shuffle until the driver collects)."""
    tx = load_transcripts(spark, sf_dir)
    out = parse.parse_keyvalue(tx, "text", keys=["level"])
    out = enrich.desensitize(out, "text", r"\d+", replace_string="<NUM>")
    out = enrich.drop_last_key(out, include=["level"], drop_key="text")
    # NULLs sort-crash the driver's tuple compare against non-NULL
    # strings; surface the dropped/missing state as '' on both sides
    out = out.withColumn("level", F.coalesce(F.col("level"), F.lit("")))
    out = out.withColumn("text", F.coalesce(F.col("text"), F.lit("")))
    out = enrich.add_fields(out, {"env": "prod", "labels": "b#$#2|a#$#1"})
    out = enrich.add_tags(
        out, {"__hostname__": "host-1"}, rename_map={"__hostname__": "host"}
    )
    out = enrich.rename(out, {"tool": "tool_name"})
    out = enrich.string_replace(
        out, "role", method="regex", match="[aeiou]", replace_string="*",
        dest_key="role_x",
    )
    out = enrich.string_replace(
        out, "conv_id", method="const", match="conv-", replace_string="c#",
        dest_key="conv_tag",
    )
    out = enrich.md5_field(out, "role", "role_md5")
    out = enrich.base64_encode(out, "role", "role_b64")
    out = enrich.base64_decode(out, "role_b64", "role_rt")
    out = enrich.pack_json(out, ["env", "host"], "packed")
    out = enrich.appender(
        out, "labels", "|h#$#{{host}}", constants={"host": "h9"},
        sort_labels=True,
    )
    return enrich.pick_keys(
        out,
        include=[
            "conv_id", "turn_idx", "level", "text", "env", "host",
            "tool_name", "role", "role_x", "conv_tag", "role_md5",
            "role_b64", "role_rt", "packed", "labels",
        ],
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx, role FROM transcripts
""")
def q_filter_key_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-NAME regex projection (processor_filter_key_regex): include
    then exclude, resolved into a static column prune at plan time."""
    tx = load_transcripts(spark, sf_dir)
    return flt.filter_key_regex(
        tx, include="^(conv_id|turn_idx|role|tool)$", exclude="^tool$"
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    doc AS (
      SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS doc
      FROM transcripts GROUP BY conv_id
    ),
    lines AS (
      SELECT conv_id,
             unnest(string_split(doc, chr(10))) AS line,
             unnest(generate_series(1, len(string_split(doc, chr(10))))) AS pos
      FROM doc
    ),
    blk AS (
      SELECT conv_id, pos, line,
             sum(CASE WHEN regexp_matches(line, '^level=') THEN 1 ELSE 0 END)
               OVER (PARTITION BY conv_id ORDER BY pos
                     ROWS UNBOUNDED PRECEDING) AS g
      FROM lines
    )
    SELECT conv_id, string_agg(line, chr(10) ORDER BY pos) AS event_text
    FROM blk GROUP BY conv_id, g
""")
def q_split_log_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_log_regex end-to-end: conversations merged into one blob
    (stable turn order), then re-split into events at lines matching
    ``^level=`` — continuation lines (nginx/JSON dialect turns) attach
    to the current event; leading non-matching lines form the first
    event. Codegen shape: posexplode → running-sum boundary window."""
    blobs = q_merge_transcript(spark, sf_dir)
    out = parse.split_log_regex(blobs, "doc", r"^level=", dest_key="event_text")
    return out.select("conv_id", "event_text")


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.msg') AS msg,
           cast(json_extract(text, '$.ctx.k') AS BIGINT) AS ctx_k,
           cast(json_extract(text, '$.ctx.arr[0]') AS BIGINT) AS arr0,
           cast(json_extract(text, '$.logNo') AS BIGINT) AS log_no
    FROM transcripts WHERE text LIKE '{{%'
""")
def q_parse_json_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON fast path (parse_json_typed → from_json):
    typed extraction with no Python and subfield pruning."""
    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("{"))
    out = parse.parse_json_typed(
        tx,
        "text",
        "struct<level:string,msg:string,logNo:bigint,"
        "ctx:struct<k:bigint,arr:array<bigint>>>",
    )
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("parsed")["level"].alias("level"),
        F.col("parsed")["msg"].alias("msg"),
        F.col("parsed")["ctx"]["k"].alias("ctx_k"),
        F.element_at(F.col("parsed")["ctx"]["arr"], 1).alias("arr0"),
        F.col("parsed")["logNo"].alias("log_no"),
    )


GEO_DIM = [
    # (start, end, city, province, country, country_code) over the
    # generator's 10.0.0.0/8 address space, split on the second octet
    (10 * 16777216, 10 * 16777216 + 80 * 65536 + 65535,
     "hangzhou", "zhejiang", "china", "CN"),
    (10 * 16777216 + 81 * 65536, 10 * 16777216 + 160 * 65536 + 65535,
     "seattle", "washington", "usa", "US"),
    (10 * 16777216 + 161 * 65536, 10 * 16777216 + 223 * 65536 + 65535,
     "dublin", "leinster", "ireland", "IE"),
]


_GEO_DIM_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"({s}, {e}, '{ci}', '{pr}', '{co}', '{cc}')"
        for s, e, ci, pr, co, cc in GEO_DIM
    )
    + ") AS geo(ip_start, ip_end, city, province, country, country_code)"
)


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    geo AS ({_GEO_DIM_SQL}),
    t AS (
      SELECT conv_id, turn_idx, string_split(text, ' ')[1] AS ip
      FROM transcripts WHERE text LIKE '10.%'
    ),
    ipl AS (
      SELECT conv_id, turn_idx, ip,
             cast(string_split(ip, '.')[1] AS BIGINT) * 16777216
           + cast(string_split(ip, '.')[2] AS BIGINT) * 65536
           + cast(string_split(ip, '.')[3] AS BIGINT) * 256
           + cast(string_split(ip, '.')[4] AS BIGINT) AS n
      FROM t
    )
    SELECT i.conv_id, i.turn_idx, i.ip, g.city AS ip_city,
           g.country_code AS ip_cc
    FROM ipl i LEFT JOIN geo g ON i.n BETWEEN g.ip_start AND g.ip_end
""")
def q_geoip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_geoip as a broadcast range join: client IPs from the
    nginx-dialect turns against a literal geo range table (the pruned
    GeoLite shape); DuckDB twin is the same BETWEEN join."""
    from ..operators.geo import geoip_enrich

    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("10."))
    with_ip = tx.withColumn("ip", F.substring_index(F.col("text"), " ", 1))
    dim = spark.createDataFrame(
        GEO_DIM,
        ["ip_start", "ip_end", "city", "province", "country", "country_code"],
    )
    out = geoip_enrich(with_ip, "ip", dim)
    return out.select(
        "conv_id", "turn_idx", "ip",
        F.col("ip_city_").alias("ip_city"),
        F.col("ip_country_code_").alias("ip_cc"),
    )


CLOUD_META = {
    "__cloud_instance_id__": "i-0abc",
    "__cloud_instance_name__": "bench-node",
    "__cloud_instance_region__": "local-1",
    "__cloud_instance_type__": "g6.xlarge",
}


@query("events", oracle=f"""
    SELECT event_id,
           '{CLOUD_META["__cloud_instance_id__"]}' AS "__cloud_instance_id__",
           '{CLOUD_META["__cloud_instance_name__"]}' AS instance_name,
           '{CLOUD_META["__cloud_instance_region__"]}'
             AS "__cloud_instance_region__",
           '{CLOUD_META["__cloud_instance_type__"]}'
             AS "__cloud_instance_type__"
    FROM events
""")
def q_cloud_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_cloud_meta: platformmeta constant columns with key
    renaming (cloud_meta.go:60-96 mock-platform semantics)."""
    from ..operators.geo import cloud_meta_tags

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = cloud_meta_tags(
        ev.select("event_id"),
        CLOUD_META,
        rename={"__cloud_instance_name__": "instance_name"},
    )
    return out.select(
        "event_id",
        "__cloud_instance_id__",
        "instance_name",
        "__cloud_instance_region__",
        "__cloud_instance_type__",
    )


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS ts_str,
           strftime(ts + INTERVAL 8 HOUR, '%Y/%m/%dT%H:%M:%S') AS bj_str,
           cast(epoch_ms(date_trunc('ms', ts)) AS STRING) AS epoch_ms
    FROM transcripts
""")
def q_gotime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_gotime: Go-layout parse at UTC, re-format at UTC+8
    (the reference's integer hour locations) plus the fixed
    ``milliseconds`` epoch pseudo-format — layouts translated once on
    the driver (functions/gotime.py)."""
    tx = load_transcripts(spark, sf_dir).select(
        "conv_id",
        "turn_idx",
        # millisecond-bearing source string so the epoch pseudo-format
        # path proves it keeps sub-seconds (Go t.UnixMilli semantics)
        F.date_format(F.col("ts"), "yyyy-MM-dd HH:mm:ss.SSS").alias("ts_str"),
    )
    out = parse.parse_gotime(
        tx, "ts_str", "2006-01-02 15:04:05.000", "bj_str",
        "2006/01/02T15:04:05",
        source_location=0, dest_location=8,
    )
    out = parse.parse_gotime(
        out, "ts_str", "2006-01-02 15:04:05.000", "epoch_ms", "milliseconds",
        source_location=0,
    )
    return out.select("conv_id", "turn_idx", "ts_str", "bj_str", "epoch_ms")


_MOCK_N = 20000


def _mock_generator_oracle_sql(n: int = _MOCK_N) -> str:
    """DuckDB twin of generate_transcripts' expression DAG (defaults:
    hot_convs=7, hot_fraction_mod=10, hot_rows_lt=3, n_convs=n/200)."""
    n_convs = max(n // 200, 1)
    return f"""
    WITH rng AS (SELECT range AS id FROM range(0, {n})),
    base AS (
      SELECT id AS event_id,
             CASE WHEN mod(id, 10) < 3 THEN mod(id, 7)
                  ELSE mod(id, {n_convs}) END AS user_id,
             CASE WHEN mod(id, 6) <= 2 THEN 'GET'
                  WHEN mod(id, 6) = 3 THEN 'POST'
                  WHEN mod(id, 6) = 4 THEN 'PUT' ELSE 'DELETE' END AS m,
             CASE WHEN mod(id, 10) <= 6 THEN '200'
                  WHEN mod(id, 10) = 7 THEN '302'
                  WHEN mod(id, 10) = 8 THEN '404' ELSE '500' END AS st,
             CASE WHEN mod(id, 5) = 0 THEN 'ERROR'
                  WHEN mod(id, 5) = 1 THEN 'WARN' ELSE 'INFO' END AS lvl,
             concat('10.', cast(mod(id, 223) + 1 AS STRING), '.',
                    cast(mod(id * 7, 256) AS STRING), '.',
                    cast(mod(id * 13, 256) AS STRING)) AS ip
      FROM rng
    )
    SELECT
      concat('conv-', lpad(cast(user_id AS STRING), 8, '0')) AS conv_id,
      cast(event_id AS INT) AS turn_idx,
      CASE WHEN mod(event_id, 97) = 53 THEN 'alien'
           WHEN mod(event_id, 4) = 0 THEN 'user'
           WHEN mod(event_id, 4) = 1 THEN 'assistant'
           WHEN mod(event_id, 4) = 2 THEN 'system' ELSE 'tool' END AS role,
      CASE mod(event_id, 3)
        WHEN 0 THEN concat(ip, ' - - [01/Jan/2024:00:00:00 +0000] "', m,
             ' /api/v1/item/', cast(mod(event_id * 31, 1000) AS STRING),
             ' HTTP/1.1" ', st, ' ',
             cast(100 + mod(event_id * 17, 9000) AS STRING),
             ' "-" "agent-', cast(mod(event_id, 50) AS STRING),
             '" logNo=', cast(event_id AS STRING))
        WHEN 1 THEN concat('{{"level":"', lvl, '","msg":"turn-',
             cast(mod(event_id, 1000) AS STRING), '","ctx":{{"k":',
             cast(mod(event_id, 100) AS STRING), ',"arr":[',
             cast(mod(event_id, 7) AS STRING), ',',
             cast(mod(event_id, 11) AS STRING), ']}},"logNo":',
             cast(event_id AS STRING), '}}')
        ELSE concat('level=', lvl, ' svc=svc-',
             cast(mod(event_id, 20) AS STRING), ' code=', st, ' dur=',
             cast(mod(event_id * 11, 5000) AS STRING), 'ms logNo=',
             cast(event_id AS STRING))
      END AS text,
      CASE WHEN mod(event_id, 7) = 0 THEN 'search'
           WHEN mod(event_id, 7) IN (1, 2) THEN 'code'
           WHEN mod(event_id, 7) = 3 THEN 'browser' ELSE 'none' END AS tool,
      TIMESTAMP '2024-01-01 00:00:00'
        + INTERVAL (mod(event_id, 86400)) SECOND AS ts
    FROM base
    """


@query(oracle=_mock_generator_oracle_sql())
def q_mock_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metric_mock / input_mock parity (plugins/input/mock, SURVEY
    §2.1 row 2): the at-scale deterministic generator
    (sources/transcripts.generate_transcripts — spark.range, pure
    column expressions, parallelism-independent) value-matched row for
    row against a DuckDB twin over ``range(N)``. *sf_dir* is unused:
    the generator IS the source."""
    from ..sources.transcripts import generate_transcripts

    out = generate_transcripts(spark, _MOCK_N)
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )


# AES-128-CBC, PKCS padding, the reference's all-zero default IV
# (processor_encrypt.go:52-55) — golden ciphertexts computed with an
# INDEPENDENT implementation (pyca/cryptography; regenerated and
# asserted by tests/test_enrich_filter.py::test_encrypt_golden_matches
# _independent_aes), pinned here as literals the DuckDB oracle checks.
ENCRYPT_KEY_HEX = "00112233445566778899aabbccddeeff"
ENCRYPT_GOLDEN = [
    (1, "alpha", "5F2084223F219A91F07BBB216BAA76AE"),
    (2, "conv-secret-0001",
     "BD1617794AEB1DCD1391E116F51544B80A9F4B25FFC89F4E7F85279F5E717D45"),
    # exact 16-byte plaintext → PKCS adds a full pad block
    (3, "0123456789abcdef",
     "AEBDD39B144089D5E31CACD35B7A113A3461D3366532DEC39DBA73E01B32B804"),
]


@query(
    oracle="SELECT * FROM (VALUES "
    + ", ".join(
        f"({i}::BIGINT, '{p}', '{ct}', '{p}')" for i, p, ct in ENCRYPT_GOLDEN
    )
    + ") AS t(id, plain, ct, rt)"
)
def q_encrypt_golden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_encrypt golden (the reference's unittest style):
    deterministic CBC/zero-IV ciphertext for fixed plaintexts, plus
    the decrypt roundtrip recovering the plaintext."""
    df = spark.createDataFrame(
        [(i, p) for i, p, _ in ENCRYPT_GOLDEN], ["id", "plain"]
    )
    enc = enrich.encrypt_fields(
        df.withColumn("ct", F.col("plain")), ["ct"], ENCRYPT_KEY_HEX
    )
    dec = enrich.decrypt_fields(
        enc.withColumn("rt", F.col("ct")), ["rt"], ENCRYPT_KEY_HEX
    )
    return dec.select("id", "plain", "ct", "rt")


# The docs example shape (docs/cn/plugins/processor/spl/
# processor-spl-native.md): parse-regexp an access-log line, derive
# fields with extend, filter, and project a stable column set.
_SPL_RX = r'^(\S+) - - \[([^\]]+)\] "(\w+) ([^"]*) (\S+)" (\d+) (\d+)'
_SPL_E2E_SCRIPT = f"""*
| parse-regexp text, '{_SPL_RX}' as ip, time_local, method, path, protocol, status, body_bytes
| where status = '500' or status = '404'
| extend body_kb = cast(body_bytes as double) / 1024.0, item_id = cast(regexp_extract(path, '/item/(\\d+)', 1) as bigint)
| extend sev = if(status = '500', 'error', 'redirect_or_miss')
| project conv_id, turn_idx, ip, method, path, status, body_kb, item_id, sev
"""


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    p AS (
      SELECT conv_id, turn_idx,
             regexp_extract(text, '{_SPL_RX}', 1) AS ip,
             regexp_extract(text, '{_SPL_RX}', 3) AS method,
             regexp_extract(text, '{_SPL_RX}', 4) AS path,
             regexp_extract(text, '{_SPL_RX}', 6) AS status,
             regexp_extract(text, '{_SPL_RX}', 7) AS body_bytes
      FROM transcripts
      WHERE regexp_matches(text, '{_SPL_RX}')
    )
    SELECT conv_id, turn_idx, ip, method, path, status,
           cast(body_bytes AS DOUBLE) / 1024.0 AS body_kb,
           cast(regexp_extract(path, '/item/(\\d+)', 1) AS BIGINT) AS item_id,
           CASE WHEN status = '500' THEN 'error'
                ELSE 'redirect_or_miss' END AS sev
    FROM p WHERE status = '500' OR status = '404'
""")
def q_spl_endtoend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL script end-to-end: parse-regexp → where → extend → project
    compiled to one Catalyst plan (spl.py; ProcessorSPL.cpp:69,122)."""
    from ..spl import compile_spl

    tx = load_transcripts(spark, sf_dir)
    return compile_spl(tx, _SPL_E2E_SCRIPT)


# Function-translation breadth over the kv dialect: parse-kv (str_to_map,
# keys via the known_keys static-schema fast path), string/number/datetime
# functions from the Presto dialect (spl.txt extend cases).
_SPL_FUNC_SCRIPT = """*
| where text like 'level=%'
| parse-kv -delims=' ' text
| extend svc_up = upper(svc), code_i = cast(code as integer)
| extend dur_ms = cast(regexp_extract(dur, '(\\d+)', 1) as bigint)
| extend day = date_format(ts, '%Y-%m-%d'), epoch = cast(to_unixtime(ts) as bigint)
| extend svc_id = split_part(svc, '-', 2)
| where code_i >= 500
| project conv_id, turn_idx, svc_up, code_i, dur_ms, day, epoch, svc_id
"""
_SPL_KV_KEYS = ["code", "dur", "level", "logNo", "svc"]


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    kv AS (
      SELECT conv_id, turn_idx, ts,
             regexp_extract(text, 'svc=(\\S+)', 1) AS svc,
             regexp_extract(text, 'code=(\\S+)', 1) AS code,
             regexp_extract(text, 'dur=(\\S+)', 1) AS dur
      FROM transcripts WHERE text LIKE 'level=%'
    )
    SELECT conv_id, turn_idx, upper(svc) AS svc_up,
           cast(code AS INTEGER) AS code_i,
           cast(regexp_extract(dur, '(\\d+)', 1) AS BIGINT) AS dur_ms,
           strftime(ts, '%Y-%m-%d') AS day,
           cast(floor(epoch(ts)) AS BIGINT) AS epoch,
           split_part(svc, '-', 2) AS svc_id
    FROM kv WHERE cast(code AS INTEGER) >= 500
""")
def q_spl_extend_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL Presto-dialect function surface (upper/cast/regexp_extract/
    date_format %-formats/to_unixtime/split_part) compiled via spl.py."""
    from ..spl import compile_spl

    tx = load_transcripts(spark, sf_dir)
    return compile_spl(tx, _SPL_FUNC_SCRIPT, known_keys={"text": _SPL_KV_KEYS})


# Multi-dataset .let form (SplUnittest.cpp TestMultiParse): two parse
# branches over one scan, emitted datasets union by name with missing
# columns null-filled. Key sets discovered via the bounded JVM inference
# path (json_object_keys / map_keys) — the dynamic-schema mode.
_SPL_MULTI_SCRIPT = """.let src = * | where mod(turn_idx, 2) = 0;
.let kvds = $src | where text like 'level=%' | parse-kv text
  | project conv_id, turn_idx, level, svc, code;
$kvds;
.let jsds = $src | where text like '{%' | parse-json text
  | project conv_id, turn_idx, level, msg, log_no = logNo;
$jsds;
"""


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    src AS (SELECT * FROM transcripts WHERE mod(turn_idx, 2) = 0),
    kv AS (
      SELECT conv_id, turn_idx,
             regexp_extract(text, 'level=(\\S+)', 1) AS level,
             regexp_extract(text, 'svc=(\\S+)', 1) AS svc,
             regexp_extract(text, 'code=(\\S+)', 1) AS code
      FROM src WHERE text LIKE 'level=%'
    ),
    js AS (
      SELECT conv_id, turn_idx,
             json_extract_string(text, '$.level') AS level,
             json_extract_string(text, '$.msg') AS msg,
             json_extract_string(text, '$.logNo') AS log_no
      FROM src WHERE text LIKE '{{%'
    )
    SELECT conv_id, turn_idx, coalesce(level, '') AS level,
           coalesce(svc, '') AS svc, coalesce(code, '') AS code,
           '' AS msg, '' AS log_no
    FROM kv
    UNION ALL
    SELECT conv_id, turn_idx, coalesce(level, '') AS level, '' AS svc,
           '' AS code, coalesce(msg, '') AS msg,
           coalesce(log_no, '') AS log_no
    FROM js
""")
def q_spl_multi_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL .let multi-dataset pipeline (SplUnittest.cpp:562-571):
    branch, parse per-branch, emit both; union-by-name output. The
    null-filled union columns are normalised to '' for the driver's
    value-hash compare (unit tests pin the raw NULL semantics)."""
    from ..spl import compile_spl

    tx = load_transcripts(spark, sf_dir)
    return compile_spl(tx, _SPL_MULTI_SCRIPT).na.fill("")


# stats instruction: the aggregate SPL form (public SLS SPL instruction
# set) — groupBy compiled from `by`, aggregates through the Presto
# dialect. One scan, map-side partial aggregation, shuffle on the keys.
_SPL_STATS_SCRIPT = """*
| where tool != 'none'
| stats count(*) as n_turns, sum(turn_idx) as sum_turn,
        avg(length(text)) as avg_chars, min(ts) as first_ts by role, tool
| sort by role, tool
"""


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT role, tool, count(*) AS n_turns,
           CAST(sum(turn_idx) AS BIGINT) AS sum_turn,
           avg(length(text)) AS avg_chars,
           min(ts) AS first_ts
    FROM transcripts WHERE tool != 'none'
    GROUP BY role, tool ORDER BY role, tool
""")
def q_spl_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL stats aggregation compiled via spl.py (one groupBy plan)."""
    from ..spl import compile_spl

    tx = load_transcripts(spark, sf_dir)
    return compile_spl(tx, _SPL_STATS_SCRIPT)
