"""Physical-plan shape assertions — the 100 TB design contract.

These tests pin the properties that make the pipeline scale:
* filters/column pruning reach the parquet scan (PushedFilters/ReadSchema)
* dictionary enrich is a literal-map lookup (no join, no exchange)
* routing + parsing is shuffle-free (narrow, whole-stage codegen)
* shard_repartition produces exactly one exchange, hash-partitioned
"""

import re

import pytest
from conftest import py4j_round_trips
from pyspark.sql import functions as F

from loongcollector_spark.operators import aggregate as agg, enrich, otel, parse, route as rt
from loongcollector_spark.operators import filter as flt
from loongcollector_spark.pipeline import Pipeline
from loongcollector_spark.queries import (
    NGINX_KEYS,
    NGINX_REGEX,
    ROLE_DIM,
    ROUTER_RULES,
    DEFAULT_SINK,
)


def plan_of(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.fixture(scope="module")
def raw(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/events.parquet")


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    df = (
        spark.read.parquet(f"{sf_dir}/events.parquet")
        .filter(F.col("event_type") == "error")
        .select("event_id", "ts")
    )
    plan = plan_of(df)
    assert "PushedFilters: [IsNotNull(event_type), EqualTo(event_type,error)]" in plan
    # column pruning: scan must read only the needed columns
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m and set(m.group(1).split(",")) <= {
        "event_id:bigint",
        "ts:timestamp_ntz",
        "event_type:string",
    }


def test_dict_map_is_an_in_plan_lookup(spark, raw):
    """The dictionary is a literal map in the fact side's projection:
    no join, and no exchange of either side."""
    df = raw.withColumnRenamed("event_type", "role")
    dim = spark.createDataFrame(ROLE_DIM, ["role", "role_class", "priority"])
    out = enrich.dict_map(df, dim, "role", "role_class")
    out.write.format("noop").mode("overwrite").save()
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "Exchange" not in plan, plan
    assert "element_at(map(keys: [user,assistant,system,tool]" in plan, plan


def test_parse_route_is_narrow(spark, sf_dir):
    """Scan → parse → route must be a single narrow stage: no Exchange
    (shuffle) anywhere — the property that lets 1000 executors chew
    100 TB without any cross-node traffic until the final aggregate."""

    tx = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "cast(event_id as string) as conv_id",
        "cast(event_id as int) as turn_idx",
        "event_type as role",
        "props as text",
        "'none' as tool",
        "ts",
    )
    parsed = parse.parse_regex(tx, "text", NGINX_REGEX, NGINX_KEYS)
    routed = rt.route(
        parsed, rt.RouterConfig("role", ROUTER_RULES, DEFAULT_SINK)
    )
    plan = plan_of(routed)
    assert "Exchange" not in plan
    assert "codegen id" in plan  # whole-stage codegen covers the chain


def test_route_counts_single_shuffle(spark, sf_dir):
    """groupBy(sink).count over parse+route: exactly ONE exchange (the
    aggregate's), with partial aggregation before it."""
    tx = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type as role", "props as text"
    )
    routed = rt.route(tx, rt.RouterConfig("role", ROUTER_RULES, DEFAULT_SINK))
    counts = routed.groupBy("sink").count()
    plan = plan_of(counts)
    assert plan.count("Exchange") - plan.count("AQEShuffleRead") <= 2  # fmt lists op + detail
    assert "HashAggregate" in plan
    # partial agg appears before the exchange (two HashAggregate nodes)
    assert plan.count("HashAggregate") >= 2


def test_shard_repartition_hash_partitioning(spark, raw):
    df = raw.selectExpr("cast(event_id as string) as conv_id", "ts")
    out = agg.shard_repartition(df, ["conv_id"], shard_count=16)
    plan = plan_of(out)
    assert "hashpartitioning(xxhash64" in plan and "Exchange" in plan


def test_route_simple_config_has_no_explode(spark, sf_dir):
    """Without copy sinks the router is a pure when-chain projection —
    no Generate/explode node, no per-row array allocation."""
    from loongcollector_spark.operators import route as rt
    from loongcollector_spark.queries import DEFAULT_SINK, ROUTER_RULES

    tx = spark.read.parquet(f"{sf_dir}/events.parquet")
    cfg = rt.RouterConfig("event_type", list(ROUTER_RULES), DEFAULT_SINK)
    plan = rt.route(tx, cfg)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" not in plan

    cfg2 = rt.RouterConfig(
        "event_type", list(ROUTER_RULES), DEFAULT_SINK,
        unconditional_sinks=["sink_audit"],
    )
    plan2 = rt.route(tx, cfg2)._jdf.queryExecution().executedPlan().toString()
    assert "Generate" in plan2  # copy semantics still use the explode


def test_desensitize_md5_native_stays_jvm_side(spark, raw):
    """md5-desensitize must contain NO Python eval node (it replaced
    the package's one per-row-Python path); the re.sub twin keeps its
    ArrowEvalPython."""
    from loongcollector_spark.operators.enrich import (
        _desensitize_md5_resub,
        desensitize,
    )

    nat = desensitize(raw, "props", r"\d+", method="md5")
    plan = nat._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan
    twin = _desensitize_md5_resub(raw, "props", r"\d+")
    plan2 = twin._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan2


def test_geoip_query_plan_is_broadcast(spark, sf_dir):
    """The geoip oracle query's range join must broadcast the geo dim
    (never shuffle the fact side at 100 TB)."""
    from loongcollector_spark.queries import QUERIES

    plan = (
        QUERIES["geoip"](spark, sf_dir)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bucketed_tables_join_without_exchange(spark, tmp_path, sf_dir):
    """Co-located join evidence: two tables bucketed on the same key
    join with NO Exchange on either side (each task reads matching
    bucket files) — the layout the 100 TB transcript⨝signature joins
    would use. The sort-merge join reads the bucketed layout directly;
    broadcast is disabled for the assertion so the shuffle-free claim
    is about bucketing, not broadcast."""
    from loongcollector_spark.sources.sinks import write_bucketed_table

    prev_wh = spark.conf.get("spark.sql.warehouse.dir", None)
    prev_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        write_bucketed_table(
            docs.select("doc_id", "lang"), "b_lhs", ["doc_id"], 4,
            sort_cols=["doc_id"],
        )
        write_bucketed_table(
            docs.select("doc_id", "n_chars"), "b_rhs", ["doc_id"], 4,
            sort_cols=["doc_id"],
        )
        joined = spark.table("b_lhs").join(spark.table("b_rhs"), "doc_id")
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan
        assert joined.count() == docs.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS b_lhs")
        spark.sql("DROP TABLE IF EXISTS b_rhs")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_thresh)


def test_session3_query_plan_pins(spark, sf_dir_med):
    """Scale pins for the session-3 additions: per-doc/per-conv ops
    never move data to one partition; the one-row report queries own
    exactly the single final-aggregate SinglePartition (tiny input —
    vocab table / one-row broadcast), nothing else."""
    from loongcollector_spark.queries import QUERIES

    def plan(name):
        return (
            QUERIES[name](spark, sf_dir_med)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )

    assert plan("conversation_latency").count("Exchange SinglePartition") == 0
    assert plan("exact_substring_dedup").count("Exchange SinglePartition") == 0
    assert plan("bigram_perplexity").count("Exchange SinglePartition") == 1
    assert plan("vocab_report").count("Exchange SinglePartition") == 1


def test_bm25_topk_plan_preprunes_before_global_window(spark, sf_dir):
    """bm25_topk's partition-less rank window must NOT sort the whole
    match set on one partition: LimitPushDownThroughWindow rewrites
    ``row_number() <= k`` into TakeOrderedAndProject(limit=k) BELOW the
    window (per-partition local top-k, k-row driver merge), so the
    window numbers only the k survivors (VERDICT r3 item 6)."""
    from loongcollector_spark.operators.retrieval import bm25_topk

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = (
        bm25_topk(docs, ["spark", "window", "hash"], k=5)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject(limit=5" in plan, plan
    # printed tree: parent first — the TakeOrdered must sit BELOW
    # (after) the Window, i.e. it feeds the window its pruned input
    assert plan.index("Window") < plan.index("TakeOrderedAndProject"), plan


def test_round4_batch34_plan_pins(spark):
    """Exchange-count pins for the round-4 session-3 transcript ops —
    the per-conversation window/agg family must share its conv_id
    exchange (one hash exchange total), self_repetition may spend two
    (the second re-shuffles the REDUCED (conv, fp) table — Spark's
    count-distinct rewrite plans the identical shape), and
    tool_transitions three (lag on conv, pair groupBy, normalizing
    window on the reduced matrix). No single-partition moves of row
    data anywhere."""
    from loongcollector_spark.operators.aggregate import (
        role_conformance,
        self_repetition,
        tool_transitions,
    )
    from loongcollector_spark.operators.assemble import render_chat
    from loongcollector_spark.operators.chunking import truncate_context

    tx = spark.createDataFrame(
        [("c", 0, "assistant", "t", "x")],
        "conv_id string, turn_idx long, role string, text string, tool string",
    )
    prev = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        def shape(df):
            p = df._jdf.queryExecution().executedPlan().toString()
            return (
                p.count("Exchange hashpartitioning"),
                p.count("Exchange SinglePartition"),
            )

        assert shape(role_conformance(tx)) == (1, 0)
        assert shape(truncate_context(tx, 10)) == (1, 0)
        assert shape(render_chat(tx)) == (1, 0)  # window+groupBy share
        assert shape(self_repetition(tx)) == (2, 0)
        assert shape(tool_transitions(tx)) == (3, 0)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev)


def _otel_pb(spark):
    """Two spans ("db", "http") wire-encoded as one TracesData row."""
    from loongcollector_spark.functions import protowire as w

    def span(name, span_id):
        body = (
            w.write_len_delimited(1, bytes(16))
            + w.write_len_delimited(2, span_id)
            + w.write_string_field(5, name)
        )
        return w.write_len_delimited(2, body)  # ScopeSpans.spans = 2

    spans = span("db", b"\x01" * 8) + span("http", b"\x02" * 8)
    payload = w.write_len_delimited(1, w.write_len_delimited(2, spans))
    return spark.createDataFrame([(1, bytearray(payload))], "rid int, payload binary")


_JSON_ROWS = [('{"level":"ERROR","m":"a"}',), ('{"level":"INFO","m":"b"}',), ("nope",)]
_GROK = ["n=%{NONNEGINT:n:int} w=%{WORD:w}"]
_GROK_ROWS = [("n=1 w=ab",), ("n=2 w=cd",), ("zz",)]

_PARSE_ONCE_CASES = {
    # (input rows or a function making the input, plan under test, rows out)
    "json_then_filter_regex": (
        _JSON_ROWS,
        lambda df: flt.filter_regex(
            parse.parse_json(df, "text", keys=["level"]), include={"level": "^ERROR$"}
        ),
        1,
    ),
    "json_discard_unmatched": (
        _JSON_ROWS,
        lambda df: parse.parse_json(df, "text", discard_unmatched=True),
        2,
    ),
    "grok_then_filter": (
        _GROK_ROWS,
        lambda df: parse.parse_grok(df, "text", _GROK).filter(F.col("w") == "ab"),
        1,
    ),
    "grok_discard_unmatched": (
        _GROK_ROWS,
        lambda df: parse.parse_grok(df, "text", _GROK, discard_unmatched=True),
        2,
    ),
    "md5_zero_width_then_filter": (
        _GROK_ROWS,
        lambda df: enrich.desensitize(df, "text", r"\d*", method="md5").filter(
            F.length("text") > 40
        ),
        3,
    ),
    "otel_protobuf_then_filter": (
        _otel_pb,
        lambda df: otel.parse_otel_trace(df, "payload", format="protobuf").filter(
            F.col("name") == "db"
        ),
        1,
    ),
}


@pytest.mark.parametrize("case", list(_PARSE_ONCE_CASES))
def test_python_parse_evaluates_once(spark, case):
    """A filter on a Python parse's output must not clone the UDF into
    the pushed-down predicate: one ArrowEvalPython per parse, so each
    task runs one Python runner (evaluate-once rule, operators/parse.py
    module docstring)."""
    rows, build, n = _PARSE_ONCE_CASES[case]
    df = rows(spark) if callable(rows) else spark.createDataFrame(rows, ["text"])
    out = build(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    assert out.count() == n


def test_source_filter_after_parse_json_keeps_rows(spark):
    """The evaluate-once trade-off: a filter on the source column after
    parse_json stays above the parse instead of moving beneath it, and
    selects the same rows as filtering first."""
    df = spark.createDataFrame(_JSON_ROWS, ["text"])
    after = parse.parse_json(df, "text", keys=["level"]).filter(
        F.col("text").contains("ERROR")
    )
    before = parse.parse_json(
        df.filter(F.col("text").contains("ERROR")), "text", keys=["level"]
    )
    plan = after._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1

    def rows(d):
        return sorted((r.text, r.level, sorted(r.parsed.items())) for r in d.collect())

    assert rows(after) == rows(before) == [
        ('{"level":"ERROR","m":"a"}', "ERROR", [("level", "ERROR"), ("m", "a")])
    ]


# -- plan build: py4j round-trips and the plan it builds ----------------------
# The two perfbench workload shapes, built here from the package alone:
# the nginx parse_regex -> dict_map -> router spine, and parse_json(keys) ->
# filter_regex -> stable_order -> router.

_ROUTER = {
    "source_key": "role",
    "rules": [{"regex": r.regex, "sink": r.sink} for r in ROUTER_RULES],
    "default_sink": DEFAULT_SINK,
}
_JSON_KEYS = ["level", "msg", "ctx_k", "logNo"]
_SPECS = {
    "spine": {
        "processors": [
            {"type": "parse_regex", "source_key": "text",
             "regex": NGINX_REGEX, "keys": NGINX_KEYS},
            {"type": "dict_map", "dim": "role_dim", "source_key": "role",
             "dest_key": "role_class", "handle_missing": True,
             "missing": "Unknown"},
        ],
        "router": _ROUTER,
    },
    "json": {
        "processors": [
            {"type": "parse_json", "source_key": "text",
             "expand_array": True, "keys": _JSON_KEYS},
            {"type": "filter_regex", "include": {"level": "^(ERROR|WARN)$"}},
            {"type": "stable_order"},
        ],
        "router": _ROUTER,
    },
}
_SPINE_ROWS = [
    ("c1", 0, "user",
     '1.2.3.4 - - [01/Jan/2024:00:00:00 +0000] "GET /a HTTP/1.1" 200 5 "-" '
     '"ag" logNo=0'),
    ("c1", 1, "assistant",
     '{"level":"ERROR","msg":"m","ctx":{"k":1,"arr":[2,3]},"logNo":1}'),
    ("c2", 0, "tool", "level=WARN svc=svc-1 code=200 dur=5ms logNo=0"),
    ("c2", 1, "alien", '{"level":"WARN","msg":"n","ctx":{"k":2,"arr":[]},"logNo":1}'),
]


@pytest.fixture(scope="module")
def build(spark):
    """Builds the plan of one of ``_SPECS`` over a small input."""
    df = spark.createDataFrame(
        _SPINE_ROWS, "conv_id string, turn_idx int, role string, text string"
    )
    dims = {"role_dim": spark.createDataFrame(ROLE_DIM, ["role", "role_class", "prio"])}
    return lambda name: Pipeline(_SPECS[name], dims).run(df)


@pytest.mark.parametrize("name, budget", [("spine", 410), ("json", 300)])
def test_plan_build_round_trip_budget(build, name, budget):
    """Building a spec's plan stays within its py4j round-trip budget:
    each processor adds its columns with one projection and builds its
    expressions cheaply (operators/parse.py's build rule). The
    withColumn-per-key build took 820 (spine) and 382 (json)."""
    with py4j_round_trips() as n:
        build(name)
    assert n[0] <= budget, n[0]


def _count(pattern: str, plan: str) -> int:
    return len(re.findall(pattern, plan, re.M))


def test_spine_plans_unchanged(build):
    """The one-projection build leaves the executed plan as the
    withColumn chain built it: the spine keeps 2 Projects (the
    dictionary lookup folds into the parse's outer projection; with the
    broadcast join there were 4) and 3 copies of the one regexp_replace
    (parts, the flag's sentinel test, the flag's size guard; codegen
    evaluates it once per row), the JSON spec 3 Projects around one
    flatten UDF in one ArrowEvalPython."""
    spine = build("spine")
    opt = spine._jdf.queryExecution().optimizedPlan().toString()
    assert _count(r"^[\s:|+-]*Project \[", opt) == 2, opt
    assert opt.count("regexp_replace(") == 3, opt
    assert spine.dtypes == [
        ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
        ("text", "string"), *[(k, "string") for k in NGINX_KEYS],
        ("role_class", "string"), ("sink", "string"),
    ]
    js = build("json")
    opt = js._jdf.queryExecution().optimizedPlan().toString()
    assert _count(r"^[\s:|+-]*Project \[", opt) == 3, opt
    executed = js._jdf.queryExecution().executedPlan().toString()
    assert executed.count("ArrowEvalPython") == 1, executed
    assert _count(r"flatten\(", executed) == 1, executed
    assert js.dtypes == [
        ("conv_id", "string"), ("turn_idx", "int"), ("role", "string"),
        ("text", "string"), ("parsed", "map<string,string>"),
        *[(k, "string") for k in _JSON_KEYS], ("seq", "int"), ("sink", "string"),
    ]
    rows = {(r.conv_id, r.turn_idx): (r.level, r.seq, r.sink) for r in js.collect()}
    assert rows == {("c1", 1): ("ERROR", 0, "sink_assistant"),
                    ("c2", 1): ("WARN", 0, "sink_default")}


def test_spine_parse_rlike_is_guarded(build):
    """The parse's match flag comes from its regexp_replace: the only
    RLIKE over the parsed text sits behind the short-circuiting test for
    a text that already starts with the \\x02 sentinel, so ordinary rows
    run the pattern once."""
    opt = build("spine")._jdf.queryExecution().optimizedPlan().toString()
    rlikes = _count(r"RLIKE\(text#", opt)
    guarded = _count(r"NOT StartsWith\((text#\d+), \x02\) OR RLIKE\(\1, ", opt)
    assert rlikes == guarded == 1, opt
