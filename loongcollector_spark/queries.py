"""Named queries with paired DuckDB oracles (the driver's correctness gate).

Each entry in :data:`QUERIES` is ``name -> fn(spark, sf_dir) -> DataFrame``;
:data:`ORACLES` holds the equivalent DuckDB SQL over the driver's
pre-registered views (``events``, ``documents``, ``embeddings``, ...).
Column names are aliased identically on both sides (the driver compares
by sorted column name + value hash). :data:`QUERIES` keeps registration
order; ``__spark_entry__.queries()`` derives the checking order from the
recorded correctness rounds.

The transcript pipeline queries all derive their input through the
canonical cross-engine transcripts CTE (sources/transcripts.py), so
both engines compute over byte-identical input rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from .functions.hashing import MD5_SQL, md5_long
from .operators import aggregate as agg
from .operators import enrich, filter as flt, parse, route as rt
from .sources.transcripts import load_transcripts, transcripts_sql

# ---------------------------------------------------------------- constants

NGINX_REGEX = (
    r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) (\S+)" (\d+) (\d+) '
    r'"([^"]*)" "([^"]*)" logNo=(\d+)'
)
NGINX_KEYS = [
    "ip",
    "time_local",
    "method",
    "path",
    "protocol",
    "status",
    "body_bytes",
    "referer",
    "agent",
    "log_no",
]
NGINX_ANCHORED = f"^{NGINX_REGEX}$"
_NK_LIST = "[" + ", ".join(f"'{k}'" for k in NGINX_KEYS) + "]"

ROLE_DIM = [
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "infra", 3),
    ("tool", "infra", 3),
]
TOOL_DIM = [
    ("search", "retrieval", True),
    ("code", "execution", True),
    ("browser", "retrieval", True),
    ("none", "na", False),
]

ROUTER_RULES = [
    rt.RouterRule("assistant", "sink_assistant"),
    rt.RouterRule("tool", "sink_tool"),
    rt.RouterRule("user|system", "sink_human"),
]
DEFAULT_SINK = "sink_default"

_TX = transcripts_sql("events")

# routing CASE used by oracle SQL — mirrors the anchored first-match chain
_ROUTE_CASE = """
    CASE WHEN regexp_matches(role, '^(?:assistant)$') THEN 'sink_assistant'
         WHEN regexp_matches(role, '^(?:tool)$') THEN 'sink_tool'
         WHEN regexp_matches(role, '^(?:user|system)$') THEN 'sink_human'
         ELSE 'sink_default' END
"""


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

# ---------------------------------------------------------------- helpers


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = load_transcripts(spark, sf_dir)
    cfg = rt.RouterConfig(
        source_key="role", rules=ROUTER_RULES, default_sink=DEFAULT_SINK
    )
    return rt.route(tx, cfg)


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


# ---------------------------------------------------------------- queries


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


def q_parse_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key=value dialect via JVM str_to_map (processor_split_key_value)."""
    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    out = parse.parse_keyvalue(tx, "text", keys=["level", "svc", "code", "dur"])
    return out.select("conv_id", "turn_idx", "level", "svc", "code", "dur")


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


def q_route_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sink routed-row counts — the north-star verification
    aggregate (aggregator_router + groupBy(sink).count)."""
    return agg.group_count(_routed(spark, sf_dir), ["sink"]).orderBy("sink")


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


def q_routed_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The strongest north-star check in one query: full routed content
    — every (conv_id, turn_idx, sink) with its byte-exact per-turn
    text under stable ordering."""
    return _routed(spark, sf_dir).select("conv_id", "turn_idx", "sink", "text")


def q_parse_props_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON flatten over a second table (events.props)."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = parse.parse_json(ev, "props")
    return out.select(
        "event_id", F.col("parsed")["k"].alias("k")
    )


def q_conv_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation turn counts (context-aggregator grouping)."""
    tx = load_transcripts(spark, sf_dir)
    return tx.groupBy("conv_id").agg(
        F.count("*").alias("n_turns"), F.max("turn_idx").alias("max_turn_idx")
    )


def q_enrich_dictmap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-plan dict lookup w/ missing handling (processor_dict_map)."""
    out = _enriched(spark, sf_dir)
    return out.groupBy("role", "role_class", "tool_family").agg(
        F.count("*").alias("cnt")
    )


def q_filter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Include/exclude regex filter (processor_filter_regex)."""
    tx = load_transcripts(spark, sf_dir)
    out = flt.filter_regex(
        tx, include={"text": r".*logNo=\d+.*", "role": "user|assistant"},
        exclude={"text": r".*ERROR.*"},
    )
    return out.select("conv_id", "turn_idx", "role")


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


def q_stable_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stable turn ordering + per-turn text (logNo order oracle,
    test/engine/verify/log_order.go:58-77): seq must equal turn_idx."""
    tx = load_transcripts(spark, sf_dir)
    out = agg.stable_order(tx)
    return out.select("conv_id", "turn_idx", "seq", "text")


def q_pack_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """__pack_id__ provenance batching (aggregator_base.go:139-147):
    16-row packs per conversation."""
    tx = load_transcripts(spark, sf_dir)
    out = agg.pack_groups(tx, ["conv_id"], "turn_idx", max_log_count=16)
    return out.groupBy("__pack_id__").agg(F.count("*").alias("cnt"))


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


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup winners on the documents table (hash-groupBy)."""
    from .operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_exact(docs)


def q_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide segment-level exact dedup (MassiveText-style
    paragraph dedup at 10-token chunk granularity): drop every segment
    already seen earlier in the corpus, reassemble survivors."""
    from .operators.dedup import segment_dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return segment_dedup(docs, tokens_per_segment=10)


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 document fingerprint over normalized text."""
    from .operators.text import fingerprint

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fingerprint(docs).select("doc_id", "fingerprint")


def q_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex) per document."""
    from .operators.text import token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return token_stats(docs).select(
        "doc_id", "n_chars_calc", "n_ws_tokens", "n_re_tokens"
    )


def q_quality_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-score integer signals per document."""
    from .operators.text import quality_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return quality_signals(docs).select("doc_id", "n_punct", "n_digits", "n_stopwords")


def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition quality filters (dup-line / dup-line-char
    / top-bigram-char / dup-trigram fractions) per document — the
    repetition family of training-data curation rules, value-checked
    against an exact DuckDB twin (doubles rounded to 9 dp both sides)."""
    from .operators.text import repetition_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = repetition_signals(docs, top_n=2, dup_n=3)
    return out.select(
        "doc_id",
        "n_lines",
        F.round("dup_line_frac", 9).alias("dup_line_frac"),
        F.round("dup_line_char_frac", 9).alias("dup_line_char_frac"),
        F.round("top_ngram_char_frac", 9).alias("top_ngram_char_frac"),
        F.round("dup_ngram_frac", 9).alias("dup_ngram_frac"),
    )


def q_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-3-style benchmark decontamination: docs with doc_id % 29
    == 0 play the held-out eval benchmark; every other document is
    flagged if it shares any word 4-gram with that benchmark (4 not 13
    because the fixture documents are ~30 tokens)."""
    from .operators.text import benchmark_contamination

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 29 == 0)
    scan = docs.filter(F.col("doc_id") % 29 != 0)
    return benchmark_contamination(scan, bench, n=4)


def q_lm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style unigram-LM perplexity quality score per document
    (model = the corpus's own unigram distribution), value-checked
    against an exact DuckDB twin (bits 9 dp, ppl 6 dp)."""
    from .operators.text import lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = lm_perplexity(docs)
    return out.select(
        "doc_id",
        "n_tokens",
        F.round("cross_entropy_bits", 9).alias("cross_entropy_bits"),
        F.round("ppl", 6).alias("ppl"),
    )


def q_mixture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mix report: per-source doc/token counts and corpus
    shares — the table sampling weights are chosen from."""
    from .operators.text import mixture_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = mixture_report(docs)
    return out.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round("doc_share", 9).alias("doc_share"),
        F.round("token_share", 9).alias("token_share"),
    )


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: attach each error event's most recent
    prior purchase by the same user (inclusive of equal timestamps),
    with -1 sentinels where no purchase precedes. Timestamps exported
    as exact integer microseconds so both engines compare longs."""
    from .operators.joins import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    errors = ev.filter(F.col("event_type") == "error").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", "ts"
    )
    out = asof_join(errors, purchases, on="ts", by=["user_id"], suffix="_p")
    l_us = F.unix_micros(F.col("ts").cast("timestamp"))
    r_us = F.unix_micros(F.col("ts_p").cast("timestamp"))
    return out.select(
        "user_id",
        "event_id",
        l_us.alias("ts_us"),
        F.coalesce("purchase_id_p", F.lit(-1)).alias("prev_purchase_id"),
        F.coalesce((l_us - r_us) / F.lit(1000000.0), F.lit(-1.0)).alias(
            "secs_since_purchase"
        ),
    )


def q_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-service latency rollup over the kv-dialect payloads
    (parse_keyvalue → exact p50/p90/p99/max of the ``dur=...ms``
    field) — the log-analytics aggregate a flusher-side dashboard
    computes. Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` share linear interpolation, so values match to
    the bit; rounded to 9 dp anyway."""
    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    kv = parse.parse_keyvalue(tx, "text", keys=["svc", "dur"])
    out = kv.withColumn(
        "dur_ms", F.regexp_replace("dur", "ms$", "").cast("long")
    )
    return out.groupBy("svc").agg(
        F.count("*").alias("n"),
        F.round(F.percentile("dur_ms", F.lit(0.5)), 9).alias("p50"),
        F.round(F.percentile("dur_ms", F.lit(0.9)), 9).alias("p90"),
        F.round(F.percentile("dur_ms", F.lit(0.99)), 9).alias("p99"),
        F.max("dur_ms").alias("max_ms"),
    )


def q_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII detection + redaction over transcript text (emails / intl
    phones / credit-card-ish numbers / IPv4s): per-turn match counts on
    the raw text and the deterministically redacted text. The patterns
    are restricted to the Java∩RE2 regex subset so the DuckDB twin is
    exact; transcripts carry live IPv4s (nginx payload), the other
    detector kinds are exercised by unit fixtures."""
    from .operators.text import pii_redact, pii_scan

    tx = load_transcripts(spark, sf_dir)
    out = pii_redact(pii_scan(tx), "text", dest="redacted")
    return out.select(
        "conv_id", "turn_idx", "n_cc", "n_phone", "n_email", "n_ipv4", "redacted"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-3 neighbors for 5 query vectors, ranked by an
    integer-scaled dot product (round(v*1000) per element) so the
    ranking is bit-identical across engines (float cosine ordering is
    engine-sensitive at knife-edge margins; the integer kernel is the
    oracle-checkable variant of similarity.brute_force_topk)."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    vecs = emb.select(F.col("vec_id"), iv.alias("iv"))
    q = vecs.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qv")
    )
    scored = vecs.join(F.broadcast(q), F.col("vec_id") != F.col("query_id")).select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.aggregate(
            F.zip_with(F.col("iv"), F.col("qv"), lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("dot"),
    )
    w = W.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def _neardup_planes(n_planes: int = 8, dim: int = 64) -> list[list[int]]:
    """Deterministic integer hyperplanes shared verbatim by the Spark
    query and the DuckDB oracle (integer arithmetic → exact sign
    agreement across engines; floats could flip a near-zero sign)."""
    import random

    rng = random.Random(20240817)
    return [[rng.randint(-2, 2) for _ in range(dim)] for _ in range(n_planes)]


def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-duplicate search, oracle-checkable integer
    kernel (same precedent as ann_topk): quantize to round(v*1000)
    longs, bucket by integer hyperplane signs (the LSH self-join shape
    of similarity.embedding_near_dups), exact cosine inside buckets,
    global top-50 pairs by similarity. All-pairs never materializes —
    only same-bucket pairs are scored.

    NOTE: this correctness-harness query deliberately uses interpreted
    ``aggregate``/``zip_with`` lambdas — the only formulation whose
    arithmetic is reproducible expression-for-expression in DuckDB —
    over the 500-row sf0.01 table. The production path is
    similarity.embedding_near_dups / brute_force_topk (flat-column /
    NumPy-batch kernels, NOTES.md HOF lesson)."""
    planes = _neardup_planes()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    vecs = emb.select(F.col("vec_id"), iv.alias("iv"))

    def dot_with(plane):
        arr = F.array(*[F.lit(w).cast("long") for w in plane])
        return F.aggregate(
            F.zip_with(F.col("iv"), arr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    bits = [F.when(dot_with(p) >= 0, "1").otherwise("0") for p in planes]
    s = vecs.withColumn("bucket", F.concat(*bits))
    a = s.select(F.col("vec_id").alias("a"), F.col("iv").alias("va"), "bucket")
    b = s.select(F.col("vec_id").alias("b"), F.col("iv").alias("vb"), "bucket")
    pair = a.join(b, "bucket").filter(F.col("a") < F.col("b"))

    def ldot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    cos = ldot(F.col("va"), F.col("vb")) / (
        F.sqrt(ldot(F.col("va"), F.col("va")))
        * F.sqrt(ldot(F.col("vb"), F.col("vb")))
    )
    scored = pair.select("a", "b", cos.alias("cos_sim"))
    w = W.orderBy(F.desc("cos_sim"), F.asc("a"), F.asc("b"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 50)
        .select("a", "b", "rank", "cos_sim")
    )


def _semdedup_centroids(k: int = 4, dim: int = 64) -> list[list[int]]:
    """Deterministic integer centroids shared verbatim by the Spark
    query and the DuckDB oracle — stands in for the trained k-means
    quantizer of similarity.semantic_dedup (MLlib training is not
    SQL-expressible; integer dots make cluster assignment exact in
    both engines)."""
    import random

    rng = random.Random(20260817)
    return [[rng.randint(-3, 3) for _ in range(dim)] for _ in range(k)]


# the sf0.01 embeddings' within-cluster cosine tops out at ~0.51
# (p99.9 ≈ 0.40), so 0.4 exercises the loser path with a real drop set
# while staying far from float knife-edges on most pairs (both engines
# compute identical IEEE doubles from identical integer inputs anyway)
_SEMDEDUP_THRESHOLD = 0.4


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup, oracle-checkable kernel: assign
    each quantized embedding (round(v*1000) longs) to its max-dot
    integer centroid (tie → smallest centroid index), then drop every
    vector with a lower-id same-cluster neighbor at integer-cosine ≥
    0.85. Survivors with their cluster ids are the output. Production
    path = similarity.semantic_dedup (trained MLlib quantizer, NumPy
    kernels); this query pins the per-cluster pair semantics.

    The integer arithmetic is what DuckDB reproduces value-for-value.
    The Spark side: cluster assignment stays NARROW — 4 interpreted
    integer dots per row inside the scan stage, no exchange (k·dim =
    256 lambda steps/row is cheap; at sf0.1 every extra shuffle stage
    costs more than this whole projection). The within-cluster
    pairwise stage is the PRODUCTION kernel shape — per-cluster exact
    int64 Gram matrix via Arrow applyInPandas — because pair count
    grows quadratically with cluster size (5.8 s at sf0.1's 5,000
    vectors under the old interpreted per-PAIR HOFs, the exact creep
    VERDICT r3 warned about). Long dots are order-independent and
    IEEE double sqrt/divide round identically in NumPy, the JVM and
    DuckDB, so all three formulations hash-match."""
    cents = _semdedup_centroids()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    vecs = emb.select(F.col("vec_id"), iv.alias("iv"))

    def ldot(x, y):
        return F.aggregate(
            F.zip_with(x, y, lambda u, v: u * v),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    # assignment: max integer dot, tie -> smallest centroid index
    cells = [
        F.struct(
            (-ldot(F.col("iv"), F.array(*[F.lit(w).cast("long") for w in c]))).alias(
                "nd"
            ),
            F.lit(i).alias("idx"),
        )
        for i, c in enumerate(cents)
    ]
    s = vecs.withColumn(
        "cluster", F.sort_array(F.array(*cells)).getItem(0)["idx"]
    )
    thr = _SEMDEDUP_THRESHOLD

    def per_cluster(pdf):
        import numpy as np
        import pandas as pd

        order = pdf["vec_id"].to_numpy().argsort()
        ids = pdf["vec_id"].to_numpy()[order]
        V = np.stack(pdf["iv"].to_numpy()[order]).astype(np.int64)
        G = V @ V.T  # exact: |components| <= ~1e3, dim 64 << 2^63
        n = np.sqrt(np.diag(G).astype(np.float64))
        with np.errstate(divide="ignore", invalid="ignore"):
            C = G / np.outer(n, n)  # NaN for zero vectors — fails the
            # >= below, like the NULL the SQL division produces
        _, jj = np.where(np.triu(C >= thr, k=1))  # j has a lower-id dup
        return pd.DataFrame({"vec_id": np.unique(ids[jj])})

    losers = s.groupBy("cluster").applyInPandas(per_cluster, "vec_id long")
    # the broadcast hint is load-bearing: AQE can't size the UDF
    # output so it plans a sort-merge anti-join that re-shuffles s
    # (measured 3x slower). Safe here because this query IS the
    # bounded oracle kernel — a corpus-sized run belongs to
    # similarity.semantic_dedup, whose anti-join is unhinted.
    return (
        s.join(F.broadcast(losers), "vec_id", "left_anti")
        .select("vec_id", "cluster")
    )


_LSH_TABLES = 4
_LSH_PER_TABLE = 3


def q_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN via hyperplane LSH, oracle-checkable integer kernel (the
    similarity.lsh_ann_topk SHAPE with the deterministic integer
    planes/quantization of q_embedding_neardup): 12 plane signs split
    into 4 table buckets; candidates share ≥1 bucket with a query;
    exact integer-dot re-rank, top-3. Bucketing (not all-pairs) is the
    scale path; the integer arithmetic makes candidates AND ranking
    reproducible expression-for-expression in DuckDB."""
    planes = _neardup_planes(n_planes=_LSH_TABLES * _LSH_PER_TABLE)
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    vecs = emb.select(F.col("vec_id"), iv.alias("iv"))

    def dot_with(plane):
        arr = F.array(*[F.lit(w).cast("long") for w in plane])
        return F.aggregate(
            F.zip_with(F.col("iv"), arr, lambda a, b: a * b),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    bits = [F.when(dot_with(p) >= 0, "1").otherwise("0") for p in planes]
    buckets = F.array(
        *[
            F.concat(*bits[t * _LSH_PER_TABLE : (t + 1) * _LSH_PER_TABLE])
            for t in range(_LSH_TABLES)
        ]
    )
    s = vecs.select("vec_id", "iv", F.posexplode(buckets).alias("t", "bucket"))
    q = s.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qv"), "t", "bucket"
    )
    cand = (
        s.join(F.broadcast(q), ["t", "bucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.aggregate(
                F.zip_with(F.col("iv"), F.col("qv"), lambda a, b: a * b),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("dot"),
        )
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = W.partitionBy("query_id").orderBy(F.desc("dot"), F.asc("neighbor_id"))
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "dot")
    )


def _ann_lsh_oracle_sql() -> str:
    planes = _neardup_planes(n_planes=_LSH_TABLES * _LSH_PER_TABLE)

    def bit(p):
        lst = "[" + ", ".join(str(x) for x in p) + "]"
        return (
            "CASE WHEN list_sum(list_transform(range(1, 65),"
            f" i -> iv[i] * ({lst})[i])) >= 0 THEN '1' ELSE '0' END"
        )

    tables = []
    for t in range(_LSH_TABLES):
        bs = " || ".join(
            bit(p) for p in planes[t * _LSH_PER_TABLE : (t + 1) * _LSH_PER_TABLE]
        )
        tables.append(
            f"SELECT vec_id, iv, {t} AS t, {bs} AS bucket FROM q"
        )
    union = "\n      UNION ALL ".join(tables)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(round(v * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    s AS (
      {union}
    ),
    cand AS (
      SELECT DISTINCT qs.vec_id AS query_id, vs.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, 65),
                  i -> vs.iv[i] * qs.iv[i])) AS BIGINT) AS dot
      FROM s vs JOIN (SELECT * FROM s WHERE vec_id < 5) qs
        ON vs.t = qs.t AND vs.bucket = qs.bucket
       AND vs.vec_id <> qs.vec_id
    )
    SELECT query_id, neighbor_id, rank, dot FROM (
      SELECT query_id, neighbor_id, dot,
             CAST(row_number() OVER (PARTITION BY query_id
                    ORDER BY dot DESC, neighbor_id ASC) AS INT) AS rank
      FROM cand
    ) WHERE rank <= 3
    """


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard verification kernel
    (dedup.ngram_jaccard_pairs) over a deterministic candidate set:
    consecutive doc-id pairs from the first 100 documents — the shape
    the LSH stages hand to the verifier, value-checkable end-to-end."""
    from .operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cand = (
        docs.filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b"))
        .filter(F.col("b") < 100)
    )
    out = ngram_jaccard_pairs(docs, cand, n=3)
    return out.select("a", "b", F.round("jaccard", 9).alias("jaccard"))


_OTEL_GOLDEN_PAYLOAD = (
    '{"resourceSpans":[{"resource":{"attributes":['
    '{"key":"service.name","value":{"stringValue":"svc"}},'
    '{"key":"env","value":{"stringValue":"prod"}}]},'
    '"scopeSpans":[{"scope":{"name":"lib","version":"2"},"spans":['
    '{"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"b7ad6b7169203331",'
    '"parentSpanId":"","name":"GET /api","kind":2,'
    '"startTimeUnixNano":"1704067200000000000",'
    '"endTimeUnixNano":"1704067200250000000",'
    '"attributes":[{"key":"http.status","value":{"intValue":"200"}}],'
    '"status":{"code":1,"message":""}},'
    '{"traceId":"0af7651916cd43dd8448eb211c80319c","spanId":"00f067aa0ba902b7",'
    '"parentSpanId":"b7ad6b7169203331","name":"db","kind":3,'
    '"startTimeUnixNano":"1704067200050000000",'
    '"endTimeUnixNano":"1704067200100000000",'
    '"status":{"code":2,"message":"timeout"}}]}]}]}'
)


def q_otel_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_otel_trace golden oracle (the reference's unittest
    style: fixed payload → hand-derived expected rows from
    otlp_trace_parser.go semantics). The payload is a literal, so both
    engines agree on the input byte-for-byte."""
    from .operators.otel import parse_otel_trace

    df = spark.createDataFrame([(1, _OTEL_GOLDEN_PAYLOAD)], ["rid", "payload"])
    out = parse_otel_trace(df, "payload")
    return out.select(
        "rid", "service", "resource", "traceID", "spanID", "parentSpanID",
        "kind", "name", "start", "duration", "attribute", "statusCode",
        "statusMessage",
    )


def q_minhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs on documents, oracle hash mode: the
    md5-derived permutation kernel is reproduced verbatim in DuckDB,
    so candidate pairs AND jaccard estimates value-match. The bench
    measures the identical plan with the production xxhash64 kernel."""
    from .operators.dedup import minhash_dedup_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return minhash_dedup_pairs(docs, threshold=0.5, hash_mode="md5")


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints, oracle hash mode (60-bit md5 kernel,
    DuckDB-reproducible). Bench measures the xxhash64/64-bit mode."""
    from .operators.dedup import simhash

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return simhash(docs, hash_mode="md5").select("doc_id", "simhash")


def q_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-marker language ID vs the table's lang column; the
    argmax-with-lexicographic-ties heuristic has an exact SQL twin."""
    from .operators.text import language_id

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return language_id(docs).select("doc_id", "lang", "lang_pred")


GROK_KV = (
    "level=%{LOGLEVEL:level} svc=%{NOTSPACE:svc} code=%{INT:code:int} "
    "dur=%{INT:dur:int}ms logNo=%{INT:log_no:int}"
)


def q_grok(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grok parse of the kv dialect (processor_grok): driver-compiled
    pattern graph → Arrow-batched first-match UDF, with :int type
    hints applied."""
    from .operators.parse import parse_grok

    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    out = parse_grok(tx, "text", [GROK_KV])
    return out.select("conv_id", "turn_idx", "level", "svc", "code", "dur", "log_no")


def _grok_oracle_sql() -> str:
    """Build the DuckDB oracle for q_grok from the SAME compiled grok
    pattern (named groups → positional; RE2 dialect-compatible)."""
    import re as _re

    from .functions.grok import compile_grok

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


def q_split_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-one-into-many (split_log_string → explode): token counts
    over documents (each doc splits into whitespace tokens)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    toks = docs.select(
        F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    return toks.groupBy("token").agg(F.count("*").alias("cnt"))


def q_anchor_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor substring extraction (processor_anchor) on the kv
    dialect: value between 'svc=' and the following space."""
    from .operators.parse import parse_anchor

    tx = load_transcripts(spark, sf_dir).filter(F.col("text").startswith("level="))
    out = parse_anchor(
        tx, "text", [{"start": "svc=", "stop": " ", "field": "svc"}]
    )
    return out.select("conv_id", "turn_idx", "svc")


def q_log_to_metric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log→metric unpivot (processor_log_to_sls_metric) over events."""
    from .operators.enrich import log_to_metric

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return log_to_metric(
        ev.withColumn("t", F.col("event_id")),
        "t",
        ["event_type", "user_id"],
        ["value"],
    )


def q_timestamp_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """strptime/gotime analog: format event time to a string and parse
    it back (processor_strptime / processor_parse_timestamp_native)."""
    from .operators.parse import parse_timestamp

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


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization of the events stream (30-min gap):
    per-session event counts."""
    from .operators.aggregate import sessionize

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize(ev, ["user_id"], "ts", gap_seconds=1800, tie_break_cols=["event_id"])
    return s.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.min("event_id").alias("first_event"),
    )


def q_apsara(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apsara fixed-layout parse: build apsara-formatted lines from
    events deterministically, parse them back, return the parts."""
    from .operators.parse import parse_apsara

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


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite training-data curation pipeline: fingerprint-dedup →
    quality gate → per-language corpus stats. One Catalyst plan:
    dedup winners via min-id-per-fingerprint (broadcastable winner set
    at corpus scale after dedup), token/quality gates as pushable
    predicates, final per-language aggregate."""
    from .operators.text import fingerprint, token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fp = fingerprint(docs)
    winners = fp.groupBy("fingerprint").agg(F.min("doc_id").alias("doc_id"))
    kept = fp.join(
        winners, ["fingerprint", "doc_id"], "left_semi"
    )
    stats = token_stats(kept)
    gated = stats.filter(F.col("n_ws_tokens") >= 5)
    return gated.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


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


def q_filter_key_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-NAME regex projection (processor_filter_key_regex): include
    then exclude, resolved into a static column prune at plan time."""
    tx = load_transcripts(spark, sf_dir)
    return flt.filter_key_regex(
        tx, include="^(conv_id|turn_idx|role|tool)$", exclude="^tool$"
    )


def q_split_log_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split_log_regex end-to-end: conversations merged into one blob
    (stable turn order), then re-split into events at lines matching
    ``^level=`` — continuation lines (nginx/JSON dialect turns) attach
    to the current event; leading non-matching lines form the first
    event. Codegen shape: posexplode → running-sum boundary window."""
    blobs = q_merge_transcript(spark, sf_dir)
    out = parse.split_log_regex(blobs, "doc", r"^level=", dest_key="event_text")
    return out.select("conv_id", "event_text")


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


def q_geoip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_geoip as a broadcast range join: client IPs from the
    nginx-dialect turns against a literal geo range table (the pruned
    GeoLite shape); DuckDB twin is the same BETWEEN join."""
    from .operators.geo import geoip_enrich

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


def q_cloud_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """processor_cloud_meta: platformmeta constant columns with key
    renaming (cloud_meta.go:60-96 mock-platform semantics)."""
    from .operators.geo import cloud_meta_tags

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


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup CLUSTERING: MinHash+LSH pairs → connected components
    (hash-min label propagation) → per-doc cluster + canonical flag.
    Oracle hash mode (md5 kernel) so the candidate pairs match DuckDB;
    the DuckDB twin computes components with a recursive CTE over the
    same pairs — a genuinely iterative Spark algorithm value-checked
    end-to-end."""
    from .operators.dedup import dedup_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dedup_components(docs, threshold=0.5, hash_mode="md5")


def _dedup_components_oracle_sql() -> str:
    pairs_sql = _minhash_oracle_sql()
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT a, b FROM ({pairs_sql})
    ),
    edges AS (
      SELECT a AS n, b AS m FROM pairs
      UNION
      SELECT b AS n, a AS m FROM pairs
    ),
    reach(n, m) AS (
      SELECT n, m FROM edges
      UNION
      SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n
    ),
    comp AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.m), d.doc_id)) AS component
      FROM documents d LEFT JOIN reach r ON r.n = d.doc_id
      GROUP BY d.doc_id
    )
    SELECT doc_id, component, doc_id = component AS is_canonical FROM comp
    """


def q_curation_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE curation pipeline, value-checked end-to-end:
    MinHash+LSH near-dup clustering → keep canonical docs → token
    quality gate (≥5 ws tokens) → deterministic 60% stratified sample
    per language → per-language corpus stats. Every stage shares its
    engine-portable kernel with an existing oracle (md5 minhash,
    recursive-CTE components, md5 sample threshold), so the composite
    has an exact DuckDB twin — this is jobs/run_curation.py as one
    Catalyst plan."""
    from .operators.dedup import dedup_components
    from .operators.text import stratified_sample, token_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    comp = dedup_components(docs, threshold=0.5, hash_mode="md5")
    canonical = comp.filter(F.col("is_canonical")).select("doc_id")
    kept = docs.join(canonical, "doc_id", "left_semi")
    gated = token_stats(kept).filter(F.col("n_ws_tokens") >= 5)
    sampled = stratified_sample(
        gated, "lang", {}, default_fraction=0.6, salt="cv2", hash_mode="md5"
    )
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_ws_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc_id"),
    )


def _curation_v2_oracle_sql() -> str:
    pairs_sql = _minhash_oracle_sql()
    thresh = MD5_SQL.format(x="concat(cast(doc_id AS STRING), 'cv2')")
    return f"""
    WITH RECURSIVE pairs AS (
      SELECT a, b FROM ({pairs_sql})
    ),
    edges AS (
      SELECT a AS n, b AS m FROM pairs
      UNION SELECT b AS n, a AS m FROM pairs
    ),
    reach(n, m) AS (
      SELECT n, m FROM edges
      UNION
      SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n
    ),
    comp AS (
      SELECT d.doc_id,
             least(d.doc_id, coalesce(min(r.m), d.doc_id)) AS component
      FROM documents d LEFT JOIN reach r ON r.n = d.doc_id
      GROUP BY d.doc_id
    ),
    kept AS (
      SELECT d.* FROM documents d
      JOIN comp c ON c.doc_id = d.doc_id AND c.component = d.doc_id
    ),
    gated AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
      FROM kept
    ),
    sampled AS (
      SELECT * FROM gated
      WHERE n >= 5 AND mod({thresh}, 1000000) < {int(0.6 * 1_000_000)}
    )
    SELECT lang, count(*) AS n_docs, cast(sum(n) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id
    FROM sampled GROUP BY lang
    """


SAMPLE_FRACTIONS = {"en": 0.5, "de": 0.25, "zh": 1.0}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-stratum sampling (training-mix reweighting):
    keep 50% en / 25% de / 100% zh / 10% everything else, decided by
    the md5 hash kernel so DuckDB reproduces the exact row set."""
    from .operators.text import stratified_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_sample(
        docs, "lang", SAMPLE_FRACTIONS, default_fraction=0.1,
        salt="r3", hash_mode="md5",
    )
    return out.select("doc_id", "lang")


def _stratified_sample_oracle_sql() -> str:
    hashed = MD5_SQL.format(x="concat(cast(doc_id AS STRING), 'r3')")
    cases = " ".join(
        f"WHEN lang = '{v}' THEN {int(f * 1_000_000)}"
        for v, f in sorted(SAMPLE_FRACTIONS.items())
    )
    return f"""
    SELECT doc_id, lang FROM documents
    WHERE mod({hashed}, 1000000) <
          CASE {cases} ELSE {int(0.1 * 1_000_000)} END
    """


_MOCK_N = 20000


def q_mock_generator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """metric_mock / input_mock parity (plugins/input/mock, SURVEY
    §2.1 row 2): the at-scale deterministic generator
    (sources/transcripts.generate_transcripts — spark.range, pure
    column expressions, parallelism-independent) value-matched row for
    row against a DuckDB twin over ``range(N)``. *sf_dir* is unused:
    the generator IS the source."""
    from .sources.transcripts import generate_transcripts

    out = generate_transcripts(spark, _MOCK_N)
    return out.select(
        "conv_id",
        "turn_idx",
        "role",
        "text",
        "tool",
        F.col("ts").cast("timestamp_ntz").alias("ts"),
    )


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


# ---------------------------------------------------------------- oracles

ORACLES: dict[str, str] = {
    "parse_nginx": f"""
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
    """,
    "parse_kv": f"""
        WITH transcripts AS ({_TX})
        SELECT conv_id, turn_idx,
               regexp_extract(text, 'level=(\\S+)', 1) AS level,
               regexp_extract(text, 'svc=(\\S+)', 1) AS svc,
               regexp_extract(text, 'code=(\\S+)', 1) AS code,
               regexp_extract(text, 'dur=(\\S+)', 1) AS dur
        FROM transcripts WHERE text LIKE 'level=%'
    """,
    "parse_json": f"""
        WITH transcripts AS ({_TX})
        SELECT conv_id, turn_idx,
               json_extract_string(text, '$.level') AS level,
               json_extract_string(text, '$.msg') AS msg,
               json_extract_string(text, '$.ctx.k') AS ctx_k,
               json_extract_string(text, '$.ctx.arr[0]') AS arr0,
               json_extract_string(text, '$.logNo') AS log_no
        FROM transcripts WHERE text LIKE '{{%'
    """,
    "route_counts": f"""
        WITH transcripts AS ({_TX})
        SELECT {_ROUTE_CASE} AS sink, count(*) AS cnt
        FROM transcripts GROUP BY 1 ORDER BY sink
    """,
    "routed_rows": f"""
        WITH transcripts AS ({_TX})
        SELECT conv_id, turn_idx, {_ROUTE_CASE} AS sink FROM transcripts
        UNION ALL
        SELECT conv_id, turn_idx, 'sink_audit' AS sink FROM transcripts
    """,
    "routed_text": f"""
        WITH transcripts AS ({_TX})
        SELECT conv_id, turn_idx, {_ROUTE_CASE} AS sink, text
        FROM transcripts
    """,
    "parse_props_json": """
        SELECT event_id, json_extract_string(props, '$.k') AS k
        FROM events
    """,
    "conv_stats": f"""
        WITH transcripts AS ({_TX})
        SELECT conv_id, count(*) AS n_turns, max(turn_idx) AS max_turn_idx
        FROM transcripts GROUP BY conv_id
    """,
    "enrich_dictmap": f"""
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
    """,
    "filter_regex": f"""
        WITH transcripts AS ({_TX})
        SELECT conv_id, turn_idx, role FROM transcripts
        WHERE regexp_matches(text, 'logNo=\\d+')
          AND regexp_matches(role, 'user|assistant')
          AND NOT regexp_matches(text, 'ERROR')
    """,
    "filter_expression_tree": f"""
        WITH transcripts AS ({_TX})
        SELECT conv_id, turn_idx, role, tool FROM transcripts
        WHERE (regexp_matches(role, '^assistant$')
               OR regexp_matches(tool, '^code$'))
          AND NOT regexp_matches(text, '^\\{{')
    """,
    "fields_with_condition": f"""
        WITH transcripts AS ({_TX})
        SELECT CASE WHEN role = 'assistant' THEN 'model'
                    WHEN role = 'user' OR role = 'system'
                         THEN 'human_or_infra' END AS speaker,
               count(*) AS cnt
        FROM transcripts GROUP BY 1
    """,
    "rate_limit": f"""
        WITH transcripts AS ({_TX}),
        ranked AS (
          SELECT role,
                 row_number() OVER (
                   PARTITION BY role, date_trunc('hour', ts)
                   ORDER BY ts, conv_id, turn_idx) AS rn
          FROM transcripts
        )
        SELECT role, count(*) AS cnt FROM ranked WHERE rn <= 3 GROUP BY role
    """,
    "stable_order": f"""
        WITH transcripts AS ({_TX})
        SELECT conv_id, turn_idx,
               cast(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx)
                    - 1 AS INT) AS seq,
               text
        FROM transcripts
    """,
    "pack_groups": f"""
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
    """,
    "enrich_pipeline_fanout": f"""
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
    """,
}

ORACLES["merge_transcript"] = f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, string_agg(text, chr(10) ORDER BY turn_idx) AS doc
    FROM transcripts GROUP BY conv_id
"""
ORACLES["dedup_exact"] = """
    SELECT min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents GROUP BY text
"""
ORACLES["segment_dedup"] = """
    WITH segs AS (
        SELECT doc_id,
               list_transform(
                   range(0, cast(ceil(len(string_split(coalesce(text, ''), ' ')) / 10.0) AS BIGINT)),
                   i -> array_to_string(
                       list_slice(string_split(coalesce(text, ''), ' '), i * 10 + 1, i * 10 + 10),
                       ' ')
               ) AS seg_arr,
               cast(ceil(len(string_split(coalesce(text, ''), ' ')) / 10.0) AS BIGINT) AS n_segments
        FROM documents
    ),
    ex AS (
        SELECT doc_id, n_segments,
               generate_subscripts(seg_arr, 1) - 1 AS seg_idx,
               unnest(seg_arr) AS seg
        FROM segs
    ),
    keep AS (
        SELECT doc_id, seg_idx, seg,
               row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
        FROM ex
    ),
    re AS (
        SELECT doc_id,
               string_agg(seg, ' ' ORDER BY seg_idx) AS text_dedup,
               count(*) AS n_kept
        FROM keep WHERE rn = 1 GROUP BY doc_id
    )
    SELECT s.doc_id,
           coalesce(r.text_dedup, '') AS text_dedup,
           s.n_segments,
           coalesce(r.n_kept, 0) AS n_kept
    FROM (SELECT DISTINCT doc_id, n_segments FROM segs) s
    LEFT JOIN re r USING (doc_id)
"""
# DuckDB twin of dedup._norm_text — shared by every fuzzy-text oracle
_NORM = (
    "trim(regexp_replace(regexp_replace(lower(text),"
    " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)

# NULL-coalescing twin of _NORM for operators that treat NULL text as
# empty (vocab_report, oov_rate) — keeps the oracles semantic twins on
# corpora that carry NULLs
_NORM_C = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),"
    " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)

ORACLES["contamination"] = f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
    ),
    g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(tk) >= 4
                    THEN [array_to_string(tk[i:i+3], ' ')
                          for i in generate_series(1, len(tk) - 3)]
                    ELSE [array_to_string(tk, ' ')] END) AS gr
      FROM norm
    ),
    bench AS (SELECT DISTINCT s FROM (
      SELECT unnest(gr) AS s FROM g WHERE doc_id % 29 = 0) WHERE s <> ''),
    docg AS (SELECT doc_id, unnest(gr) AS s FROM g WHERE doc_id % 29 != 0)
    SELECT d.doc_id,
           count(*) AS n_grams,
           CAST(sum(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_hit,
           CAST(max(CASE WHEN b.s IS NOT NULL THEN 1 ELSE 0 END) AS INTEGER)
               AS contaminated
    FROM docg d LEFT JOIN bench b ON d.s = b.s
    GROUP BY d.doc_id
"""
ORACLES["lm_perplexity"] = f"""
    WITH toks AS (
      SELECT doc_id, unnest(string_split({_NORM}, ' ')) AS tok
      FROM documents
    ),
    dc AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
    vocab AS (SELECT tok, CAST(sum(c) AS BIGINT) AS vc FROM dc GROUP BY 1),
    tot AS (SELECT CAST(sum(vc) AS BIGINT) AS total FROM vocab)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(-sum(c * log2(CAST(vc AS DOUBLE) / total)) / sum(c), 9)
               AS cross_entropy_bits,
           round(pow(2.0, -sum(c * log2(CAST(vc AS DOUBLE) / total)) / sum(c)), 6)
               AS ppl
    FROM dc JOIN vocab USING (tok) CROSS JOIN tot
    GROUP BY doc_id
"""
ORACLES["asof_join"] = """
    SELECT e.user_id, e.event_id,
           epoch_us(e.ts) AS ts_us,
           coalesce(p.event_id, -1) AS prev_purchase_id,
           coalesce((epoch_us(e.ts) - epoch_us(p.ts)) / 1000000.0, -1.0)
               AS secs_since_purchase
    FROM (SELECT * FROM events WHERE event_type = 'error') e
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
      ON e.user_id = p.user_id AND e.ts >= p.ts
"""
ORACLES["mixture_report"] = """
    WITH per AS (
      SELECT source, count(*) AS n_docs,
             CAST(sum(CASE WHEN len(trim(coalesce(text, ''))) = 0 THEN 0
                      ELSE len(string_split_regex(trim(coalesce(text, '')),
                                                  '\\s+')) END) AS BIGINT)
                 AS n_tokens
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(sum(n_docs) AS BIGINT) AS td,
             CAST(sum(n_tokens) AS BIGINT) AS tt
      FROM per
    )
    SELECT source, n_docs, n_tokens,
           round(CAST(n_docs AS DOUBLE) / td, 9) AS doc_share,
           round(CAST(n_tokens AS DOUBLE) / tt, 9) AS token_share
    FROM per CROSS JOIN tot
"""
ORACLES["fingerprint"] = """
    SELECT doc_id,
           md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS fingerprint
    FROM documents
"""
ORACLES["token_stats"] = """
    SELECT doc_id,
           cast(length(text) AS INT) AS n_chars_calc,
           cast(CASE WHEN length(trim(text)) = 0 THEN 0
                ELSE len(regexp_split_to_array(trim(text), '\\s+')) END
             AS INT) AS n_ws_tokens,
           cast(len(regexp_extract_all(text,
                '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS INT) AS n_re_tokens
    FROM documents
"""
ORACLES["quality_signals"] = """
    SELECT doc_id,
           cast(length(text)
                - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
             AS INT) AS n_punct,
           cast(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
             AS INT) AS n_digits,
           cast(len(list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
               t -> list_contains(['the','and','of','to','in','is','that',
                                   'with','a','an','it','on','for','as','are'],
                                  t)))
             AS INT) AS n_stopwords
    FROM documents
"""
ORACLES["ann_topk"] = """
    WITH iv AS (
      SELECT vec_id,
             list_transform(embedding,
                            v -> cast(round(v * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    q AS (SELECT vec_id AS query_id, iv AS qv FROM iv WHERE vec_id < 5),
    scored AS (
      SELECT q.query_id, v.vec_id AS neighbor_id,
             cast(list_sum(list_transform(list_zip(v.iv, q.qv),
                           p -> p[1] * p[2])) AS BIGINT) AS dot
      FROM iv v CROSS JOIN q WHERE v.vec_id <> q.query_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, dot,
             cast(row_number() OVER (PARTITION BY query_id
                    ORDER BY dot DESC, neighbor_id ASC) AS INT) AS rank
      FROM scored
    )
    SELECT query_id, neighbor_id, rank, dot FROM ranked WHERE rank <= 3
"""

ORACLES["enrich_chain"] = f"""
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
"""
ORACLES["filter_key_regex"] = f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx, role FROM transcripts
"""
ORACLES["split_log_regex"] = f"""
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
"""
ORACLES["parse_json_typed"] = f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.msg') AS msg,
           cast(json_extract(text, '$.ctx.k') AS BIGINT) AS ctx_k,
           cast(json_extract(text, '$.ctx.arr[0]') AS BIGINT) AS arr0,
           cast(json_extract(text, '$.logNo') AS BIGINT) AS log_no
    FROM transcripts WHERE text LIKE '{{%'
"""
_GEO_DIM_SQL = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"({s}, {e}, '{ci}', '{pr}', '{co}', '{cc}')"
        for s, e, ci, pr, co, cc in GEO_DIM
    )
    + ") AS geo(ip_start, ip_end, city, province, country, country_code)"
)
ORACLES["geoip"] = f"""
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
"""
ORACLES["cloud_meta"] = f"""
    SELECT event_id,
           '{CLOUD_META["__cloud_instance_id__"]}' AS "__cloud_instance_id__",
           '{CLOUD_META["__cloud_instance_name__"]}' AS instance_name,
           '{CLOUD_META["__cloud_instance_region__"]}'
             AS "__cloud_instance_region__",
           '{CLOUD_META["__cloud_instance_type__"]}'
             AS "__cloud_instance_type__"
    FROM events
"""
ORACLES["gotime"] = f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%g') AS ts_str,
           strftime(ts + INTERVAL 8 HOUR, '%Y/%m/%dT%H:%M:%S') AS bj_str,
           cast(epoch_ms(date_trunc('ms', ts)) AS STRING) AS epoch_ms
    FROM transcripts
"""
ORACLES["mock_generator"] = _mock_generator_oracle_sql()
ORACLES["encrypt_golden"] = (
    "SELECT * FROM (VALUES "
    + ", ".join(
        f"({i}::BIGINT, '{p}', '{ct}', '{p}')" for i, p, ct in ENCRYPT_GOLDEN
    )
    + ") AS t(id, plain, ct, rt)"
)

ORACLES["grok"] = _grok_oracle_sql()
ORACLES["curation_pipeline"] = """
    WITH fp AS (
      SELECT doc_id, lang, text,
             md5(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g')) AS f
      FROM documents
    ),
    winners AS (SELECT f, min(doc_id) AS doc_id FROM fp GROUP BY f),
    kept AS (
      SELECT fp.* FROM fp
      JOIN winners w ON fp.f = w.f AND fp.doc_id = w.doc_id
    ),
    stats AS (
      SELECT doc_id, lang,
             CASE WHEN length(trim(text)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(text), '\\s+')) END AS n
      FROM kept
    )
    SELECT lang, count(*) AS n_docs, cast(sum(n) AS BIGINT) AS total_tokens,
           min(doc_id) AS min_doc_id
    FROM stats WHERE n >= 5 GROUP BY lang
"""
ORACLES["sessionize"] = """
    WITH brk AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                    OR cast(epoch(ts) AS BIGINT)
                       - cast(epoch(lag(ts) OVER w) AS BIGINT) > 1800
                  THEN 1 ELSE 0 END AS b
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    sess AS (
      SELECT user_id, event_id,
             cast(sum(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) - 1 AS BIGINT)
               AS session_id
      FROM brk
    )
    SELECT user_id, session_id, count(*) AS n_events,
           min(event_id) AS first_event
    FROM sess GROUP BY user_id, session_id
"""
# round-trip identity: the parse must recover exactly what was packed
ORACLES["apsara"] = """
    SELECT event_id,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS apsara_time,
           upper(event_type) AS level,
           cast(user_id AS STRING) AS thread,
           'app.cpp:42' AS location,
           cast(event_id AS STRING) AS eid,
           props AS props_v
    FROM events
"""
ORACLES["split_explode"] = """
    SELECT token, count(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
    GROUP BY token
"""
ORACLES["anchor_extract"] = f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           regexp_extract(text, 'svc=(.*?) ', 1) AS svc
    FROM transcripts WHERE text LIKE 'level=%'
"""
ORACLES["log_to_metric"] = """
    SELECT event_id AS __time__,
           concat('event_type#$#', event_type, '|user_id#$#',
                  cast(user_id AS STRING)) AS __labels__,
           'value' AS metric_name,
           value AS metric_value
    FROM events
"""
ORACLES["timestamp_roundtrip"] = f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_str,
           strptime(strftime(ts, '%Y-%m-%d %H:%M:%S'),
                    '%Y-%m-%d %H:%M:%S') AS parsed_ts
    FROM transcripts
"""

def _mask_sql(x: str) -> str:
    """DuckDB twin of loganalytics.mask_log_line (shared by the
    log_templates / agent_loops / prefix_groups oracles)."""
    return (
        "trim(regexp_replace("
        "regexp_replace("
        "regexp_replace("
        "regexp_replace(" + x + ","
        " '\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b', '<IP>', 'g'),"
        " '\\b[0-9a-fA-F]{8,}\\b', '<HEX>', 'g'),"
        " '\\b\\d+(?:\\.\\d+)?', '<NUM>', 'g'),"
        " '\\s+', ' ', 'g'))"
    )


# DuckDB twin of operators.dedup._norm_text
def _minhash_oracle_sql(
    k: int = 5,
    num_perm: int = 64,
    bands: int = 16,
    threshold: float = 0.5,
    source_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    """DuckDB oracle reproducing minhash_dedup_pairs(hash_mode='md5')
    end-to-end: normalize → word k-shingles (list comprehension twin
    of the window-lead shingler) → 64 md5-permutation min-aggregates →
    16 band buckets (concatenated signature strings) → bucket
    self-join candidates → signature-agreement estimate ≥ threshold.
    *source_sql* must yield (doc_id, text) — conv_neardup passes the
    merged-conversation rendering."""
    rpb = num_perm // bands
    mins = ",\n      ".join(
        "min({h}) AS m{p}".format(h=MD5_SQL.format(x=f"s || ':{p}'"), p=p)
        for p in range(1, num_perm + 1)
    )
    band_sel = "\n      UNION ALL ".join(
        "SELECT doc_id, {b} AS band, concat_ws(',', {cols}) AS bucket FROM sigs".format(
            b=b,
            cols=", ".join(f"m{p}" for p in range(b * rpb + 1, (b + 1) * rpb + 1)),
        )
        for b in range(bands)
    )
    agree = " + ".join(
        f"(CASE WHEN sa.m{p} = sb.m{p} THEN 1 ELSE 0 END)"
        for p in range(1, num_perm + 1)
    )
    return f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM ({source_sql})
    ),
    sh AS (
      SELECT doc_id,
             CASE WHEN len(tk) >= {k}
                  THEN [array_to_string(tk[i:i+{k - 1}], ' ')
                        for i in generate_series(1, len(tk) - {k - 1})]
                  ELSE [array_to_string(tk, ' ')] END AS shs
      FROM norm
    ),
    srow AS (SELECT doc_id, unnest(shs) AS s FROM sh),
    sigs AS (
      SELECT doc_id,
      {mins}
      FROM srow GROUP BY doc_id
    ),
    buckets AS (
      {band_sel}
    ),
    cand AS (
      SELECT DISTINCT ba.doc_id AS a, bb.doc_id AS b
      FROM buckets ba JOIN buckets bb
        ON ba.band = bb.band AND ba.bucket = bb.bucket
       AND ba.doc_id < bb.doc_id
    )
    SELECT a, b, jaccard_est FROM (
      SELECT cand.a, cand.b, ({agree}) / {num_perm} AS jaccard_est
      FROM cand
      JOIN sigs sa ON sa.doc_id = cand.a
      JOIN sigs sb ON sb.doc_id = cand.b
    ) WHERE jaccard_est >= {threshold}
    """


def _simhash_oracle_sql(bits: int = 60) -> str:
    """DuckDB oracle reproducing simhash(hash_mode='md5'): distinct
    tokens → 60-bit md5 hash → per-bit majority vote (bits 60..63 of
    the 64-bit fingerprint vote 0 under the 60-bit kernel)."""
    cnts = ",\n      ".join(
        f"sum((h >> {b}) & 1) AS c{b}" for b in range(bits)
    )
    fp = " + ".join(
        f"(CASE WHEN c{b} * 2 > n THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    h = MD5_SQL.format(x="t")
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(list_distinct(string_split({_NORM}, ' '))) AS t
      FROM documents
    ),
    hashed AS (SELECT doc_id, {h} AS h FROM toks),
    cnts AS (
      SELECT doc_id, count(*) AS n,
      {cnts}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM cnts
    """


def _language_id_oracle_sql() -> str:
    """DuckDB oracle for language_id: marker-stopword hit counts per
    language, argmax with lexicographically-first tie-break (generated
    from the same _LANG_MARKERS table the operator uses)."""
    from .operators.text import _LANG_MARKERS

    langs = sorted(_LANG_MARKERS)
    scores = ",\n      ".join(
        "len(list_filter(toks, t -> list_contains([{m}], t))) AS s_{lang}".format(
            m=", ".join(f"'{w}'" for w in _LANG_MARKERS[lang]), lang=lang
        )
        for lang in langs
    )
    best = "greatest({})".format(", ".join(f"s_{lg}" for lg in langs))
    pick = " ".join(
        f"WHEN s_{lg} = best THEN '{lg}'" for lg in langs[:-1]
    )
    return f"""
    WITH t AS (
      SELECT doc_id, lang,
             string_split_regex(trim(lower(text)), '\\s+') AS toks
      FROM documents
    ),
    s AS (
      SELECT doc_id, lang,
      {scores}
      FROM t
    )
    SELECT doc_id, lang,
           CASE WHEN best <= 0 THEN 'unknown'
                {pick}
                ELSE '{langs[-1]}' END AS lang_pred
    FROM (SELECT *, {best} AS best FROM s)
    """


ORACLES["delimiter_expand"] = f"""
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
"""

def _embedding_neardup_oracle_sql() -> str:
    """DuckDB twin of q_embedding_neardup: identical integer planes,
    identical quantization, identical cosine expression shape."""
    planes = _neardup_planes()
    bit_exprs = []
    for p in planes:
        lst = "[" + ", ".join(str(w) for w in p) + "]"
        bit_exprs.append(
            "CASE WHEN list_sum(list_transform(range(1, 65),"
            f" i -> iv[i] * ({lst})[i])) >= 0 THEN '1' ELSE '0' END"
        )
    bucket = " || ".join(bit_exprs)
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(round(v * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    s AS (SELECT vec_id, iv, {bucket} AS bucket FROM q),
    pair AS (
      SELECT sa.vec_id AS a, sb.vec_id AS b, sa.iv AS va, sb.iv AS vb
      FROM s sa JOIN s sb ON sa.bucket = sb.bucket AND sa.vec_id < sb.vec_id
    ),
    scored AS (
      SELECT a, b,
        list_sum(list_transform(range(1, 65), i -> va[i] * vb[i])) /
        (sqrt(list_sum(list_transform(range(1, 65), i -> va[i] * va[i]))) *
         sqrt(list_sum(list_transform(range(1, 65), i -> vb[i] * vb[i]))))
        AS cos_sim
      FROM pair
    )
    SELECT a, b, rank, cos_sim FROM (
      SELECT a, b, cos_sim,
             CAST(row_number() OVER (ORDER BY cos_sim DESC, a, b) AS INT) AS rank
      FROM scored
    ) WHERE rank <= 50
    """


ORACLES["otel_spans"] = """
    SELECT * FROM (VALUES
      (1::BIGINT, 'svc', '{"env":"prod"}',
       '0af7651916cd43dd8448eb211c80319c', 'b7ad6b7169203331', '',
       'server', 'GET /api', '1704067200000000', '250000',
       '{"http.status":"200"}', 'OK', ''),
      (1::BIGINT, 'svc', '{"env":"prod"}',
       '0af7651916cd43dd8448eb211c80319c', '00f067aa0ba902b7',
       'b7ad6b7169203331', 'client', 'db', '1704067200050000', '50000',
       '{}', 'ERROR', 'timeout')
    ) AS t(rid, service, resource, "traceID", "spanID", "parentSpanID",
           kind, name, start, duration, attribute, "statusCode",
           "statusMessage")
"""

ORACLES["ngram_jaccard"] = f"""
    WITH norm AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
      WHERE doc_id < 100
    ),
    g AS (
      SELECT doc_id,
             list_distinct(
               CASE WHEN len(tk) >= 3
                    THEN [array_to_string(tk[i:i+2], ' ')
                          for i in generate_series(1, len(tk) - 2)]
                    ELSE [array_to_string(tk, ' ')] END) AS gr
      FROM norm
    )
    SELECT ga.doc_id AS a, gb.doc_id AS b,
           round(CAST(len(list_intersect(ga.gr, gb.gr)) AS DOUBLE) /
                 len(list_distinct(list_concat(ga.gr, gb.gr))), 9) AS jaccard
    FROM g ga JOIN g gb ON gb.doc_id = ga.doc_id + 1
"""

def _pii_scan_oracle_sql() -> str:
    """DuckDB twin of q_pii_scan, generated from the same PII_PATTERNS
    dict (single source of truth; patterns are Java∩RE2-safe and
    contain no quotes, so plain SQL-literal embedding is safe)."""
    from .operators.text import PII_PATTERNS

    counts = ",\n           ".join(
        f"len(regexp_extract_all(coalesce(text, ''), '{pat}')) AS n_{kind}"
        for kind, pat in PII_PATTERNS.items()
    )
    red = "text"
    for kind, pat in PII_PATTERNS.items():
        red = f"regexp_replace({red}, '{pat}', '<{kind.upper()}>', 'g')"
    return f"""
    WITH transcripts AS ({_TX})
    SELECT conv_id, turn_idx,
           {counts},
           {red} AS redacted
    FROM transcripts
    """


ORACLES["pii_scan"] = _pii_scan_oracle_sql()

ORACLES["latency_percentiles"] = f"""
    WITH transcripts AS ({_TX}),
    kv AS (
      SELECT regexp_extract(text, 'svc=([^ ]+)', 1) AS svc,
             CAST(regexp_replace(regexp_extract(text, 'dur=([^ ]+)', 1),
                                 'ms$', '') AS BIGINT) AS dur_ms
      FROM transcripts WHERE text LIKE 'level=%'
    )
    SELECT svc, count(*) AS n,
           round(quantile_cont(dur_ms, 0.5), 9) AS p50,
           round(quantile_cont(dur_ms, 0.9), 9) AS p90,
           round(quantile_cont(dur_ms, 0.99), 9) AS p99,
           max(dur_ms) AS max_ms
    FROM kv GROUP BY svc
"""

ORACLES["repetition_signals"] = f"""
    WITH d AS (SELECT doc_id, coalesce(text, '') AS text FROM documents),
    base AS (SELECT doc_id, len({_NORM}) AS nchars FROM d),
    lines AS (
      SELECT doc_id, unnest(string_split(text, chr(10))) AS line FROM d
    ),
    lc AS (SELECT doc_id, line, count(*) AS c FROM lines GROUP BY doc_id, line),
    lstats AS (
      SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_lines,
             CAST(sum(c - 1) AS DOUBLE) / sum(c) AS dup_line_frac,
             CASE WHEN sum(len(line) * c) > 0
                  THEN CAST(sum(len(line) * (c - 1)) AS DOUBLE)
                       / sum(len(line) * c)
                  ELSE 0.0 END AS dup_line_char_frac
      FROM lc GROUP BY doc_id
    ),
    norm AS (SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM d),
    g2 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 2
                    THEN [array_to_string(tk[i:i+1], ' ')
                          for i in generate_series(1, len(tk) - 1)]
                    ELSE [array_to_string(tk, ' ')] END) AS gram
      FROM norm
    ),
    g2c AS (SELECT doc_id, gram, count(*) AS c FROM g2 GROUP BY doc_id, gram),
    top AS (
      SELECT doc_id, c AS topc, len(gram) AS topl FROM (
        SELECT doc_id, gram, c,
               row_number() OVER (PARTITION BY doc_id
                                  ORDER BY c DESC, gram) AS rn
        FROM g2c) WHERE rn = 1
    ),
    g3 AS (
      SELECT doc_id,
             unnest(CASE WHEN len(tk) >= 3
                    THEN [array_to_string(tk[i:i+2], ' ')
                          for i in generate_series(1, len(tk) - 2)]
                    ELSE [array_to_string(tk, ' ')] END) AS gram
      FROM norm
    ),
    g3c AS (SELECT doc_id, gram, count(*) AS c FROM g3 GROUP BY doc_id, gram),
    dup AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c)
             AS dup_ngram_frac
      FROM g3c GROUP BY doc_id
    )
    SELECT b.doc_id, n_lines,
           round(dup_line_frac, 9) AS dup_line_frac,
           round(dup_line_char_frac, 9) AS dup_line_char_frac,
           CASE WHEN nchars > 0
                THEN round(CAST(topc * topl AS DOUBLE) / nchars, 9)
                ELSE 0.0 END AS top_ngram_char_frac,
           round(dup_ngram_frac, 9) AS dup_ngram_frac
    FROM base b
    JOIN lstats USING (doc_id) JOIN top USING (doc_id) JOIN dup USING (doc_id)
"""

def _semantic_dedup_oracle_sql() -> str:
    """DuckDB twin of q_semantic_dedup: identical integer centroids,
    quantization, max-dot assignment with smallest-index tie-break,
    and per-cluster loser rule."""
    cents = _semdedup_centroids()
    dot_exprs = []
    for i, c in enumerate(cents):
        lst = "[" + ", ".join(str(w) for w in c) + "]"
        dot_exprs.append(
            "list_sum(list_transform(range(1, 65),"
            f" i -> iv[i] * ({lst})[i])) AS d{i}"
        )
    best = "greatest(" + ", ".join(f"d{i}" for i in range(len(cents))) + ")"
    pick = " ".join(f"WHEN d{i} = best THEN {i}" for i in range(len(cents)))
    return f"""
    WITH q AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(round(v * 1000) AS BIGINT)) AS iv
      FROM embeddings
    ),
    d AS (SELECT vec_id, iv, {", ".join(dot_exprs)} FROM q),
    s AS (
      SELECT vec_id, iv, CASE {pick} END AS cluster
      FROM (SELECT *, {best} AS best FROM d)
    ),
    losers AS (
      SELECT DISTINCT sb.vec_id
      FROM s sa JOIN s sb
        ON sa.cluster = sb.cluster AND sa.vec_id < sb.vec_id
      WHERE list_sum(list_transform(range(1, 65), i -> sa.iv[i] * sb.iv[i])) /
            (sqrt(list_sum(list_transform(range(1, 65), i -> sa.iv[i] * sa.iv[i]))) *
             sqrt(list_sum(list_transform(range(1, 65), i -> sb.iv[i] * sb.iv[i]))))
            >= {_SEMDEDUP_THRESHOLD}
    )
    SELECT vec_id, cluster FROM s
    WHERE vec_id NOT IN (SELECT vec_id FROM losers)
    """


ORACLES["semantic_dedup"] = _semantic_dedup_oracle_sql()

ORACLES["embedding_neardup"] = _embedding_neardup_oracle_sql()
ORACLES["ann_lsh"] = _ann_lsh_oracle_sql()
ORACLES["minhash_dedup"] = _minhash_oracle_sql()
ORACLES["dedup_components"] = _dedup_components_oracle_sql()
ORACLES["stratified_sample"] = _stratified_sample_oracle_sql()
ORACLES["curation_v2"] = _curation_v2_oracle_sql()
ORACLES["simhash"] = _simhash_oracle_sql()
ORACLES["language_id"] = _language_id_oracle_sql()

QUERIES = {
    "parse_nginx": q_parse_nginx,
    "parse_kv": q_parse_kv,
    "parse_json": q_parse_json,
    "route_counts": q_route_counts,
    "routed_rows": q_routed_rows,
    "routed_text": q_routed_text,
    "parse_props_json": q_parse_props_json,
    "conv_stats": q_conv_stats,
    "enrich_dictmap": q_enrich_dictmap,
    "filter_regex": q_filter_regex,
    "filter_expression_tree": q_filter_expression_tree,
    "fields_with_condition": q_fields_with_condition,
    "rate_limit": q_rate_limit,
    "stable_order": q_stable_order,
    "pack_groups": q_pack_groups,
    "enrich_pipeline_fanout": q_enrich_pipeline_fanout,
    "merge_transcript": q_merge_transcript,
    "dedup_exact": q_dedup_exact,
    "segment_dedup": q_segment_dedup,
    "fingerprint": q_fingerprint,
    "token_stats": q_token_stats,
    "quality_signals": q_quality_signals,
    "repetition_signals": q_repetition_signals,
    "contamination": q_contamination,
    "lm_perplexity": q_lm_perplexity,
    "mixture_report": q_mixture_report,
    "asof_join": q_asof_join,
    "pii_scan": q_pii_scan,
    "semantic_dedup": q_semantic_dedup,
    "latency_percentiles": q_latency_percentiles,
    "ann_topk": q_ann_topk,
    "grok": q_grok,
    "sessionize": q_sessionize,
    "curation_pipeline": q_curation_pipeline,
    "apsara": q_apsara,
    "split_explode": q_split_explode,
    "anchor_extract": q_anchor_extract,
    "log_to_metric": q_log_to_metric,
    "delimiter_expand": q_delimiter_expand,
    "timestamp_roundtrip": q_timestamp_roundtrip,
    # fuzzy-dedup / text trio: oracle hash mode (md5 kernel) — full
    # value-hash checkable; bench measures the xxhash64 production mode
    "minhash_dedup": q_minhash_dedup,
    "simhash": q_simhash,
    "language_id": q_language_id,
    "embedding_neardup": q_embedding_neardup,
    "ngram_jaccard": q_ngram_jaccard,
    "otel_spans": q_otel_spans,
    # round-3 additions: every remaining SURVEY §2 scalar operator now
    # has a CORRECTNESS row (VERDICT r2 item 1)
    "enrich_chain": q_enrich_chain,
    "filter_key_regex": q_filter_key_regex,
    "split_log_regex": q_split_log_regex,
    "parse_json_typed": q_parse_json_typed,
    "geoip": q_geoip,
    "cloud_meta": q_cloud_meta,
    "gotime": q_gotime,
    "encrypt_golden": q_encrypt_golden,
    "mock_generator": q_mock_generator,
    "dedup_components": q_dedup_components,
    "stratified_sample": q_stratified_sample,
    "ann_lsh": q_ann_lsh,
    "curation_v2": q_curation_v2,
}


# ---------------------------------------------------------------- round-3
# continuation: retrieval / tokenizer-training / funnel additions


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 lexical retrieval: score every document matching ≥1 of the
    literal query terms (Lucene idf variant), value-checked against an
    exact DuckDB twin (score rounded 9 dp both sides)."""
    from .operators.retrieval import bm25_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bm25_score(docs, ["spark", "window", "hash"])
    return out.select(
        "doc_id", "n_terms_matched", F.round("score", 9).alias("score")
    )


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-training pair statistics: corpus-wide adjacent-token-pair
    counts (the per-round statistic of byte-pair-encoding tokenizer
    training), exact integer counts vs the DuckDB twin."""
    from .operators.text import bpe_pair_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_pair_stats(docs, min_count=2).select(
        F.col("left").alias("lhs"),
        F.col("right").alias("rhs"),
        "pair_count",
    )


def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict ordered funnel view → click → purchase per user over the
    events table; per-step user counts + conversion rates vs a DuckDB
    nested-window twin."""
    from .operators.aggregate import event_funnel

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = event_funnel(ev, ["view", "click", "purchase"])
    return out.select(
        "step_idx", "step", "n_users",
        F.round("conv_rate", 9).alias("conv_rate"),
    )


ORACLES["bm25"] = f"""
    WITH dl AS (
      SELECT doc_id, len(string_split({_NORM}, ' ')) AS dl FROM documents
    ),
    stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
    toks AS (
      SELECT doc_id, dl, unnest(tk) AS term
      FROM (SELECT doc_id, string_split({_NORM}, ' ') AS tk,
                   len(string_split({_NORM}, ' ')) AS dl
            FROM documents)
    ),
    m AS (
      SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      FROM toks WHERE term IN ('spark', 'window', 'hash')
      GROUP BY 1, 2
    ),
    tdf AS (SELECT term, count(*) AS df FROM m GROUP BY 1)
    SELECT m.doc_id,
           CAST(count(*) AS BIGINT) AS n_terms_matched,
           round(sum(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
                     * (tf * 2.2)
                     / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl))), 9)
               AS score
    FROM m JOIN tdf USING (term) CROSS JOIN stats
    GROUP BY m.doc_id
"""

ORACLES["bpe_pairs"] = f"""
    WITH t AS (SELECT string_split({_NORM}, ' ') AS tk FROM documents),
    p AS (
      SELECT unnest([{{'l': tk[i], 'r': tk[i + 1]}}
                     for i in generate_series(1, len(tk) - 1)]) AS s
      FROM t
    )
    SELECT s.l AS lhs, s.r AS rhs, count(*) AS pair_count
    FROM p GROUP BY 1, 2 HAVING count(*) >= 2
"""

ORACLES["event_funnel"] = """
    WITH s0 AS (
      SELECT user_id, ts, event_type,
             min(CASE WHEN event_type = 'view' THEN ts END)
                 OVER (PARTITION BY user_id) AS t0
      FROM events
    ),
    s1 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND ts > t0 THEN ts END)
                OVER (PARTITION BY user_id) AS t1
      FROM s0
    ),
    s2 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND ts > t1 THEN ts END)
                OVER (PARTITION BY user_id) AS t2
      FROM s1
    ),
    u AS (
      SELECT user_id, any_value(t0) AS t0, any_value(t1) AS t1,
             any_value(t2) AS t2
      FROM s2 GROUP BY user_id
    ),
    c AS (SELECT count(t0) AS n0, count(t1) AS n1, count(t2) AS n2 FROM u)
    SELECT 0 AS step_idx, 'view' AS step, n0 AS n_users, 1.0 AS conv_rate
    FROM c
    UNION ALL
    SELECT 1, 'click', n1,
           round(CASE WHEN n0 > 0 THEN CAST(n1 AS DOUBLE) / n0
                      ELSE 0.0 END, 9)
    FROM c
    UNION ALL
    SELECT 2, 'purchase', n2,
           round(CASE WHEN n1 > 0 THEN CAST(n2 AS DOUBLE) / n1
                      ELSE 0.0 END, 9)
    FROM c
"""

QUERIES["bm25"] = q_bm25
QUERIES["bpe_pairs"] = q_bpe_pairs
QUERIES["event_funnel"] = q_event_funnel


# Ordered BPE merge list trained ONCE on the sf0.01 documents corpus
# via operators.bpe.train_bpe(num_merges=24, max_words=50_000) —
# literal (like pq_ann's codebooks) so the DuckDB twin can replay the
# exact same merge fold; retraining live would learn different merges
# per scale factor and break cross-engine comparison.
_BPE_MERGES = [
    ("e", "r"), ("i", "n"), ("o", "w"), ("o", "r"), ("s", "t"),
    ("m", "er"), ("a", "t"), ("l", "u"), ("a", "r"), ("p", "ar"),
    ("j", "o"), ("jo", "in"), ("a", "s"), ("as", "h"), ("h", "ash"),
    ("r", "ow"), ("at", "c"), ("atc", "h"), ("b", "atch"), ("a", "n"),
    ("c", "an"), ("s", "can"), ("c", "o"), ("c", "u"),
]


def q_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document BPE tokenization (operators/bpe.py): apply the
    fixed 24-merge table to every normalized word and report word /
    char / post-merge token counts per document. The expr engine's
    merge fold is k literal ``replace`` calls on the ``||``-delimited
    word encoding — whole-stage codegen on Spark and replayed verbatim
    by the DuckDB twin, so token counts hash-match exactly."""
    from .operators.bpe import bpe_tokenize

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return bpe_tokenize(docs, _BPE_MERGES).select(
        "doc_id", "n_words", "n_chars", "n_tokens"
    )


def _bpe_fold_sql(col: str) -> str:
    expr = f"'||' || regexp_replace({col}, '(.)', '\\1||', 'g')"
    for a, b in _BPE_MERGES:
        expr = f"replace({expr}, '|{a}||{b}|', '|{a}{b}|')"
    return expr


ORACLES["bpe_tokenize"] = f"""
    WITH w AS (
      SELECT doc_id, unnest(string_split({_NORM_C}, ' ')) AS word
      FROM documents
    ),
    f AS (
      SELECT doc_id, word, {_bpe_fold_sql("word")} AS enc
      FROM w WHERE word <> ''
    )
    SELECT doc_id,
           count(*) AS n_words,
           CAST(sum(length(word)) AS BIGINT) AS n_chars,
           CAST(sum(length(enc) - length(replace(enc, '||', '|')) - 1)
                AS BIGINT) AS n_tokens
    FROM f GROUP BY doc_id
"""

QUERIES["bpe_tokenize"] = q_bpe_tokenize


def q_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engine-portable HyperLogLog distinct counts over the events
    table — high-cardinality column (event_id, raw-estimate branch)
    and low-cardinality column (user_id, linear-counting branch) —
    estimate AND exact count value-matched against the DuckDB twin
    computing bit-identical registers from the shared md5 kernel."""
    from .operators.sketch import hll_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    parts = []
    for col in ("event_id", "user_id"):
        est = hll_distinct(ev, col, p=10, hash_mode="md5")
        exact = ev.agg(F.countDistinct(col).alias("n_exact"))
        parts.append(
            est.crossJoin(exact).select(
                F.lit(col).alias("column_name"),
                F.round("n_est", 6).alias("n_est"),
                "n_registers_used",
                "n_exact",
            )
        )
    return parts[0].unionAll(parts[1])


def q_uniform_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic exactly-n uniform sample (n smallest md5-kernel
    hashes) of the documents table — same rows on every rerun and at
    every parallelism; row-for-row match vs the DuckDB twin."""
    from .operators.sketch import uniform_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return uniform_sample(docs, 20, salt="u1", hash_mode="md5").select(
        "doc_id", "lang", "n_chars"
    )


def _hll_oracle_sql() -> str:
    from .operators.sketch import hll_oracle_sql

    parts = []
    for col in ("event_id", "user_id"):
        inner = hll_oracle_sql("events", col, p=10)
        parts.append(f"""
        SELECT '{col}' AS column_name, round(n_est, 6) AS n_est,
               n_registers_used,
               (SELECT count(DISTINCT {col}) FROM events) AS n_exact
        FROM ({inner})
        """)
    return " UNION ALL ".join(parts)


ORACLES["hll_distinct"] = _hll_oracle_sql()

ORACLES["uniform_sample"] = f"""
    SELECT doc_id, lang, n_chars
    FROM documents
    ORDER BY {MD5_SQL.format(x="concat(cast(doc_id AS STRING), 'u1')")}, doc_id
    LIMIT 20
"""

QUERIES["hll_distinct"] = q_hll_distinct
QUERIES["uniform_sample"] = q_uniform_sample


def q_profile_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass per-column data-quality profile of the events table
    (row/null/exact-distinct counts, numeric/timestamp/string ranges),
    value-matched against a DuckDB twin computing the same statistics."""
    from .operators.profile import profile_table

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return profile_table(ev)


def _profile_oracle_sql() -> str:
    cols = [
        ("event_id", "bigint", "num"),
        ("ts", "timestamp_ntz", "ts"),
        ("user_id", "bigint", "num"),
        ("event_type", "string", "str"),
        ("value", "double", "num"),
        ("props", "string", "str"),
    ]
    parts = []
    for name, dtype, kind in cols:
        if kind == "num":
            mn = f"round(min(CAST({name} AS DOUBLE)), 9)"
            mx = f"round(max(CAST({name} AS DOUBLE)), 9)"
            ms = xs = "''"
        elif kind == "ts":
            mn = f"round(min(CAST(epoch_us({name}) AS DOUBLE)), 9)"
            mx = f"round(max(CAST(epoch_us({name}) AS DOUBLE)), 9)"
            ms = xs = "''"
        else:
            mn = mx = "0.0"
            ms = f"coalesce(min({name}), '')"
            xs = f"coalesce(max({name}), '')"
        parts.append(f"""
        SELECT '{name}' AS column_name, '{dtype}' AS dtype,
               count(*) AS n_rows,
               CAST(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_nulls,
               round(sum(CASE WHEN {name} IS NULL THEN 1 ELSE 0 END)
                     / CAST(count(*) AS DOUBLE), 9) AS null_frac,
               count(DISTINCT {name}) AS n_distinct,
               coalesce({mn}, 0.0) AS min_num, coalesce({mx}, 0.0) AS max_num,
               {ms} AS min_str, {xs} AS max_str
        FROM events
        """)
    return " UNION ALL ".join(parts)


ORACLES["profile_table"] = _profile_oracle_sql()
QUERIES["profile_table"] = q_profile_table


def q_log_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log template mining over the transcript corpus: mask variable
    fields (IP/hex/number), one row per distinct template with count +
    deterministic example line; exact string match vs the DuckDB twin
    running the same masking chain."""
    from .operators.loganalytics import log_templates
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return log_templates(tx, min_count=2)


def q_trailing_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window anomaly detection: z-score each event's value
    against the previous 100 same-type events (frame excludes self),
    return the rows with |z| > 3; windows value-matched against
    DuckDB's window engine (6 dp)."""
    from .operators.timeseries import trailing_zscore

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = trailing_zscore(ev, lookback_rows=100, min_history=20)
    return (
        out.withColumn("z_r", F.round("zscore", 6))
        .filter(F.abs(F.col("z_r")) > 3)
        .select(
            "event_id",
            "event_type",
            F.round("value", 6).alias("value_r"),
            F.round("trail_mean", 6).alias("trail_mean"),
            F.col("z_r").alias("zscore"),
        )
    )


def q_rolling_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user trailing 10-minute event counts (RANGE window over
    epoch seconds, peers included) — summarized per user as the max
    burst and final count to keep the oracle row set small."""
    from .operators.timeseries import rolling_count

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    out = rolling_count(ev, window_seconds=600)
    return out.groupBy("user_id").agg(
        F.max("rolling_n").alias("max_burst"),
        F.count("*").alias("n_events"),
    )


ORACLES["log_templates"] = f"""
    WITH transcripts AS ({_TX}),
    masked AS (
      SELECT {_mask_sql("text")} AS template,
             text AS raw
      FROM transcripts
    )
    SELECT template, count(*) AS n_logs, min(raw) AS example
    FROM masked GROUP BY template HAVING count(*) >= 2
"""

ORACLES["trailing_zscore"] = """
    WITH w AS (
      SELECT event_id, event_type, value,
             avg(value) OVER f AS m,
             stddev_samp(value) OVER f AS s,
             count(value) OVER f AS c
      FROM events
      WINDOW f AS (PARTITION BY event_type ORDER BY ts, event_id
                   ROWS BETWEEN 100 PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, event_type,
           round(value, 6) AS value_r,
           round(m, 6) AS trail_mean,
           round((value - m) / s, 6) AS zscore
    FROM w
    WHERE c >= 20 AND s > 0 AND abs(round((value - m) / s, 6)) > 3
"""

ORACLES["rolling_count"] = """
    WITH r AS (
      SELECT user_id,
             count(*) OVER (PARTITION BY user_id
                            ORDER BY (epoch_us(ts) // 1000000)
                            RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
               AS rolling_n
      FROM events
    )
    SELECT user_id, max(rolling_n) AS max_burst,
           count(*) AS n_events
    FROM r GROUP BY user_id
"""

QUERIES["log_templates"] = q_log_templates
QUERIES["trailing_zscore"] = q_trailing_zscore
QUERIES["rolling_count"] = q_rolling_count


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM sequence packing: concatenate the documents corpus in doc_id
    order with <eos> separators and chunk into 512-token training
    sequences; per-sequence token count, doc span, and md5 fingerprint
    of the packed tokens are value-matched token-for-token against the
    DuckDB twin (exact distributed prefix-sum, one data shuffle)."""
    from .operators.packing import pack_sequences

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return pack_sequences(docs, seq_len=512)


ORACLES["pack_sequences"] = r"""
    WITH d AS (
      SELECT doc_id,
             list_append(regexp_extract_all(coalesce(text, ''),
                 '[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]'), '<eos>') AS tk
      FROM documents
    ),
    o AS (
      SELECT doc_id, tk,
             coalesce(sum(len(tk)) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS g_start
      FROM d
    ),
    t AS (
      SELECT unnest([{'g_pos': g_start + i - 1, 'tok': tk[i],
                      'doc_id': doc_id}
                     for i in generate_series(1, len(tk))]) AS s
      FROM o
    )
    SELECT CAST(s.g_pos // 512 AS BIGINT) AS seq_id,
           CAST(count(*) AS INT) AS n_tokens,
           CAST(count(DISTINCT s.doc_id) AS INT) AS n_docs,
           min(s.doc_id) AS first_doc,
           md5(string_agg(s.tok, ' ' ORDER BY s.g_pos)) AS fp
    FROM t GROUP BY 1
"""

QUERIES["pack_sequences"] = q_pack_sequences


_PQ_M, _PQ_KSUB, _PQ_DSUB = 8, 8, 8  # 64-dim corpus → 8 subspaces of 8


def _pq_books() -> list[list[list[int]]]:
    """Deterministic integer PQ codebooks shared verbatim by the Spark
    query and the DuckDB oracle (same integer-kernel precedent as
    _neardup_planes: exact argmin/ADC agreement across engines)."""
    import random

    rng = random.Random(20260817)
    return [
        [[rng.randint(-1000, 1000) for _ in range(_PQ_DSUB)] for _ in range(_PQ_KSUB)]
        for _ in range(_PQ_M)
    ]


def q_pq_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN, oracle-checkable integer kernel (the
    similarity.pq_ann_topk SHAPE): quantize embeddings to
    round(v*1000) longs, encode each vector as 8 sub-space codebook
    indices (argmin of integer squared-L2 to 8 literal centroids per
    sub-space), then score query→corpus with ADC — the per-query
    distance is 8 lookup-table adds, never a 64-dim dot. Top-3 per
    query by exact integer ADC distance. All arithmetic is int64 →
    bit-equal in DuckDB; argmin ties resolve to the first index in
    both engines (array_position == list_position).

    Production path (trained float codebooks, Arrow-batched encode,
    exact cosine re-rank) is similarity.pq_ann_topk, recall-tested in
    tests/test_similarity_impls.py. Pure element_at arithmetic, no
    interpreted HOF lambdas."""
    books = _pq_books()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    iv = F.transform(F.col("embedding"), lambda v: F.round(v * 1000).cast("long"))
    v = emb.select(F.col("vec_id"), iv.alias("iv"))

    def dist(arr, j, centroid):
        e = None
        for i, c in enumerate(centroid):
            d = F.element_at(arr, j * _PQ_DSUB + i + 1) - F.lit(int(c))
            t = d * d
            e = t if e is None else e + t
        return e

    def darr(arr, j):
        return F.array(*[dist(arr, j, books[j][c]) for c in range(_PQ_KSUB)])

    enc = v.select(
        "vec_id",
        *[
            F.array_position(darr(F.col("iv"), j), F.array_min(darr(F.col("iv"), j)))
            .cast("int")
            .alias(f"code_{j}")
            for j in range(_PQ_M)
        ],
    )
    q = v.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("iv").alias("qv")
    )
    # ADC: the query's per-subspace LUT (8 integer dists) indexed by
    # the neighbor's stored code — 8 adds per pair
    pairs = enc.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("query_id"))
    d2 = None
    for j in range(_PQ_M):
        term = F.element_at(darr(F.col("qv"), j), F.col(f"code_{j}"))
        d2 = term if d2 is None else d2 + term
    scored = pairs.select(
        "query_id", F.col("vec_id").alias("neighbor_id"), d2.alias("d2")
    )
    w = W.partitionBy("query_id").orderBy(F.asc("d2"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("query_id", "neighbor_id", "rank", "d2")
    )


def _pq_oracle_sql() -> str:
    books = _pq_books()

    def dist_sql(arr, j, centroid):
        return " + ".join(
            f"({arr}[{j * _PQ_DSUB + i + 1}] - ({c}))"
            f" * ({arr}[{j * _PQ_DSUB + i + 1}] - ({c}))"
            for i, c in enumerate(centroid)
        )

    def darr_sql(arr, j):
        return "[" + ", ".join(dist_sql(arr, j, books[j][c]) for c in range(_PQ_KSUB)) + "]"

    codes = ",\n         ".join(
        f"list_position({darr_sql('iv', j)}, list_min({darr_sql('iv', j)})) AS code_{j}"
        for j in range(_PQ_M)
    )
    adc = " + ".join(f"({darr_sql('qv', j)})[code_{j}]" for j in range(_PQ_M))
    return f"""
    WITH v AS (
      SELECT vec_id,
             [CAST(round(x * 1000) AS BIGINT) for x in embedding] AS iv
      FROM embeddings
    ),
    enc AS (
      SELECT vec_id,
         {codes}
      FROM v
    ),
    q AS (SELECT vec_id AS query_id, iv AS qv FROM v WHERE vec_id < 5),
    s AS (
      SELECT query_id, vec_id AS neighbor_id, {adc} AS d2
      FROM enc, q WHERE vec_id != query_id
    )
    SELECT query_id, neighbor_id, rank, d2 FROM (
      SELECT *, CAST(row_number() OVER (
                  PARTITION BY query_id ORDER BY d2, neighbor_id) AS INT) AS rank
      FROM s)
    WHERE rank <= 3
    """


ORACLES["pq_ann"] = _pq_oracle_sql()
QUERIES["pq_ann"] = q_pq_ann


def q_exact_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021) over the documents corpus:
    every 15-token window occurring more than once is cut from all but
    its corpus-first occurrence; per doc the surviving normalized text
    (as md5 fingerprint) plus kept/removed token counts, value-matched
    against a full DuckDB twin (same window→first-occurrence→
    interval-merge→anti-join chain; its md5 window hash and the
    operator's xxhash64 are both only grouping keys)."""
    from .operators.dedup import remove_duplicate_spans

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = remove_duplicate_spans(docs, k=15)
    return out.select(
        "doc_id",
        F.md5("text_dedup").alias("fp"),
        "n_tokens",
        "n_kept",
        "n_removed",
    )


_WIN_HASH = MD5_SQL.format(x="array_to_string(tk[i:i+14], ' ')")

ORACLES["exact_substring_dedup"] = f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM}, ' ') AS tk FROM documents
    ),
    tok AS (
      SELECT doc_id,
             unnest([{{'pos': i - 1, 'tok': tk[i]}}
                     for i in generate_series(1, len(tk))]) AS s
      FROM t
    ),
    tokr AS (SELECT doc_id, s.pos AS pos, s.tok AS tok FROM tok),
    w AS (
      SELECT doc_id,
             unnest([{{'pos': i - 1,
                      'wh': {_WIN_HASH}}}
                     for i in generate_series(1, len(tk) - 14)]) AS s
      FROM t WHERE len(tk) >= 15
    ),
    wr AS (SELECT doc_id, s.pos AS pos, s.wh AS wh FROM w),
    dup AS (
      SELECT wh, min({{'doc_id': doc_id, 'pos': pos}}) AS fo
      FROM wr GROUP BY wh HAVING count(*) > 1
    ),
    rm AS (
      SELECT wr.doc_id, wr.pos AS s, wr.pos + 15 AS e
      FROM wr JOIN dup USING (wh)
      WHERE NOT (wr.doc_id = dup.fo.doc_id AND wr.pos = dup.fo.pos)
    ),
    flg AS (
      SELECT doc_id, s, e,
             CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                  THEN 1 ELSE 0 END AS f
      FROM rm
    ),
    grp AS (
      SELECT doc_id, s, e,
             sum(f) OVER (PARTITION BY doc_id ORDER BY s
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
      FROM flg
    ),
    spans AS (
      SELECT doc_id, min(s) AS ss, max(e) AS se FROM grp GROUP BY doc_id, g
    ),
    rmpos AS (
      SELECT doc_id, unnest(generate_series(ss, se - 1)) AS pos FROM spans
    ),
    kept AS (
      SELECT doc_id, count(*) AS n_kept,
             string_agg(tok, ' ' ORDER BY pos) AS text_dedup
      FROM tokr ANTI JOIN rmpos USING (doc_id, pos)
      GROUP BY doc_id
    ),
    tot AS (SELECT doc_id, count(*) AS n_tokens FROM tokr GROUP BY doc_id)
    SELECT tot.doc_id,
           md5(coalesce(kept.text_dedup, '')) AS fp,
           CAST(tot.n_tokens AS BIGINT) AS n_tokens,
           CAST(coalesce(kept.n_kept, 0) AS BIGINT) AS n_kept,
           CAST(tot.n_tokens - coalesce(kept.n_kept, 0) AS BIGINT) AS n_removed
    FROM tot LEFT JOIN kept USING (doc_id)
"""

QUERIES["exact_substring_dedup"] = q_exact_substring_dedup


# hand-set English-quality weights for the correctness query (a real
# deployment trains these via text.train_quality_classifier; literal
# weights keep the oracle a pure-arithmetic twin)
_QC_WEIGHTS = [0.3, 0.1, 1.5, 6.0, -8.0, -4.0]
_QC_BIAS = -2.0


def q_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-based quality filtering (CCNet/fastText-classifier style):
    sigmoid linear model over six surface features (log-length, mean
    word length, unique-token ratio, stopword ratio, punct ratio,
    digit ratio) — scoring is ONE codegen projection, no ML runtime.
    Scores (6 dp) + keep decisions value-matched against the DuckDB
    arithmetic twin. Training path: text.train_quality_classifier
    (MLlib LR), probability-parity pinned in tests."""
    from .operators.text import quality_classifier_score

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = quality_classifier_score(docs, _QC_WEIGHTS, _QC_BIAS, threshold=0.5)
    return out.select(
        "doc_id",
        F.round("quality_score", 6).alias("score_r"),
        F.col("quality_keep").alias("keep"),
    )


_QC_FEAT_SQL = """
      SELECT doc_id,
             ln(1 + length(text)) AS f1,
             CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE CAST(list_sum(list_transform(
                         regexp_split_to_array(trim(lower(text)), '\\s+'),
                         t -> length(t))) AS DOUBLE)
                       / len(regexp_split_to_array(trim(lower(text)), '\\s+'))
             END AS f2,
             CASE WHEN length(trim(text)) = 0 THEN 0.0
                  ELSE CAST(len(list_distinct(
                         regexp_split_to_array(trim(lower(text)), '\\s+')))
                       AS DOUBLE)
                       / len(regexp_split_to_array(trim(lower(text)), '\\s+'))
             END AS f3,
             CAST(len(list_filter(
                    regexp_split_to_array(trim(lower(text)), '\\s+'),
                    t -> list_contains(['the','and','of','to','in','is','that',
                                        'with','a','an','it','on','for','as',
                                        'are'], t))) AS DOUBLE)
               / (CASE WHEN length(trim(text)) = 0 THEN 1.0
                       ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
                  END) AS f4,
             CAST(length(text)
                  - length(regexp_replace(text, '[^\\w\\s]', '', 'g'))
               AS DOUBLE)
               / (CASE WHEN length(text) = 0 THEN 1.0
                       ELSE length(text) END) AS f5,
             CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))
               AS DOUBLE)
               / (CASE WHEN length(text) = 0 THEN 1.0
                       ELSE length(text) END) AS f6
      FROM documents
"""

ORACLES["quality_classifier"] = f"""
    WITH feat AS ({_QC_FEAT_SQL}),
    z AS (
      SELECT doc_id,
             ({_QC_BIAS}) + ({_QC_WEIGHTS[0]}) * f1 + ({_QC_WEIGHTS[1]}) * f2
               + ({_QC_WEIGHTS[2]}) * f3 + ({_QC_WEIGHTS[3]}) * f4
               + ({_QC_WEIGHTS[4]}) * f5 + ({_QC_WEIGHTS[5]}) * f6 AS z
      FROM feat
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-z)), 6) AS score_r,
           (1.0 / (1.0 + exp(-z))) >= 0.5 AS keep
    FROM z
"""

QUERIES["quality_classifier"] = q_quality_classifier


def q_cms_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch point queries over events.event_type: build a
    4×256 sketch (engine-portable seeded-md5 kernel), estimate every
    distinct event type plus one never-seen probe, and report the
    estimate beside the exact count — registers AND estimates are
    bit-identical in the DuckDB twin, and est ≥ exact by construction
    (the CMS guarantee, assertable from the output itself)."""
    from .operators.sketch import cms_build, cms_estimate

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    sk = cms_build(ev, "event_type", width=256, depth=4, hash_mode="md5")
    probes = (
        ev.select(
            F.coalesce(F.col("event_type").cast("string"), F.lit("")).alias(
                "event_type"
            )
        )
        .distinct()
        .unionAll(
            ev.sparkSession.createDataFrame(
                [("___never_seen___",)], "event_type string"
            )
        )
    )
    est = cms_estimate(sk, probes, "event_type", width=256, depth=4, hash_mode="md5")
    exact = ev.groupBy(
        F.coalesce(F.col("event_type").cast("string"), F.lit("")).alias("item")
    ).agg(F.count("*").alias("exact_cnt"))
    return est.join(exact, "item", "left").select(
        "item", "est", F.coalesce("exact_cnt", F.lit(0)).cast("long").alias("exact_cnt")
    )


ORACLES["cms_counts"] = f"""
    WITH src AS (SELECT coalesce(CAST(event_type AS VARCHAR), '') AS x FROM events),
    ds AS (SELECT unnest([0, 1, 2, 3]) AS d),
    cells AS (
      SELECT d,
             {MD5_SQL.format(x="x || '#' || d")} % 256 AS b,
             count(*) AS cnt
      FROM src, ds GROUP BY d, b
    ),
    probes AS (
      SELECT DISTINCT x AS item FROM src
      UNION ALL SELECT '___never_seen___'
    ),
    pb AS (
      SELECT item, d,
             {MD5_SQL.format(x="item || '#' || d")} % 256 AS b
      FROM probes, ds
    ),
    est AS (
      SELECT item, CAST(min(coalesce(cnt, 0)) AS BIGINT) AS est
      FROM pb LEFT JOIN cells USING (d, b) GROUP BY item
    ),
    exact AS (SELECT x AS item, count(*) AS c FROM src GROUP BY x)
    SELECT item, est, CAST(coalesce(c, 0) AS BIGINT) AS exact_cnt
    FROM est LEFT JOIN exact USING (item)
"""

QUERIES["cms_counts"] = q_cms_counts


def q_stratified_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n-per-stratum deterministic sample (eval-set builder):
    20 docs per language = the 20 smallest keyed hashes per stratum.
    WindowGroupLimit pushdown keeps per-map state at n rows per
    stratum (plan-pinned in tests); row set value-matched vs the
    DuckDB row_number twin."""
    from .operators.sketch import stratified_topn_sample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = stratified_topn_sample(docs, "lang", 20, salt="r3", hash_mode="md5")
    return out.select("doc_id", "lang")


ORACLES["stratified_topn"] = f"""
    SELECT doc_id, lang FROM (
      SELECT doc_id, lang,
             row_number() OVER (
               PARTITION BY lang
               ORDER BY {MD5_SQL.format(x="CAST(doc_id AS VARCHAR) || 'r3'")},
                        doc_id) AS rn
      FROM documents) t
    WHERE rn <= 20
"""

QUERIES["stratified_topn"] = q_stratified_topn


def q_corpus_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingestion snapshot diff: a deterministic 'v2' of the
    documents corpus (doc_id%7 removed, %5 text-amended, %11 re-added
    under shifted ids) diffed against v1 — per-id added/removed/
    changed/unchanged via a fingerprint full-outer join that shuffles
    (id, 8-byte hash), never text. Value-matched per id vs the DuckDB
    twin."""
    from .operators.delta import corpus_delta

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    new = docs.filter(F.col("doc_id") % 7 != 0).select(
        "doc_id",
        F.when(
            F.col("doc_id") % 5 == 0, F.concat(F.col("text"), F.lit(" v2"))
        )
        .otherwise(F.col("text"))
        .alias("text"),
    )
    added = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 100000).alias("doc_id"), "text"
    )
    return corpus_delta(docs, new.unionAll(added))


ORACLES["corpus_delta"] = f"""
    WITH o AS (
      SELECT doc_id, {MD5_SQL.format(x="coalesce(text, '')")} AS fp
      FROM documents
    ),
    nw AS (
      SELECT doc_id,
             {MD5_SQL.format(x="coalesce(CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END, '')")} AS fp
      FROM documents WHERE doc_id % 7 <> 0
      UNION ALL
      SELECT doc_id + 100000, {MD5_SQL.format(x="coalesce(text, '')")}
      FROM documents WHERE doc_id % 11 = 0
    ),
    j AS (
      SELECT coalesce(o.doc_id, nw.doc_id) AS doc_id,
             o.fp AS ofp, nw.fp AS nfp
      FROM o FULL OUTER JOIN nw ON o.doc_id = nw.doc_id
    )
    SELECT doc_id,
           CASE WHEN ofp IS NULL THEN 'added'
                WHEN nfp IS NULL THEN 'removed'
                WHEN ofp = nfp THEN 'unchanged'
                ELSE 'changed' END AS status
    FROM j
"""

QUERIES["corpus_delta"] = q_corpus_delta


def q_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM (add-1 smoothed) perplexity per document — the
    order-2 CCNet-style quality signal; per-doc cross-entropy bits
    (6 dp) value-matched against the DuckDB twin."""
    from .operators.text import bigram_lm_perplexity

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = bigram_lm_perplexity(docs, alpha=1.0)
    return out.select(
        "doc_id",
        "n_bigrams",
        F.round("cross_entropy_bits", 6).alias("ce_bits_r"),
    )


ORACLES["bigram_perplexity"] = f"""
    WITH t AS (
      SELECT doc_id, list_prepend('<s>', string_split({_NORM}, ' ')) AS tk
      FROM documents
    ),
    pr AS (
      SELECT doc_id,
             unnest([{{'w1': tk[i], 'w2': tk[i + 1]}}
                     for i in generate_series(1, len(tk) - 1)]) AS s
      FROM t
    ),
    db AS (
      SELECT doc_id, s.w1 AS w1, s.w2 AS w2, count(*) AS dc
      FROM pr GROUP BY 1, 2, 3
    ),
    mb AS (SELECT w1, w2, sum(dc) AS bc FROM db GROUP BY 1, 2),
    cx AS (SELECT w1, sum(bc) AS cc FROM mb GROUP BY 1),
    v AS (SELECT count(DISTINCT w2) AS vs FROM mb),
    sc AS (
      SELECT db.doc_id, db.dc, mb.bc, cx.cc, v.vs
      FROM db JOIN mb USING (w1, w2) JOIN cx USING (w1) CROSS JOIN v
    )
    SELECT doc_id,
           CAST(sum(dc) AS BIGINT) AS n_bigrams,
           round(-sum(dc * log2((bc + 1.0) / (cc + 1.0 * vs))) / sum(dc), 6)
             AS ce_bits_r
    FROM sc GROUP BY doc_id
"""

QUERIES["bigram_perplexity"] = q_bigram_perplexity


def q_conversation_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT training-example assembly from agent transcripts: each
    conversation rendered as 'role: text' lines and greedily cut into
    ≤120-token examples at turn boundaries (windowed block pre-split +
    Arrow-batched applyInPandas cut — the hot-conversation-safe shape,
    see operators/assemble.py). Example fingerprints, turn and token
    counts
    value-matched against a DuckDB recursive-CTE twin running the same
    greedy recurrence."""
    from .operators.assemble import conversation_examples
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    out = conversation_examples(tx, max_tokens=120)
    return out.select(
        "conv_id",
        "example_idx",
        "n_turns",
        "n_tokens",
        F.md5("example_text").alias("fp"),
    )


ORACLES["conversation_examples"] = f"""
    WITH RECURSIVE transcripts AS ({_TX}),
    t AS (
      SELECT conv_id, turn_idx,
             concat(role, ': ', text) AS line,
             CAST((CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) + 1
               AS BIGINT) AS n_tok,
             row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
      FROM transcripts
    ),
    rec AS (
      SELECT conv_id, rn, turn_idx, line, n_tok,
             0 AS chunk, n_tok AS run
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.conv_id, t.rn, t.turn_idx, t.line, t.n_tok,
             CASE WHEN rec.run + t.n_tok > 120 AND rec.run > 0
                  THEN rec.chunk + 1 ELSE rec.chunk END,
             CASE WHEN rec.run + t.n_tok > 120 AND rec.run > 0
                  THEN t.n_tok ELSE rec.run + t.n_tok END
      FROM rec JOIN t ON t.conv_id = rec.conv_id AND t.rn = rec.rn + 1
    )
    SELECT conv_id,
           CAST(chunk AS INT) AS example_idx,
           CAST(count(*) AS INT) AS n_turns,
           CAST(sum(n_tok) AS BIGINT) AS n_tokens,
           md5(string_agg(line, chr(10) ORDER BY turn_idx)) AS fp
    FROM rec GROUP BY 1, 2
"""

QUERIES["conversation_examples"] = q_conversation_examples


def q_url_hygiene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4/RefinedWeb-style URL hygiene: extract URLs + hostnames and
    apply a domain blocklist (suffix match at label boundaries). The
    corpus carries no URLs, so the query augments each document with
    deterministic doc_id-derived links (one per doc + a tracker URL on
    every third doc) — both engines build the same text, then run the
    same extraction/blocklist arithmetic. Per-doc URL count, distinct
    domains, and the blocked flag value-matched against DuckDB."""
    from .operators.text import domain_blocklist_filter, url_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.lit(" visit https://site"),
            (F.col("doc_id") % 7).cast("string"),
            F.lit(".example.com/p/"),
            F.col("doc_id").cast("string"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.lit(" see http://tracker.bad-ads.net/pix?u=1."),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    # ONE extraction pass: the blocked flag is the same label-boundary
    # expression domain_blocklist_filter uses, evaluated over the
    # already-extracted domains (the operator itself is covered by
    # tests/test_review_fixes3.py) — no second regex pass, no join
    stats = url_stats(aug)
    blocked = F.exists(
        F.col("domains"),
        lambda d: (d == F.lit("bad-ads.net"))
        | d.endswith(F.lit(".bad-ads.net")),
    )
    return stats.select(
        "doc_id",
        "n_urls",
        "n_domains",
        F.concat_ws(",", "domains").alias("domains_csv"),
        blocked.alias("blocked"),
    )


def _url_oracle_sql() -> str:
    from .operators.text import URL_REGEX

    pat = URL_REGEX.replace("'", "''")
    return f"""
    WITH aug AS (
      SELECT doc_id,
             coalesce(text, '') || ' visit https://site' || (doc_id % 7)
                  || '.example.com/p/' || doc_id
                  || CASE WHEN doc_id % 3 = 0
                          THEN ' see http://tracker.bad-ads.net/pix?u=1.'
                          ELSE '' END AS text
      FROM documents
    ),
    u AS (SELECT doc_id, regexp_extract_all(text, '{pat}') AS urls FROM aug),
    d AS (
      SELECT doc_id, len(urls) AS n_urls,
             list_sort(list_distinct(
               [regexp_replace(lower(regexp_extract(x,
                   'https?://([A-Za-z0-9.-]+)', 1)), '\\.+$', '')
                for x in urls])) AS domains
      FROM u
    )
    SELECT doc_id,
           CAST(n_urls AS INT) AS n_urls,
           CAST(len(domains) AS INT) AS n_domains,
           array_to_string(domains, ',') AS domains_csv,
           len([x for x in domains
                if x = 'bad-ads.net' OR suffix(x, '.bad-ads.net')]) > 0
             AS blocked
    FROM d
    """


ORACLES["url_hygiene"] = _url_oracle_sql()
QUERIES["url_hygiene"] = q_url_hygiene


def q_vocab_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary report (tokenizer-design pass): total token
    occurrences, vocab size, hapax count, Zipf-head (top-100) share —
    one aggregation + a 100-row TakeOrdered, value-matched against the
    DuckDB twin (head ties broken (count desc, token asc) in both)."""
    from .operators.text import vocab_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = vocab_report(docs, top_n=100)
    return out.select(
        "n_tokens",
        "vocab_size",
        "n_hapax",
        F.round("head_share", 9).alias("head_share_r"),
    )


ORACLES["vocab_report"] = f"""
    WITH t AS (
      SELECT unnest(string_split({_NORM_C}, ' ')) AS tok FROM documents
    ),
    v AS (SELECT tok, count(*) AS c FROM t GROUP BY tok),
    head AS (
      SELECT sum(c) AS hc FROM (
        SELECT c FROM v ORDER BY c DESC, tok ASC LIMIT 100)
    ),
    r AS (
      SELECT CAST(sum(c) AS BIGINT) AS n_tokens,
             CAST(count(*) AS BIGINT) AS vocab_size,
             CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
      FROM v
    )
    SELECT n_tokens, vocab_size, n_hapax,
           round(CAST(hc AS DOUBLE) / n_tokens, 9) AS head_share_r
    FROM r, head
"""

QUERIES["vocab_report"] = q_vocab_report


_OOV_VOCAB = [
    "the", "and", "of", "to", "in", "is", "that", "with",
    "a", "an", "it", "on", "for", "as", "are",
]


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against a literal function-
    word vocabulary (the content-word fraction signal); counts and
    9 dp fractions value-matched against the DuckDB list twin."""
    from .operators.text import oov_rate

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = oov_rate(docs, _OOV_VOCAB)
    return out.select(
        "doc_id", "n_tokens", "n_oov", F.round("oov_frac", 9).alias("oov_frac_r")
    )


ORACLES["oov_rate"] = f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_C}, ' ') AS tk,
             length({_NORM_C}) AS nl
      FROM documents
    ),
    c AS (
      SELECT doc_id,
             CASE WHEN nl = 0 THEN 0 ELSE len(tk) END AS n_tokens,
             CASE WHEN nl = 0 THEN 0 ELSE
               len(list_filter(tk, x -> NOT list_contains(
                 ['the','and','of','to','in','is','that','with',
                  'a','an','it','on','for','as','are'], x)))
             END AS n_oov
      FROM t
    )
    SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(n_oov AS BIGINT) AS n_oov,
           round(CASE WHEN n_tokens > 0
                      THEN CAST(n_oov AS DOUBLE) / n_tokens
                      ELSE 0.0 END, 9) AS oov_frac_r
    FROM c
"""

QUERIES["oov_rate"] = q_oov_rate


def q_conversation_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant response latency per conversation: lag window over
    (conv, turn_idx) finds responder turns following a different role;
    exact integer-microsecond deltas aggregated to count / exact p50 /
    max, value-matched against the DuckDB window+quantile_cont twin."""
    from .operators.aggregate import conversation_latency
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    out = conversation_latency(tx)
    return out.select(
        "conv_id",
        "n_responses",
        F.round("p50_delay_us", 6).alias("p50_delay_us_r"),
        "max_delay_us",
    )


ORACLES["conversation_latency"] = f"""
    WITH transcripts AS ({_TX}),
    l AS (
      SELECT conv_id, role, epoch_us(ts) AS us,
             lag(role) OVER w AS prev_role,
             lag(epoch_us(ts)) OVER w AS prev_us
      FROM transcripts
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    ),
    r AS (
      SELECT conv_id, us - prev_us AS delay
      FROM l
      WHERE role = 'assistant' AND prev_role IS NOT NULL
        AND prev_role <> 'assistant'
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_responses,
           round(quantile_cont(delay, 0.5), 6) AS p50_delay_us_r,
           CAST(max(delay) AS BIGINT) AS max_delay_us
    FROM r GROUP BY conv_id
"""

QUERIES["conversation_latency"] = q_conversation_latency


def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join (sessions×incidents primitive): ±5-minute
    windows around view and purchase events of the same user that
    overlap, via grid-bucketed equi-join + exact predicate (never a
    per-key cross product); the pair set value-matched against DuckDB's
    plain inequality join on exact integer microseconds."""
    from .operators.joins import interval_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    us = F.unix_micros(F.col("ts").cast("timestamp"))

    def win(typ):
        return ev.filter(F.col("event_type") == typ).select(
            "user_id",
            "event_id",
            us.alias("start_us"),
            (us + F.lit(300_000_000)).alias("end_us"),
        )

    out = interval_join(
        win("view"), win("purchase"), by=("user_id",), grid_us=300_000_000
    )
    return out.select(
        "user_id",
        F.col("event_id").alias("view_id"),
        F.col("event_id_right").alias("purchase_id"),
    )


ORACLES["interval_join"] = """
    WITH v AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 300000000 AS e
      FROM events WHERE event_type = 'view'
    ),
    p AS (
      SELECT user_id, event_id, epoch_us(ts) AS s,
             epoch_us(ts) + 300000000 AS e
      FROM events WHERE event_type = 'purchase'
    )
    SELECT v.user_id AS user_id, v.event_id AS view_id,
           p.event_id AS purchase_id
    FROM v JOIN p ON v.user_id = p.user_id
                 AND v.s <= p.e AND p.s <= v.e
"""

QUERIES["interval_join"] = q_interval_join


# ---------------------------------------------------------------- round-4
# wire-format round-trips (VERDICT r3 item 5): both pure-Python wire
# paths — the SLS protobuf LogGroup serializer and the OTLP protobuf
# decoder — driven over REAL routed rows and value-checked against
# DuckDB computing the same aggregates straight off the parquet, so a
# single mis-encoded varint or field tag breaks the hash match.


def q_sls_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SLS protobuf LogGroup wire round-trip over real routed rows
    (flusher_sls wire format, pkg/protocol/proto/sls_logs.proto:8-33):
    parse→route the transcripts, serialize each per-sink batch of rows
    to LogGroup wire bytes (sources/sls_pb.py), DECODE the bytes back,
    and aggregate the decoded contents per sink. Counts, summed text
    chars, summed epoch seconds and distinct-conversation counts must
    equal what DuckDB computes directly from the parquet — i.e. the
    encode→decode is lossless end to end.

    Bounded to a deterministic 1-in-8 conversation bucket (md5 kernel,
    same predicate on both engines): the pure-Python wire codec costs
    ~50 µs/row, and losslessness is volume-independent — full-volume
    serializer cost belongs to the flusher bench, not the oracle
    gate."""
    from .sources.sls_pb import decode_loggroup, serialize_sls_loggroups

    routed = (
        _routed(spark, sf_dir)
        .filter(md5_long(F.col("conv_id")) % 8 == 0)
        .select("sink", "conv_id", "turn_idx", "role", "text", "ts")
        # the wire codec is pure-Python: spread it across all cores
        # (the narrow parse→route chain is otherwise one task here)
        .repartition(spark.sparkContext.defaultParallelism, "conv_id")
    )
    groups = serialize_sls_loggroups(
        routed,
        time_key="ts",
        topic_key="sink",
        category="transcripts",
        max_log_count=256,
    )

    def decode(batches):
        import pandas as pd

        cols = ["sink", "time_sec", "conv_id", "turn_idx", "role", "text"]
        for pdf in batches:
            rows = []
            for blob in pdf["value"]:
                lg = decode_loggroup(bytes(blob))
                topic = lg.get("topic", "")
                for log in lg["logs"]:
                    c = dict(log["contents"])
                    rows.append(
                        (
                            topic,
                            log["time"],
                            c.get("conv_id", ""),
                            int(c["turn_idx"]),
                            c.get("role", ""),
                            c.get("text", ""),
                        )
                    )
            if rows:
                yield pd.DataFrame(rows, columns=cols)

    decoded = groups.mapInPandas(
        decode,
        schema=(
            "sink string, time_sec long, conv_id string, turn_idx long, "
            "role string, text string"
        ),
    )
    return decoded.groupBy("sink").agg(
        F.count("*").alias("n_rows"),
        F.sum(F.length("text")).alias("sum_text_chars"),
        F.sum("time_sec").alias("sum_time_sec"),
        F.countDistinct("conv_id").alias("n_convs"),
    )


ORACLES["sls_wire_roundtrip"] = f"""
    WITH transcripts AS ({_TX})
    SELECT {_ROUTE_CASE} AS sink,
           count(*) AS n_rows,
           CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_text_chars,
           -- mirror encode_log's uint32 clamp (sources/sls_pb.py): a
           -- pre-1970 or post-2106 ts floors to 0 / 2^32-1 on the wire
           CAST(sum(greatest(CAST(0 AS BIGINT),
                             least(CAST(floor(epoch(ts)) AS BIGINT),
                                   CAST(4294967295 AS BIGINT))))
                AS BIGINT) AS sum_time_sec,
           count(DISTINCT conv_id) AS n_convs
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY 1
"""

QUERIES["sls_wire_roundtrip"] = q_sls_wire_roundtrip


def q_otlp_wire_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OTLP protobuf wire decode over real data: every transcript turn
    is encoded as a serialized ``TracesData`` payload (public
    opentelemetry-proto field numbers, protowire writer) — resource
    attr service.name=role, span name=tool, ids from md5(conv_id[,
    turn_idx]), start=ts in UnixNano, duration (turn_idx+1) ms — then
    decoded through the FULL production path
    (functions/otlp_wire.py wire walk → OTLP/JSON →
    operators/otel.py parse_otel_trace) and aggregated per
    (service, span name). Span counts, distinct hex trace ids and
    exact microsecond duration/start stats must match DuckDB computing
    them straight from the source columns.

    Bounded to a deterministic 1-in-8 conversation bucket (md5
    kernel, same predicate on both engines) — see
    :func:`q_sls_wire_roundtrip` for the rationale."""
    from .functions import protowire as w
    from .operators.otel import parse_otel_trace

    tx = load_transcripts(spark, sf_dir).filter(
        md5_long(F.col("conv_id")) % 8 == 0
    ).repartition(  # pure-Python encode: spread across all cores
        spark.sparkContext.defaultParallelism, "conv_id"
    ).select(
        "conv_id",
        "turn_idx",
        "role",
        "tool",
        (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias(
            "start_ns"
        ),
    )

    def encode(batches):
        import hashlib

        import pandas as pd

        for pdf in batches:
            payloads = []
            for row in pdf.itertuples(index=False):
                trace_id = hashlib.md5(row.conv_id.encode()).digest()[:16]
                span_id = hashlib.md5(
                    f"{row.conv_id}#{row.turn_idx}".encode()
                ).digest()[:8]
                start = int(row.start_ns)
                end = start + (int(row.turn_idx) + 1) * 1_000_000
                span = (
                    w.write_len_delimited(1, trace_id)
                    + w.write_len_delimited(2, span_id)
                    + w.write_string_field(5, str(row.tool))
                    + w.write_varint_field(6, 2)  # kind: SERVER
                    + w.write_fixed64_field(7, start)
                    + w.write_fixed64_field(8, end)
                )
                kv = w.write_string_field(
                    1, "service.name"
                ) + w.write_len_delimited(
                    2, w.write_string_field(1, str(row.role))
                )
                resource = w.write_len_delimited(1, kv)
                scope = w.write_string_field(1, "loongcollector-spark")
                scope_spans = w.write_len_delimited(
                    1, scope
                ) + w.write_len_delimited(2, span)
                resource_spans = w.write_len_delimited(
                    1, resource
                ) + w.write_len_delimited(2, scope_spans)
                payloads.append(w.write_len_delimited(1, resource_spans))
            if payloads:
                yield pd.DataFrame({"payload": payloads})

    enc = tx.mapInPandas(encode, schema="payload binary")
    out = parse_otel_trace(enc, "payload", format="protobuf")
    return out.groupBy("service", F.col("name").alias("span_name")).agg(
        F.count("*").alias("n_spans"),
        F.countDistinct("traceID").alias("n_traces"),
        F.sum(F.col("duration").cast("long")).alias("sum_duration_us"),
        F.min(F.col("start").cast("long")).alias("min_start_us"),
        F.max(F.col("start").cast("long")).alias("max_start_us"),
    )


ORACLES["otlp_wire_spans"] = f"""
    WITH transcripts AS ({_TX})
    SELECT role AS service, tool AS span_name,
           count(*) AS n_spans,
           count(DISTINCT conv_id) AS n_traces,
           CAST(sum((turn_idx + 1) * 1000) AS BIGINT) AS sum_duration_us,
           CAST(min(epoch_us(ts)) AS BIGINT) AS min_start_us,
           CAST(max(epoch_us(ts)) AS BIGINT) AS max_start_us
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY 1, 2
"""

QUERIES["otlp_wire_spans"] = q_otlp_wire_spans


# ---------------------------------------------------------------- round-4
# session-2 additions: RAG chunking, DSIR importance resampling,
# temperature mixture sampling, n-gram novelty


def q_chunk_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG document chunking: fixed-size overlapping token windows
    (32-token chunks every 24 tokens) over the documents corpus —
    pure-codegen split→sequence→posexplode→slice, value-matched
    against a DuckDB generate_series twin."""
    from .operators.chunking import chunk_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return chunk_documents(docs, chunk_size=32, stride=24)


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance resampling (Xie et al. 2023): hashed
    unigram+bigram bag-of-words log-likelihood ratio of target
    (lang='en') vs raw documents, md5 oracle kernel over 512 buckets;
    weights rounded 6 dp (each is a sum of ≤512 double terms — 9 dp
    would sit inside cross-engine accumulation-order noise)."""
    from .operators.dsir import dsir_weights

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    w = dsir_weights(
        docs, F.col("lang") == "en", n_buckets=512, hash_mode="md5"
    )
    return w.select(
        "doc_id", "n_grams", F.round("log_weight", 6).alias("log_weight")
    )


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled mixture sampling (XLM-R/mC4 α=0.5 recipe):
    per-language boost rates + deterministic hash-sampled keep counts
    at an overall 0.5 target fraction, value-matched to a DuckDB twin
    running the same md5 kernel."""
    from .operators.text import temperature_mixture

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = temperature_mixture(
        docs,
        strata_col="lang",
        alpha=0.5,
        target_fraction=0.5,
        salt="t1",
        hash_mode="md5",
    )
    return out.select(
        "lang",
        "n_docs",
        F.round("raw_share", 9).alias("raw_share"),
        F.round("temp_share", 9).alias("temp_share"),
        F.round("sample_rate", 9).alias("sample_rate"),
        "n_kept",
    )


def q_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document trigram novelty: fraction of a doc's distinct
    3-grams whose corpus-wide first occurrence (min doc_id) is this
    doc; exact integer counts vs the DuckDB twin."""
    from .operators.text import ngram_novelty

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = ngram_novelty(docs, k=3)
    return out.select(
        "doc_id",
        "n_grams",
        "n_novel",
        F.round("novelty", 9).alias("novelty"),
    )


ORACLES["chunk_docs"] = f"""
    WITH t AS (
      SELECT doc_id, string_split({_NORM_C}, ' ') AS tk, {_NORM_C} AS nm
      FROM documents
    ),
    nn AS (SELECT doc_id, tk, len(tk) AS n FROM t WHERE len(nm) > 0),
    s AS (
      SELECT doc_id, tk, unnest(generate_series(1, n, 24)) AS st FROM nn
    )
    SELECT doc_id,
           CAST((st - 1) // 24 AS BIGINT) AS chunk_idx,
           CAST(len(tk[st:st + 31]) AS BIGINT) AS n_chunk_tokens,
           array_to_string(tk[st:st + 31], ' ') AS chunk_text
    FROM s
"""

ORACLES["dsir_weights"] = f"""
    WITH tk AS (
      SELECT doc_id, coalesce(lang = 'en', false) AS is_t,
             string_split({_NORM_C}, ' ') AS t, {_NORM_C} AS nm
      FROM documents
    ),
    ne AS (SELECT doc_id, is_t, t FROM tk WHERE len(nm) > 0),
    gr AS (
      SELECT doc_id, is_t,
             unnest(list_concat(t,
               CASE WHEN len(t) >= 2
                    THEN [t[i] || ' ' || t[i + 1]
                          for i in generate_series(1, len(t) - 1)]
                    ELSE [] END)) AS g
      FROM ne
    ),
    pb AS (
      SELECT doc_id, is_t, {MD5_SQL.format(x="g")} % 512 AS bk,
             count(*) AS c
      FROM gr GROUP BY 1, 2, 3
    ),
    model AS (
      SELECT bk,
             sum(CASE WHEN is_t THEN c ELSE 0 END) AS ct,
             sum(CASE WHEN NOT is_t THEN c ELSE 0 END) AS cr
      FROM pb GROUP BY 1
    ),
    tot AS (SELECT sum(ct) AS tt, sum(cr) AS tr FROM model),
    llr AS (
      SELECT bk, ln((ct + 1.0) / (tt + 512))
                 - ln((cr + 1.0) / (tr + 512)) AS l
      FROM model CROSS JOIN tot
    )
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
           round(sum(c * l), 6) AS log_weight
    FROM pb JOIN llr USING (bk)
    WHERE NOT is_t
    GROUP BY 1
"""

ORACLES["temperature_mixture"] = f"""
    WITH per AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY 1),
    tot AS (
      SELECT sum(n_docs) AS n, sum(pow(n_docs, 0.5)) AS z FROM per
    ),
    rates AS (
      SELECT lang, n_docs,
             n_docs / n AS raw_share,
             pow(n_docs, 0.5) / z AS temp_share,
             least(1.0,
                   (pow(n_docs, 0.5) / z) / (n_docs / n) * 0.5)
                 AS sample_rate
      FROM per CROSS JOIN tot
    ),
    kept AS (
      SELECT d.lang, count(*) AS n_kept
      FROM documents d JOIN rates r ON d.lang IS NOT DISTINCT FROM r.lang
      WHERE {MD5_SQL.format(x="concat(CAST(d.doc_id AS VARCHAR), 't1')")}
            % 1000000 < CAST(round(r.sample_rate * 1000000) AS BIGINT)
      GROUP BY 1
    )
    SELECT r.lang, CAST(r.n_docs AS BIGINT) AS n_docs,
           round(r.raw_share, 9) AS raw_share,
           round(r.temp_share, 9) AS temp_share,
           round(r.sample_rate, 9) AS sample_rate,
           CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept
    FROM rates r LEFT JOIN kept k ON r.lang IS NOT DISTINCT FROM k.lang
"""

ORACLES["ngram_novelty"] = f"""
    WITH tk AS (
      SELECT doc_id, string_split({_NORM_C}, ' ') AS t FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id, g FROM (
        SELECT doc_id,
               unnest([array_to_string(t[i:i + 2], ' ')
                       for i in generate_series(1, len(t) - 2)]) AS g
        FROM tk WHERE len(t) >= 3
      )
    ),
    pd AS (SELECT doc_id, count(*) AS n_grams FROM g GROUP BY 1),
    fi AS (SELECT g, min(doc_id) AS fd FROM g GROUP BY 1),
    nv AS (SELECT fd AS doc_id, count(*) AS n_novel FROM fi GROUP BY 1)
    SELECT pd.doc_id, CAST(pd.n_grams AS BIGINT) AS n_grams,
           CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
           round(coalesce(nv.n_novel, 0) * 1.0 / pd.n_grams, 9) AS novelty
    FROM pd LEFT JOIN nv USING (doc_id)
"""

QUERIES["chunk_docs"] = q_chunk_docs
QUERIES["dsir_weights"] = q_dsir_weights
QUERIES["temperature_mixture"] = q_temperature_mixture
QUERIES["ngram_novelty"] = q_ngram_novelty


def q_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher quality gate (Rae et al. 2021 §A1.1) at the paper's
    canonical thresholds except min_stopwords=1: the synthetic corpus
    vocabulary carries only one of the 8 Gopher stop words ('the'), so
    the canonical 2 would fail every document and the keep verdict
    would be an uninformative all-false hash. At 1 the verdict splits
    on the 50-word rule (corpus median is 56 words). Integer/boolean
    outputs so the value hash is exact."""
    from .operators.text import gopher_rules

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return gopher_rules(docs, min_stopwords=1)


def q_edit_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Levenshtein candidate-pair verification (the post-LSH exact
    check) over the same deterministic consecutive-id candidate set
    ngram_jaccard uses; similarity rounded 9 dp."""
    from .operators.dedup import edit_distance_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    cand = (
        docs.filter(F.col("doc_id") < 100)
        .select(F.col("doc_id").alias("a"), (F.col("doc_id") + 1).alias("b"))
        .filter(F.col("b") < 100)
    )
    out = edit_distance_pairs(docs, cand, max_chars=2000)
    return out.select(
        "a",
        "b",
        "edit_distance",
        F.round("edit_similarity", 9).alias("edit_similarity"),
    )


ORACLES["gopher_rules"] = """
    WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents),
    w AS (
      SELECT doc_id, t,
             CASE WHEN trim(t) = '' THEN []
                  ELSE regexp_split_to_array(trim(t), '\\s+') END AS ws,
             string_split(t, chr(10)) AS ls
      FROM base
    ),
    m AS (
      SELECT doc_id,
             len(ws) AS n_words,
             CASE WHEN len(ws) > 0
                  THEN list_sum(list_transform(ws, x -> len(x))) * 1.0
                       / len(ws)
                  ELSE 0.0 END AS mean_wl,
             CASE WHEN len(ws) > 0
                  THEN (len(t) - len(replace(t, '#', ''))
                        + len(t) - len(replace(t, chr(8230), ''))
                        + (len(t) - len(replace(t, '...', ''))) / 3.0)
                       / len(ws)
                  ELSE 0.0 END AS symbol_ratio,
             len(list_filter(ls, l ->
                 starts_with(ltrim(l), '- ')
                 OR starts_with(ltrim(l), '* ')
                 OR starts_with(ltrim(l), chr(8226)))) * 1.0
                 / len(ls) AS bullet_frac,
             len(list_filter(ls, l ->
                 suffix(rtrim(l), '...')
                 OR suffix(rtrim(l), chr(8230)))) * 1.0
                 / len(ls) AS ellipsis_frac,
             CASE WHEN len(ws) > 0
                  THEN len(list_filter(ws, x ->
                           regexp_matches(x, '[A-Za-z]'))) * 1.0 / len(ws)
                  ELSE 0.0 END AS alpha_frac,
             len(list_intersect(
                 list_distinct(list_transform(ws, x -> lower(x))),
                 ['the', 'be', 'to', 'of', 'and', 'that', 'have', 'with']
             )) AS n_stop
      FROM w
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           (n_words >= 50 AND n_words <= 100000) AS pass_words,
           (mean_wl >= 3.0 AND mean_wl <= 10.0) AS pass_word_len,
           (symbol_ratio <= 0.1) AS pass_symbol,
           (bullet_frac <= 0.9) AS pass_bullet,
           (ellipsis_frac <= 0.3) AS pass_ellipsis,
           (alpha_frac >= 0.8) AS pass_alpha,
           (n_stop >= 1) AS pass_stopwords,
           (n_words >= 50 AND n_words <= 100000
            AND mean_wl >= 3.0 AND mean_wl <= 10.0
            AND symbol_ratio <= 0.1
            AND bullet_frac <= 0.9
            AND ellipsis_frac <= 0.3
            AND alpha_frac >= 0.8
            AND n_stop >= 1) AS keep
    FROM m
"""

ORACLES["edit_distance"] = f"""
    WITH t AS (
      SELECT doc_id, substr({_NORM_C}, 1, 2000) AS nt FROM documents
    ),
    cand AS (
      SELECT doc_id AS a, doc_id + 1 AS b FROM documents
      WHERE doc_id < 99
    )
    SELECT cand.a, cand.b,
           CAST(levenshtein(ta.nt, tb.nt) AS BIGINT) AS edit_distance,
           round(1.0 - levenshtein(ta.nt, tb.nt)
                 / greatest(len(ta.nt), len(tb.nt), 1), 9)
               AS edit_similarity
    FROM cand
    JOIN t ta ON ta.doc_id = cand.a
    JOIN t tb ON tb.doc_id = cand.b
"""

QUERIES["gopher_rules"] = q_gopher_rules
QUERIES["edit_distance"] = q_edit_distance


def q_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 train/val/test assignment over documents
    (md5 oracle kernel). Row-level assignments, not counts, so the
    hash check pins every document's split."""
    from .operators.sketch import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, hash_mode="md5"
    ).select("doc_id", "split")


def q_score_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-weighted soft sampling at power=2 over an exact-sevenths
    score ((n_chars % 7) / 7): keep iff bucket < score² · precision.
    Sevenths keep every threshold ≥ 0.08 away from an integer, so a
    last-ulp pow() difference between JVM and DuckDB libm cannot flip
    a keep decision."""
    from .operators.sketch import score_sample

    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .withColumn("score", (F.col("n_chars") % 7) / F.lit(7.0))
    )
    return score_sample(docs, "score", power=2.0, hash_mode="md5").select(
        "doc_id", "score"
    )


# Deterministic multi-line synthesis shared by the two line-level
# queries: the documents fixture is single-line, so both engines build
# the same 6-line page (duplicate lines, a banned line, a short line,
# a no-terminal-punct line) from each document.
def _lined_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t = F.coalesce(F.col("text"), F.lit(""))
    return docs.select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.concat(t, F.lit(".")),
            F.concat(F.substring(t, 1, 40), F.lit("!")),
            F.concat(F.substring(t, 1, 40), F.lit("!")),
            F.lit("lorem ipsum menu."),
            F.lit("short."),
            t,
        ).alias("text"),
    )


_LINED_SQL = (
    "SELECT doc_id, coalesce(text, '') || '.' || chr(10)"
    " || substr(coalesce(text, ''), 1, 40) || '!' || chr(10)"
    " || substr(coalesce(text, ''), 1, 40) || '!' || chr(10)"
    " || 'lorem ipsum menu.' || chr(10)"
    " || 'short.' || chr(10)"
    " || coalesce(text, '') AS lt FROM documents"
)


def q_clean_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style line cleaning over the synthesized 6-line pages: keeps
    the terminal-punct ≥3-word lines (including the duplicate — clean
    does not dedup), drops the lorem-ipsum, short and punct-less
    lines."""
    from .operators.text import clean_lines

    return clean_lines(_lined_docs(spark, sf_dir))


def q_dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document duplicate-line removal over the synthesized
    pages (the repeated 40-char line collapses to one copy),
    first-occurrence order preserved via the engine-portable indexed
    HOF kernel."""
    from .operators.text import dedup_lines

    return dedup_lines(_lined_docs(spark, sf_dir))


# NULL ids hash as '' — sketch._sample_key coalesces before the concat
_MD5B = MD5_SQL.format(x="coalesce(CAST(doc_id AS VARCHAR), '')") + " % 1000000"

ORACLES["split_assign"] = f"""
    SELECT doc_id,
           CASE WHEN {_MD5B} < 100000 THEN 'test'
                WHEN {_MD5B} < 900000 THEN 'train'
                ELSE 'val' END AS split
    FROM documents
"""

# score_sample's own domain salt ('score' — distinct from
# split_assign's '' axis so composed sampling draws independent
# hashes; sketch._sample_key)
_MD5B_SCORE = (
    MD5_SQL.format(x="coalesce(CAST(doc_id AS VARCHAR), '') || 'score'")
    + " % 1000000"
)

ORACLES["score_sample"] = f"""
    WITH s AS (
      SELECT doc_id, (n_chars % 7) / 7.0 AS score FROM documents
    )
    SELECT doc_id, score FROM s
    WHERE {_MD5B_SCORE} < pow(least(greatest(score, 0.0), 1.0), 2.0) * 1000000
"""

_CLEAN_KEEP = (
    "len(regexp_split_to_array(trim(x), '\\s+')) >= 3"
    " AND len(trim(x)) > 0"
    " AND (suffix(trim(x), '.') OR suffix(trim(x), '!')"
    "      OR suffix(trim(x), '?') OR suffix(trim(x), '\"'))"
    " AND NOT contains(lower(trim(x)), 'lorem ipsum')"
    " AND NOT contains(lower(trim(x)), 'javascript')"
    " AND NOT contains(trim(x), '{')"
)

ORACLES["clean_lines"] = f"""
    WITH lined AS ({_LINED_SQL}),
    l AS (SELECT doc_id, string_split(lt, chr(10)) AS ls FROM lined),
    k AS (
      SELECT doc_id, ls,
             list_filter(ls, x -> {_CLEAN_KEEP}) AS kept
      FROM l
    )
    SELECT doc_id,
           array_to_string(kept, chr(10)) AS clean_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(kept) AS BIGINT) AS n_kept
    FROM k
"""

ORACLES["dedup_lines"] = f"""
    WITH lined AS ({_LINED_SQL}),
    l AS (SELECT doc_id, string_split(lt, chr(10)) AS ls FROM lined),
    u AS (
      SELECT doc_id, ls,
             list_filter(ls, (x, i) -> list_position(ls, x) = i) AS uq
      FROM l
    )
    SELECT doc_id,
           array_to_string(uq, chr(10)) AS dedup_text,
           CAST(len(ls) AS BIGINT) AS n_lines,
           CAST(len(uq) AS BIGINT) AS n_unique
    FROM u
"""

def q_tfidf_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 TF-IDF keywords over documents. Rank ties
    break on term ascending; scores rounded 9 dp. Cross-engine rank
    agreement relies on genuinely-different (tf, df) pairs never
    landing within one ulp of each other — exact ties share inputs,
    so both engines order them identically by the term tie-break."""
    from .operators.retrieval import tfidf_topk_terms

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = tfidf_topk_terms(docs, k=3)
    return out.select(
        "doc_id", "rank", "term", F.round("tfidf", 9).alias("tfidf")
    )


ORACLES["tfidf_terms"] = f"""
    WITH tok AS (
      SELECT doc_id,
             len(string_split({_NORM_C}, ' ')) AS dl,
             unnest(string_split({_NORM_C}, ' ')) AS term
      FROM documents WHERE {_NORM_C} <> ''
    ),
    tf AS (
      SELECT doc_id, term, count(*) AS tf, max(dl) AS dl
      FROM tok GROUP BY doc_id, term
    ),
    dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    n AS (
      SELECT count(*) AS n_docs FROM documents WHERE {_NORM_C} <> ''
    ),
    s AS (
      SELECT tf.doc_id, tf.term,
             (tf.tf * 1.0 / tf.dl) * ln(n.n_docs * 1.0 / dfr.df) AS tfidf
      FROM tf JOIN dfr USING (term) CROSS JOIN n
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, term ASC
             ) AS rank
      FROM s
    )
    SELECT doc_id, CAST(rank AS INT) AS rank, term,
           round(tfidf, 9) AS tfidf
    FROM r WHERE rank <= 3
"""

def q_role_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation role-sequence conformance over transcripts:
    back-to-back role repeats, unknown roles (the fixture's 'alien'
    turns), opening role, and the resulting trainable? verdict —
    value-matched against a DuckDB lag-window + arg_min twin."""
    from .operators.aggregate import role_conformance
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return role_conformance(tx)


ORACLES["role_conformance"] = f"""
    WITH transcripts AS ({_TX}),
    l AS (
      SELECT conv_id, turn_idx, role,
             lag(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS prev_role
      FROM transcripts
    ),
    a AS (
      SELECT conv_id,
             CAST(count(*) AS BIGINT) AS n_turns,
             arg_min(role, turn_idx) AS first_role,
             CAST(sum(CASE WHEN role = prev_role THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_repeat_role,
             CAST(sum(CASE WHEN role IN
                        ('system', 'user', 'assistant', 'tool')
                      THEN 0 ELSE 1 END) AS BIGINT) AS n_unknown_role
      FROM l GROUP BY conv_id
    )
    SELECT *,
           (n_repeat_role = 0 AND n_unknown_role = 0
            AND first_role IN ('system', 'user')) AS conformant
    FROM a
"""


def q_truncate_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window trim over transcripts: keep the maximal turn
    suffix per conversation under a 24-whitespace-token budget (always
    keeping the final turn), matched against a DuckDB descending
    window-sum twin on identical integer token counts."""
    from .operators.chunking import truncate_context
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return truncate_context(tx, 24)


ORACLES["truncate_context"] = f"""
    WITH transcripts AS ({_TX}),
    t AS (
      SELECT conv_id, turn_idx,
             CASE WHEN trim(coalesce(text, '')) = '' THEN 0
                  ELSE len(regexp_split_to_array(
                         trim(coalesce(text, '')), '\\s+')) END
               AS n_tokens
      FROM transcripts
    ),
    c AS (
      SELECT conv_id, turn_idx, CAST(n_tokens AS BIGINT) AS n_tokens,
             CAST(sum(n_tokens) OVER w AS BIGINT) AS tokens_from_end,
             row_number() OVER w AS rn
      FROM t
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    )
    SELECT conv_id, turn_idx, n_tokens, tokens_from_end
    FROM c WHERE tokens_from_end <= 24 OR rn = 1
"""


def q_pmi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-15 adjacent-word collocations by PMI (min pair count 2)
    over documents; scores rounded 9 dp. Cross-engine rank agreement
    rests on the tfidf_terms argument: identical integer (c_xy, c_x,
    c_y, N) inputs yield identical doubles, exact ties share inputs
    and break identically on (w1, w2)."""
    from .operators.text import pmi_collocations

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = pmi_collocations(docs, k=15, min_count=2)
    return out.select(
        "rank", "w1", "w2", "pair_count", F.round("pmi", 9).alias("pmi")
    )


ORACLES["pmi_pairs"] = f"""
    WITH tok AS (
      SELECT string_split({_NORM_C}, ' ') AS tk
      FROM documents WHERE {_NORM_C} <> ''
    ),
    pr AS (
      -- parallel unnests zip positionally in DuckDB: slice [1..n-1]
      -- pairs with slice [2..n] to give the adjacent bigrams
      SELECT unnest(tk[1:len(tk) - 1]) AS w1,
             unnest(tk[2:len(tk)]) AS w2
      FROM tok WHERE len(tk) >= 2
    ),
    pc AS (SELECT w1, w2, count(*) AS pair_count FROM pr GROUP BY w1, w2),
    uni AS (
      SELECT w, count(*) AS uc
      FROM (SELECT unnest(tk) AS w FROM tok) GROUP BY w
    ),
    tot AS (
      SELECT (SELECT sum(uc) FROM uni) AS n_tok,
             (SELECT sum(pair_count) FROM pc) AS n_pairs
    ),
    s AS (
      SELECT pc.w1, pc.w2, pc.pair_count,
             ln((pc.pair_count * tot.n_tok * 1.0 * tot.n_tok)
                / (tot.n_pairs * 1.0 * u1.uc * u2.uc)) AS pmi
      FROM pc
      JOIN uni u1 ON u1.w = pc.w1
      JOIN uni u2 ON u2.w = pc.w2
      CROSS JOIN tot
      WHERE pc.pair_count >= 2
    ),
    r AS (
      SELECT *, row_number() OVER (ORDER BY pmi DESC, w1 ASC, w2 ASC)
               AS rank
      FROM s
    )
    SELECT CAST(rank AS INT) AS rank, w1, w2, pair_count,
           round(pmi, 9) AS pmi
    FROM r WHERE rank <= 15
"""


def q_token_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-distribution drift between the even- and odd-doc_id
    halves of documents: top-20 terms by |add-1-smoothed log
    probability ratio|, rounded 9 dp — the corpus-language diff the
    per-doc corpus_delta can't see."""
    from .operators.delta import token_drift

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = token_drift(
        docs.filter(F.col("doc_id") % 2 == 0),
        docs.filter(F.col("doc_id") % 2 == 1),
        k=20,
    )
    return out.select(
        "rank", "term", "count_old", "count_new",
        F.round("log_ratio", 9).alias("log_ratio"),
    )


ORACLES["token_drift"] = f"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split({_NORM_C}, ' ')) AS term
      FROM documents WHERE {_NORM_C} <> ''
    ),
    co AS (
      SELECT term, count(*) AS count_old FROM tok
      WHERE doc_id % 2 = 0 GROUP BY term
    ),
    cn AS (
      SELECT term, count(*) AS count_new FROM tok
      WHERE doc_id % 2 = 1 GROUP BY term
    ),
    j AS (
      SELECT coalesce(co.term, cn.term) AS term,
             coalesce(count_old, 0) AS count_old,
             coalesce(count_new, 0) AS count_new
      FROM co FULL OUTER JOIN cn ON co.term = cn.term
    ),
    tot AS (
      SELECT sum(count_old) AS n_old, sum(count_new) AS n_new,
             count(*) AS v
      FROM j
    ),
    s AS (
      SELECT term, count_old, count_new,
             ln(((count_new + 1.0) / (tot.n_new + tot.v))
                / ((count_old + 1.0) / (tot.n_old + tot.v)))
               AS log_ratio
      FROM j CROSS JOIN tot
    ),
    r AS (
      SELECT *, row_number() OVER (
               ORDER BY abs(log_ratio) DESC, term ASC) AS rank
      FROM s
    )
    SELECT CAST(rank AS INT) AS rank, term,
           CAST(count_old AS BIGINT) AS count_old,
           CAST(count_new AS BIGINT) AS count_new,
           round(log_ratio, 9) AS log_ratio
    FROM r WHERE rank <= 20
"""


QUERIES["split_assign"] = q_split_assign
QUERIES["score_sample"] = q_score_sample
QUERIES["clean_lines"] = q_clean_lines
QUERIES["dedup_lines"] = q_dedup_lines
QUERIES["tfidf_terms"] = q_tfidf_terms

def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call transition matrix over transcripts: counts and
    row-normalized probabilities of consecutive from_tool -> to_tool
    steps within a conversation (NULL/blank tool = '<none>'), matched
    against a DuckDB lag-window + ratio-to-report twin. p is an exact
    integer ratio n/total computed identically in both engines."""
    from .operators.aggregate import tool_transitions
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return tool_transitions(tx)


ORACLES["tool_transitions"] = f"""
    WITH transcripts AS ({_TX}),
    t AS (
      SELECT conv_id, turn_idx,
             coalesce(nullif(trim(tool), ''), '<none>') AS tool
      FROM transcripts
    ),
    s AS (
      SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS from_tool,
             tool AS to_tool
      FROM t
    ),
    c AS (
      SELECT from_tool, to_tool, CAST(count(*) AS BIGINT) AS n_steps
      FROM s WHERE from_tool IS NOT NULL
      GROUP BY from_tool, to_tool
    )
    SELECT from_tool, to_tool, n_steps,
           n_steps / (sum(n_steps) OVER (PARTITION BY from_tool)) AS p
    FROM c
"""


def q_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation assistant self-repetition (loop detection):
    turns whose normalized text already occurred for the same role in
    the same conversation, grouped by an xxhash64 fingerprint — group
    sizes, distinct counts and ratios value-matched against a DuckDB
    two-level aggregate twin that groups by md5 (either kernel is only
    a grouping key)."""
    from .operators.aggregate import self_repetition
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return self_repetition(tx)


_NORM_TXT = (
    "trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),"
    " '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))"
)

ORACLES["self_repetition"] = f"""
    WITH transcripts AS ({_TX}),
    fp AS (
      SELECT conv_id,
             {MD5_SQL.format(x=_NORM_TXT)} AS f
      FROM transcripts WHERE role = 'assistant'
    ),
    g AS (
      SELECT conv_id, f, count(*) AS n FROM fp GROUP BY conv_id, f
    )
    SELECT conv_id,
           CAST(sum(n) AS BIGINT) AS n_turns,
           CAST(count(*) AS BIGINT) AS n_distinct,
           CAST(sum(n - 1) AS BIGINT) AS n_repeat,
           sum(n - 1) / (1.0 * sum(n)) AS repeat_ratio
    FROM g GROUP BY conv_id
"""


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split contamination audit: split documents 80/10/10 with
    the deterministic md5 assigner, then count val/test docs whose
    normalized-text fingerprint also appears in train — the exact-dup
    train/test leakage check (the fixture's duplicate pairs straddle
    splits, so leak counts are non-trivial)."""
    from .operators.dedup import split_leakage
    from .operators.sketch import split_assign

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assigned = split_assign(
        docs, {"train": 0.8, "val": 0.1, "test": 0.1}, hash_mode="md5"
    )
    return split_leakage(assigned)


ORACLES["split_leakage"] = f"""
    WITH a AS (
      SELECT {MD5_SQL.format(x=_NORM_TXT)} AS f,
             CASE WHEN {_MD5B} < 100000 THEN 'test'
                  WHEN {_MD5B} < 900000 THEN 'train'
                  ELSE 'val' END AS split
      FROM documents
    ),
    per AS (
      SELECT f, split, count(*) AS n FROM a GROUP BY f, split
    ),
    fl AS (
      SELECT split, n,
             max(CASE WHEN split = 'train' THEN 1 ELSE 0 END)
               OVER (PARTITION BY f) AS in_train
      FROM per
    )
    SELECT split,
           CAST(sum(n) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN in_train = 1 THEN n ELSE 0 END) AS BIGINT)
             AS n_leaked,
           sum(CASE WHEN in_train = 1 THEN n ELSE 0 END) / (1.0 * sum(n))
             AS leak_ratio
    FROM fl WHERE split <> 'train'
    GROUP BY split
"""


def q_render_chat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChatML render of each conversation (last-8-turns cap exercises
    the hot-conversation bound): the full serialized training string
    per conversation, value-matched against a DuckDB row_number +
    string_agg twin — a single character or ordering difference
    anywhere in any conversation breaks the hash."""
    from .operators.assemble import render_chat
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return render_chat(tx, max_turns=8)


ORACLES["render_chat"] = f"""
    WITH transcripts AS ({_TX}),
    capped AS (
      SELECT conv_id, turn_idx,
             coalesce(role, 'unknown') AS role,
             coalesce(text, '') AS text,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY turn_idx DESC) AS rn
      FROM transcripts
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           string_agg('<|im_start|>' || role || chr(10) || text
                      || '<|im_end|>', chr(10) ORDER BY turn_idx)
             AS chat_text
    FROM capped WHERE rn <= 8
    GROUP BY conv_id
"""


QUERIES["tool_transitions"] = q_tool_transitions
QUERIES["self_repetition"] = q_self_repetition
QUERIES["split_leakage"] = q_split_leakage
QUERIES["render_chat"] = q_render_chat


QUERIES["role_conformance"] = q_role_conformance
QUERIES["truncate_context"] = q_truncate_context
QUERIES["pmi_pairs"] = q_pmi_pairs
QUERIES["token_drift"] = q_token_drift


# ------------------------------------------------------- round-4 session-4


def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair assembly: user→assistant adjacencies,
    grouped by normalized prompt (digit runs collapsed first so the
    fixture's prompts form families with divergent responses); chosen
    / rejected are the token-count struct-max/min, an exact function
    of the corpus, matched against a DuckDB lead-window +
    row_number twin."""
    from .operators.assemble import preference_pairs
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", "[0-9]+", "N")
    )
    return preference_pairs(tx)


ORACLES["preference_pairs"] = f"""
    WITH transcripts AS ({_TX}),
    t2 AS (
      SELECT conv_id, turn_idx, role,
             regexp_replace(coalesce(text, ''), '[0-9]+', 'N', 'g') AS text
      FROM transcripts
    ),
    s AS (
      SELECT role, text,
             lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS nrole,
             coalesce(lead(text) OVER (PARTITION BY conv_id
                                       ORDER BY turn_idx), '') AS response
      FROM t2
    ),
    p AS (
      SELECT {_NORM_TXT} AS prompt, response,
             CASE WHEN length(trim(response)) = 0 THEN 0
                  ELSE len(regexp_split_to_array(trim(response), '\\s+'))
               END AS score
      FROM s WHERE role = 'user' AND nrole = 'assistant'
    ),
    p2 AS (SELECT * FROM p WHERE prompt <> ''),
    r AS (
      SELECT prompt, response, score,
             row_number() OVER (PARTITION BY prompt
                                ORDER BY score DESC, response DESC) AS rhi,
             row_number() OVER (PARTITION BY prompt
                                ORDER BY score ASC, response ASC) AS rlo
      FROM p2
    ),
    g AS (
      SELECT prompt, CAST(count(*) AS BIGINT) AS n_responses,
             CAST(count(DISTINCT response) AS BIGINT) AS n_distinct
      FROM p2 GROUP BY prompt
    )
    SELECT g.prompt, g.n_responses, g.n_distinct,
           hi.response AS chosen, CAST(hi.score AS BIGINT) AS chosen_score,
           lo.response AS rejected, CAST(lo.score AS BIGINT) AS rejected_score
    FROM g
    JOIN r hi ON hi.prompt = g.prompt AND hi.rhi = 1
    JOIN r lo ON lo.prompt = g.prompt AND lo.rlo = 1
    WHERE g.n_distinct >= 2
"""


def q_json_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-output JSON conformance per tool: try_parse_json (Spark
    variant parser) vs DuckDB json_valid on the same text column —
    both RFC-8259 validators, counts and ratios value-matched (the
    fixture's JSON dialect is well-formed, the nginx/kv dialects are
    not, so the ratio is a real ~1/3 split)."""
    from .operators.parse import json_validity_report
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return json_validity_report(tx)


ORACLES["json_validity"] = f"""
    WITH transcripts AS ({_TX})
    SELECT coalesce(nullif(trim(tool), ''), '<none>') AS tool,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN json_valid(text) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_valid,
           sum(CASE WHEN json_valid(text) THEN 1 ELSE 0 END)
             / (1.0 * count(*)) AS valid_ratio
    FROM transcripts
    GROUP BY 1
"""


def q_truncation_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation truncation-artifact counts over assistant
    turns (odd quotes, unbalanced braces, unterminated ``` fences,
    missing terminal character), matched against a DuckDB
    replace-and-count twin — pure char arithmetic in both engines."""
    from .operators.aggregate import truncation_artifacts
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return truncation_artifacts(tx, role="assistant")


ORACLES["truncation_artifacts"] = f"""
    WITH transcripts AS ({_TX}),
    src AS (
      SELECT conv_id, coalesce(text, '') AS t
      FROM transcripts
      WHERE role = 'assistant' AND length(trim(coalesce(text, ''))) > 0
    ),
    fl AS (
      SELECT conv_id,
             CASE WHEN mod(length(t) - length(replace(t, '"', '')), 2) = 1
                  THEN 1 ELSE 0 END AS q,
             CASE WHEN (length(t) - length(replace(t, '{{', '')))
                       <> (length(t) - length(replace(t, '}}', '')))
                    OR (length(t) - length(replace(t, '[', '')))
                       <> (length(t) - length(replace(t, ']', '')))
                  THEN 1 ELSE 0 END AS b,
             CASE WHEN mod(length(t) - length(replace(t, '```', '')), 6) = 3
                  THEN 1 ELSE 0 END AS f,
             CASE WHEN right(trim(t), 1) IN
                    ('.', '!', '?', '}}', ']', ')', '>', '"', '''', '`')
                  THEN 0 ELSE 1 END AS nt
      FROM src
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_checked,
           CAST(sum(q) AS BIGINT) AS n_odd_quote,
           CAST(sum(b) AS BIGINT) AS n_unbalanced_brace,
           CAST(sum(f) AS BIGINT) AS n_unterminated_fence,
           CAST(sum(nt) AS BIGINT) AS n_no_terminal,
           CAST(sum(CASE WHEN q + b + f + nt > 0 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_artifact,
           sum(CASE WHEN q + b + f + nt > 0 THEN 1 ELSE 0 END)
             / (1.0 * count(*)) AS artifact_ratio
    FROM fl GROUP BY conv_id
"""


def q_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle example construction over documents with the
    md5 oracle hash kernel: both cut points and all three substrings
    (rendered PSM) value-matched against a DuckDB twin — a one-char
    offset anywhere breaks the hash."""
    from .operators.chunking import fim_split

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fim_split(docs, hash_mode="md5")


_FIM_B1 = "({h} % 1000)".format(
    h=MD5_SQL.format(x="CAST(doc_id AS VARCHAR) || '#fimp'")
)
_FIM_B2 = "({h} % 1000)".format(
    h=MD5_SQL.format(x="CAST(doc_id AS VARCHAR) || '#fimm'")
)

ORACLES["fim_split"] = f"""
    WITH d AS (
      SELECT doc_id, coalesce(text, '') AS t,
             length(coalesce(text, '')) AS L
      FROM documents
      WHERE length(coalesce(text, '')) >= 3
    ),
    c AS (
      SELECT doc_id, t, L,
             1 + CAST(floor({_FIM_B1} * (L - 2) / 1000) AS INT) AS c1
      FROM d
    ),
    c2 AS (
      SELECT doc_id, t, L, c1,
             c1 + 1 + CAST(floor({_FIM_B2} * (L - 2 - c1) / 1000) AS INT)
               AS cc2
      FROM c
    )
    SELECT doc_id,
           CAST(L AS INT) AS n_chars,
           CAST(c1 AS INT) AS prefix_chars,
           CAST(cc2 - c1 AS INT) AS middle_chars,
           '<|fim_prefix|>' || substr(t, 1, c1)
             || '<|fim_suffix|>' || substr(t, cc2 + 1, L - cc2)
             || '<|fim_middle|>' || substr(t, c1 + 1, cc2 - c1) AS fim_text
    FROM c2
"""


QUERIES["preference_pairs"] = q_preference_pairs
QUERIES["json_validity"] = q_json_validity
QUERIES["truncation_artifacts"] = q_truncation_artifacts
QUERIES["fim_split"] = q_fim_split


# ---------------------------------------------------------------- round-4
# session-5 batch: agent-trajectory analytics + corpus statistics.
# Oracle-tested at sf0.001/sf0.01 by tests/test_queries_oracle.py
# exactly like every other entry.


def q_agent_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent loop detection: longest run of consecutive identical
    (tool, masked-text-template) steps per conversation. The output
    carries no hash columns, so the PRODUCTION xxhash64 state kernel
    runs here and still value-matches the oracle (state fingerprints
    only mediate equality); the DuckDB twin compares the raw
    tool+template state through the same lag/running-sum windows."""
    from .operators.trajectory import agent_loops
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return agent_loops(tx, loop_threshold=3)


ORACLES["agent_loops"] = f"""
    WITH transcripts AS ({_TX}),
    st AS (
      SELECT conv_id, turn_idx,
             coalesce(nullif(trim(tool), ''), '<none>') AS tool,
             coalesce(nullif(trim(tool), ''), '<none>') || chr(1) ||
               {_mask_sql("coalesce(text, '')")} AS state
      FROM transcripts
    ),
    chg AS (
      SELECT conv_id, turn_idx, tool, state,
             CASE WHEN lag(state) OVER w IS NOT DISTINCT FROM state
                  THEN 0 ELSE 1 END AS c
      FROM st
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    ),
    seg AS (
      SELECT conv_id, tool,
             sum(c) OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS s
      FROM chg
    ),
    runs AS (
      SELECT conv_id, s, CAST(count(*) AS BIGINT) AS run,
             min(tool) AS rtool
      FROM seg GROUP BY conv_id, s
    ),
    rk AS (
      SELECT conv_id, run, rtool,
             row_number() OVER (PARTITION BY conv_id
                                ORDER BY run DESC, s ASC) AS rn
      FROM runs
    )
    SELECT conv_id,
           CAST(sum(run) AS BIGINT) AS n_steps,
           CAST(count(*) AS BIGINT) AS n_runs,
           max(run) AS max_run,
           min(CASE WHEN rn = 1 THEN rtool END) AS loop_tool,
           max(run) >= 3 AS looped
    FROM rk GROUP BY conv_id
"""


def q_tool_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool trajectory error labeling from the parsed status
    fields (HTTP >= 500 / code=5xx / level ERROR), value-matched
    against a DuckDB conditional-aggregate twin including both exact
    distinct-conversation counts."""
    from .operators.trajectory import tool_errors
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return tool_errors(tx)


# error-signal SQL twin (trajectory._error_flag): 5xx is a NUMERIC
# range test (ADVICE r4 — lexicographic >= '500' also matched 600-999)
_ERR_SQL = (
    "(coalesce(CAST(nullif(regexp_extract(text,"
    " ' HTTP/[0-9.]+\" (\\d{3})( |$)', 1), '') AS INT)"
    " BETWEEN 500 AND 599, false)"
    " OR coalesce(CAST(nullif(regexp_extract(text,"
    " '\\bcode=(\\d{3})\\b', 1), '') AS INT) BETWEEN 500 AND 599, false)"
    " OR contains(text, '\"level\":\"ERROR\"')"
    " OR regexp_matches(text, '\\blevel=ERROR\\b'))"
)


ORACLES["tool_errors"] = f"""
    WITH transcripts AS ({_TX}),
    t AS (
      SELECT coalesce(nullif(trim(tool), ''), '<none>') AS tool,
             conv_id,
             CASE WHEN {_ERR_SQL} THEN 1 ELSE 0 END AS err
      FROM transcripts
    )
    SELECT tool,
           CAST(count(*) AS BIGINT) AS n_calls,
           CAST(sum(err) AS BIGINT) AS n_errors,
           sum(err) / (1.0 * count(*)) AS error_rate,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
           CAST(count(DISTINCT CASE WHEN err = 1 THEN conv_id END) AS BIGINT)
             AS n_err_convs
    FROM t GROUP BY tool
"""


def q_refusal_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refusal-rate audit per conversation. The log-dialect fixture
    contains no refusal phrases, so the QUERY (not the operator)
    deterministically injects one onto assistant turns with
    ``turn_idx % 11 = 3`` — identically in both engines (the
    url_hygiene augmentation convention) — making counts, ratios and
    first-refusal indexes non-trivial."""
    from .operators.trajectory import refusal_scan
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    aug = tx.withColumn(
        "text",
        F.when(
            (F.col("role") == "assistant") & (F.col("turn_idx") % 11 == 3),
            F.concat(F.lit("I cannot help with that. "), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )
    return refusal_scan(aug)


from .operators.trajectory import (
    REFUSAL_PATTERNS as _REFUSALS,
    REFUSAL_REGEXES as _REFUSAL_RX,
)

_REFUSAL_OR = " OR ".join(
    [
        "contains(nt, '{}')".format(p.lower().replace("'", "''"))
        for p in _REFUSALS
    ]
    + [
        # the identical RE2-safe pattern the Spark rlike runs
        "regexp_matches(nt, '{}')".format(rx.replace("'", "''"))
        for rx in _REFUSAL_RX
    ]
)

ORACLES["refusal_scan"] = f"""
    WITH transcripts AS ({_TX}),
    aug AS (
      SELECT conv_id, turn_idx, role,
             CASE WHEN role = 'assistant' AND mod(turn_idx, 11) = 3
                  THEN 'I cannot help with that. ' || coalesce(text, '')
                  ELSE text END AS text
      FROM transcripts
    ),
    n AS (
      SELECT conv_id, turn_idx,
             ' ' || regexp_replace(
               replace(replace(lower(coalesce(text, '')),
                       '’', ''''), '‘', ''''),
               '\\s+', ' ', 'g') || ' ' AS nt
      FROM aug WHERE role = 'assistant'
    ),
    h AS (
      SELECT conv_id, turn_idx,
             CASE WHEN {_REFUSAL_OR} THEN 1 ELSE 0 END AS hit
      FROM n
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(hit) AS BIGINT) AS n_refusals,
           sum(hit) / (1.0 * count(*)) AS refusal_ratio,
           min(CASE WHEN hit = 1 THEN turn_idx END) AS first_refusal_idx
    FROM h GROUP BY conv_id
"""


def q_context_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window accounting per conversation (whitespace-token
    running sums, 512-token budget), value-matched against a DuckDB
    running-window twin."""
    from .operators.trajectory import context_growth
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return context_growth(tx, budget_tokens=512)


ORACLES["context_growth"] = f"""
    WITH transcripts AS ({_TX}),
    t AS (
      SELECT conv_id, turn_idx,
             CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                  ELSE len(string_split_regex(trim(coalesce(text, '')),
                                              '\\s+')) END AS n
      FROM transcripts
    ),
    c AS (
      SELECT conv_id, turn_idx, n,
             sum(n) OVER (PARTITION BY conv_id ORDER BY turn_idx
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               - n AS ctx
      FROM t
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           CAST(max(ctx) AS BIGINT) AS peak_context,
           min(CASE WHEN ctx > 512 THEN turn_idx END) AS first_over_idx,
           CAST(sum(CASE WHEN ctx > 512 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_over
    FROM c GROUP BY conv_id
"""


def q_best_of_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-of-n rejection-sampling selection over the documents table:
    candidate groups are ``doc_id % 25``, the score is the distinct
    normalized-token count (a deterministic stand-in for a reward
    model), winner + runner-up margin per group — value-matched
    against a DuckDB rank-window twin."""
    from .operators.assemble import best_of_n
    from .operators.dedup import _norm_text

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    scored = docs.select(
        (F.col("doc_id") % 25).alias("grp"),
        F.col("doc_id"),
        F.size(
            F.array_distinct(
                F.split(_norm_text(F.coalesce(F.col("text"), F.lit(""))), " ")
            )
        )
        .cast("long")
        .alias("score"),
    )
    return best_of_n(scored, "grp", "score", "doc_id")


ORACLES["best_of_n"] = """
    WITH s AS (
      SELECT mod(doc_id, 25) AS grp, doc_id,
             CAST(len(list_distinct(string_split(
               trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')))
               AS BIGINT) AS score
      FROM documents
    ),
    r AS (
      SELECT grp, doc_id, score,
             row_number() OVER (PARTITION BY grp
                                ORDER BY score DESC, doc_id ASC) AS rn
      FROM s
    ),
    c AS (SELECT grp, CAST(count(*) AS BIGINT) AS n_candidates
          FROM s GROUP BY grp),
    t AS (
      SELECT grp,
             max(CASE WHEN rn = 1 THEN doc_id END) AS winner_id,
             max(CASE WHEN rn = 1 THEN score END) AS best_score,
             max(CASE WHEN rn = 2 THEN score END) AS second_score
      FROM r WHERE rn <= 2 GROUP BY grp
    )
    SELECT c.grp, c.n_candidates, t.winner_id, t.best_score,
           t.second_score,
           t.best_score - t.second_score AS margin
    FROM c JOIN t USING (grp)
    WHERE c.n_candidates >= 2
"""


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency OLS over the documents vocabulary; both
    engines compute identical ln/covar_pop/var_pop/corr moments,
    rounded to 6 dp (the lm_perplexity convention for transcendental
    outputs)."""
    from .operators.text import zipf_fit

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return zipf_fit(docs)


ORACLES["zipf_fit"] = """
    WITH tok AS (
      SELECT unnest(string_split(
               trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ')) AS t
      FROM documents
    ),
    v AS (
      SELECT t, count(*) AS c FROM tok WHERE t <> '' GROUP BY t
    ),
    r AS (
      SELECT c,
             ln(CAST(row_number() OVER (ORDER BY c DESC, t ASC) AS DOUBLE))
               AS x,
             ln(CAST(c AS DOUBLE)) AS y
      FROM v
    )
    SELECT CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(c) AS BIGINT) AS n_tokens,
           round(CASE WHEN var_pop(x) = 0 THEN NULL
                 ELSE covar_pop(x, y) / var_pop(x) END, 6) AS slope,
           round(CASE WHEN var_pop(x) = 0 THEN NULL
                 ELSE avg(y) - (covar_pop(x, y) / var_pop(x)) * avg(x)
                 END, 6) AS intercept,
           round(CASE WHEN var_pop(x) * var_pop(y) = 0 THEN NULL
                 ELSE covar_pop(x, y) * covar_pop(x, y)
                      / (var_pop(x) * var_pop(y)) END, 6) AS r2
    FROM r
"""


def q_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix conversation families (first-3-turn masked
    templates, md5 oracle kernel since the group fingerprint is an
    output column), value-matched against a DuckDB ordered string_agg
    twin."""
    from .operators.dedup import prefix_groups
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return prefix_groups(tx, k=3, hash_mode="md5")


_PFX_UNIT = _mask_sql("coalesce(text, '')")

ORACLES["prefix_groups"] = f"""
    WITH transcripts AS ({_TX}),
    h AS (
      SELECT conv_id, CAST(turn_idx AS BIGINT) AS i,
             {MD5_SQL.format(x=_PFX_UNIT)} AS f
      FROM transcripts WHERE turn_idx < 3
    ),
    s AS (
      SELECT conv_id,
             string_agg(i || ':' || f, '|' ORDER BY i, f) AS sig
      FROM h GROUP BY conv_id
    )
    SELECT {MD5_SQL.format(x='sig')} AS prefix_fp,
           CAST(count(*) AS BIGINT) AS n_convs,
           min(conv_id) AS rep_conv
    FROM s GROUP BY sig HAVING count(*) >= 2
"""


QUERIES["agent_loops"] = q_agent_loops
QUERIES["tool_errors"] = q_tool_errors
QUERIES["refusal_scan"] = q_refusal_scan
QUERIES["context_growth"] = q_context_growth
QUERIES["best_of_n"] = q_best_of_n
QUERIES["zipf_fit"] = q_zipf_fit
QUERIES["prefix_groups"] = q_prefix_groups



def q_trajectory_outcome(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation resolved/failed/abandoned verdict from the
    final turn + error history, value-matched against a DuckDB
    rank-window twin replicating the struct-max tie order."""
    from .operators.trajectory import trajectory_outcome
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return trajectory_outcome(tx)


ORACLES["trajectory_outcome"] = f"""
    WITH transcripts AS ({_TX}),
    t AS (
      SELECT conv_id, turn_idx, role,
             coalesce(nullif(trim(tool), ''), '<none>') AS tool,
             CASE WHEN {_ERR_SQL} THEN 1 ELSE 0 END AS err
      FROM transcripts
    ),
    r AS (
      SELECT *, row_number() OVER (
               PARTITION BY conv_id
               ORDER BY turn_idx DESC, role DESC, tool DESC, err DESC
             ) AS rn
      FROM t
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(err) AS BIGINT) AS n_errors,
           max(CASE WHEN rn = 1 THEN turn_idx END) AS last_idx,
           min(CASE WHEN rn = 1 THEN role END) AS last_role,
           min(CASE WHEN rn = 1 THEN tool END) AS last_tool,
           min(CASE WHEN rn = 1 THEN
                 CASE WHEN err = 1 THEN 'failed'
                      WHEN role = 'assistant' THEN 'resolved'
                      ELSE 'abandoned' END
               END) AS outcome
    FROM r GROUP BY conv_id
"""


def q_turn_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-turn gap profile per conversation in exact integer
    microseconds (unix_micros vs epoch_us, the asof_join convention);
    the 30 000-second break threshold splits the fixture's gap
    distribution ~45/55 so n_breaks is non-trivial."""
    from .operators.trajectory import turn_gaps
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return turn_gaps(tx, break_us=30_000_000_000)


ORACLES["turn_gaps"] = f"""
    WITH transcripts AS ({_TX}),
    g AS (
      SELECT conv_id,
             epoch_us(ts) - lag(epoch_us(ts)) OVER (
               PARTITION BY conv_id ORDER BY turn_idx) AS gap
      FROM transcripts
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           CAST(sum(gap) AS BIGINT) AS total_gap_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us,
           CAST(sum(CASE WHEN gap > 30000000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_breaks
    FROM g GROUP BY conv_id
"""


def q_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-gram overlap between document sources, value-matched
    against a DuckDB generate_series gram twin with a distinct
    self-join."""
    from .operators.dedup import source_overlap

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return source_overlap(docs, k=3)


ORACLES["source_overlap"] = """
    WITH toks AS (
      SELECT source,
             string_split(
               trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
                 '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS tk
      FROM documents
      WHERE length(trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
              '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g'))) > 0
    ),
    g AS (
      SELECT source,
             tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2] AS gram
      FROM toks, unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS u(i)
    ),
    ps AS (SELECT DISTINCT gram, source FROM g),
    tot AS (SELECT source, CAST(count(*) AS BIGINT) AS total
            FROM ps GROUP BY source),
    com AS (
      SELECT a.source AS src_a, b.source AS src_b,
             CAST(count(*) AS BIGINT) AS grams_common
      FROM ps a JOIN ps b ON a.gram = b.gram AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT src_a, src_b, ta.total AS grams_a, tb.total AS grams_b,
           grams_common,
           grams_common / (ta.total + tb.total - grams_common) AS jaccard,
           grams_common / least(ta.total, tb.total) AS containment
    FROM com
    JOIN tot ta ON ta.source = src_a
    JOIN tot tb ON tb.source = src_b
"""


def q_fertility_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility by language over the documents table,
    value-matched against a DuckDB conditional-aggregate twin with the
    same whitespace/regex token definitions."""
    from .operators.text import fertility_report

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return fertility_report(docs)


ORACLES["fertility_report"] = """
    WITH t AS (
      SELECT lang,
             length(coalesce(text, '')) AS nc,
             CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                  ELSE len(string_split_regex(trim(coalesce(text, '')),
                                              '\\s+')) END AS nw,
             len(regexp_extract_all(coalesce(text, ''),
                 '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]')) AS nr
      FROM documents
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(nc) AS BIGINT) AS n_chars,
           CAST(sum(nw) AS BIGINT) AS n_ws_tokens,
           CAST(sum(nr) AS BIGINT) AS n_re_tokens,
           CASE WHEN sum(nw) = 0 THEN NULL
                ELSE sum(nc) / (1.0 * sum(nw)) END AS chars_per_ws_token,
           CASE WHEN sum(nr) = 0 THEN NULL
                ELSE sum(nc) / (1.0 * sum(nr)) END AS chars_per_re_token,
           CASE WHEN sum(nw) = 0 THEN NULL
                ELSE sum(nr) / (1.0 * sum(nw)) END AS re_per_ws
    FROM t GROUP BY lang
"""


QUERIES["trajectory_outcome"] = q_trajectory_outcome
QUERIES["turn_gaps"] = q_turn_gaps
QUERIES["source_overlap"] = q_source_overlap
QUERIES["fertility_report"] = q_fertility_report


def q_sft_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed conversation-level SFT admission gate (outcome ×
    loop × context budget). The oracle embeds the three sub-oracles
    VERBATIM as CTE bodies, so the composite can never drift from the
    individually-verified parts."""
    from .operators.trajectory import sft_gate
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return sft_gate(tx)


ORACLES["sft_gate"] = f"""
    WITH o AS ({ORACLES["trajectory_outcome"]}),
    l AS ({ORACLES["agent_loops"]}),
    c AS ({ORACLES["context_growth"]})
    SELECT o.conv_id, o.outcome, l.max_run, c.n_over,
           (o.outcome = 'resolved' AND NOT (l.max_run >= 3)
            AND NOT (c.n_over > 0)) AS keep,
           CASE WHEN o.outcome <> 'resolved' THEN 'outcome'
                WHEN l.max_run >= 3 THEN 'loop'
                WHEN c.n_over > 0 THEN 'budget'
           END AS drop_reason
    FROM o
    JOIN l ON l.conv_id = o.conv_id
    JOIN c ON c.conv_id = o.conv_id
"""


QUERIES["sft_gate"] = q_sft_gate


def q_conv_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level train/val/test assignment over transcripts —
    the leakage-safe split for dialogue data (a doc-level split of
    turns would put one conversation's turns in several splits, the
    exact failure split_leakage measures). Reuses split_assign keyed
    on conv_id; by construction no conversation spans two splits, so
    the report is the per-split composition: conversations, turns and
    whitespace tokens."""
    from .operators.sketch import split_assign
    from .operators.text import _ws_token_count
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    assigned = split_assign(
        tx,
        {"train": 0.9, "val": 0.05, "test": 0.05},
        id_col="conv_id",
        hash_mode="md5",
    )
    return assigned.groupBy("split").agg(
        F.countDistinct("conv_id").cast("long").alias("n_convs"),
        F.count("*").cast("long").alias("n_turns"),
        F.sum(_ws_token_count(F.coalesce(F.col("text"), F.lit(""))))
        .cast("long")
        .alias("n_tokens"),
    )


ORACLES["conv_split"] = f"""
    WITH transcripts AS ({_TX}),
    a AS (
      SELECT conv_id, text,
             CASE WHEN mod({MD5_SQL.format(x='conv_id')}, 1000000) < 50000
                    THEN 'test'
                  WHEN mod({MD5_SQL.format(x='conv_id')}, 1000000) < 950000
                    THEN 'train'
                  ELSE 'val' END AS split
      FROM transcripts
    )
    SELECT split,
           CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN 0
                    ELSE len(string_split_regex(trim(coalesce(text, '')),
                                                '\\s+')) END) AS BIGINT)
             AS n_tokens
    FROM a GROUP BY split
"""


QUERIES["conv_split"] = q_conv_split


def q_conv_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-level decontamination: a deterministic 1-in-10
    conversation bucket plays the held-out eval set; every OTHER
    conversation's turns are scanned for shared word 8-grams against
    it, rolled up per conversation. Grams run over RAW normalized text
    (n=8, not the GPT-3 n=13, because fixture turns are ~20 tokens) —
    template-masked grams saturate at ratio 1.0 on machine-generated
    logs, while raw 8-grams span event-specific fields and measure
    real per-conversation overlap (0.2-0.4 on the fixture)."""
    from .operators.text import benchmark_contamination
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    keyed = tx.select(
        # \x01 separator, not '#': conv ids must round-trip through
        # substring_index even if they ever contain printable
        # punctuation (the _state_fp convention)
        F.concat(
            F.col("conv_id"), F.lit("\x01"), F.col("turn_idx").cast("string")
        ).alias("tid"),
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        (md5_long(F.col("conv_id")) % 10).alias("__b"),
    )
    bench = keyed.filter(F.col("__b") == 0)
    scan = keyed.filter(F.col("__b") != 0)
    per_turn = benchmark_contamination(scan, bench, id_col="tid", n=8)
    # gram-level hit share, not any-hit: templated logs share their
    # constant regions with ANY eval slice, so the boolean saturates at
    # 1; the fraction of a conversation's distinct grams seen in eval
    # is the discriminative dialogue-contamination signal
    return (
        per_turn.select(
            F.substring_index("tid", "\x01", 1).alias("conv_id"),
            "n_grams",
            "n_hit",
        )
        .groupBy("conv_id")
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum("n_grams").cast("long").alias("n_grams"),
            F.sum("n_hit").cast("long").alias("n_hit"),
            (F.sum("n_hit") / F.sum("n_grams")).alias("hit_ratio"),
        )
    )


ORACLES["conv_contamination"] = f"""
    WITH transcripts AS ({_TX}),
    norm AS (
      SELECT conv_id,
             conv_id || chr(1) || turn_idx AS tid,
             mod({MD5_SQL.format(x='conv_id')}, 10) AS b,
             string_split({_NORM_C}, ' ') AS tk
      FROM transcripts
    ),
    g AS (
      SELECT conv_id, tid, b,
             list_distinct(
               CASE WHEN len(tk) >= 8
                    THEN [array_to_string(tk[i:i+7], ' ')
                          for i in generate_series(1, len(tk) - 7)]
                    ELSE [array_to_string(tk, ' ')] END) AS gr
      FROM norm
    ),
    bench AS (SELECT DISTINCT s FROM (
      SELECT unnest(gr) AS s FROM g WHERE b = 0) WHERE s <> ''),
    docg AS (SELECT conv_id, tid, unnest(gr) AS s FROM g WHERE b != 0),
    per AS (
      SELECT conv_id, tid,
             count(*) AS ng,
             sum(CASE WHEN bm.s IS NOT NULL THEN 1 ELSE 0 END) AS nh
      FROM docg d LEFT JOIN bench bm ON d.s = bm.s
      GROUP BY conv_id, tid
    )
    SELECT conv_id,
           CAST(count(*) AS BIGINT) AS n_turns,
           CAST(sum(ng) AS BIGINT) AS n_grams,
           CAST(sum(nh) AS BIGINT) AS n_hit,
           sum(nh) / (1.0 * sum(ng)) AS hit_ratio
    FROM per GROUP BY conv_id
"""


QUERIES["conv_contamination"] = q_conv_contamination


def q_conv_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 4-turn / stride-2 conversation windows for RAG
    indexing, value-matched against a DuckDB lead-window twin (any
    character difference in any rendered window breaks the hash)."""
    from .operators.assemble import conv_windows
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return conv_windows(tx, k=4, stride=2)


ORACLES["conv_windows"] = f"""
    WITH transcripts AS ({_TX}),
    b AS (
      SELECT conv_id, turn_idx,
             coalesce(role, '') || ': ' || coalesce(text, '') AS line,
             row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1
               AS pos
      FROM transcripts
    ),
    l AS (
      SELECT conv_id, turn_idx, pos, line,
             lead(line, 1) OVER w AS l1,
             lead(line, 2) OVER w AS l2,
             lead(line, 3) OVER w AS l3
      FROM b
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    ),
    wnd AS (
      SELECT conv_id,
             CAST(pos / 2 AS INT) AS window_idx,
             turn_idx AS start_idx,
             CAST(1 + (CASE WHEN l1 IS NOT NULL THEN 1 ELSE 0 END)
                    + (CASE WHEN l2 IS NOT NULL THEN 1 ELSE 0 END)
                    + (CASE WHEN l3 IS NOT NULL THEN 1 ELSE 0 END)
                  AS INT) AS n_turns,
             array_to_string(
               list_filter([line, l1, l2, l3], x -> x IS NOT NULL),
               chr(10)) AS window_text
      FROM l WHERE mod(pos, 2) = 0
    )
    SELECT conv_id, window_idx, start_idx, n_turns,
           CAST(CASE WHEN length(trim(window_text)) = 0 THEN 0
                ELSE len(string_split_regex(trim(window_text), '\\s+'))
                END AS BIGINT) AS n_tokens,
           window_text
    FROM wnd
"""


def q_rm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(context, response) reward-model pair extraction (3-turn
    context, assistant responses), value-matched against a DuckDB
    lag-window twin."""
    from .operators.assemble import rm_pairs
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return rm_pairs(tx, k=3)


ORACLES["rm_pairs"] = f"""
    WITH transcripts AS ({_TX}),
    b AS (
      SELECT conv_id, turn_idx, role,
             coalesce(text, '') AS resp,
             coalesce(role, '') || ': ' || coalesce(text, '') AS line
      FROM transcripts
    ),
    l AS (
      SELECT conv_id, turn_idx, role, resp,
             lag(line, 3) OVER w AS c3,
             lag(line, 2) OVER w AS c2,
             lag(line, 1) OVER w AS c1
      FROM b
      WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
    )
    SELECT conv_id, turn_idx,
           CAST((CASE WHEN c3 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN c2 IS NOT NULL THEN 1 ELSE 0 END)
              + (CASE WHEN c1 IS NOT NULL THEN 1 ELSE 0 END)
              AS INT) AS n_context_turns,
           coalesce(array_to_string(
             list_filter([c3, c2, c1], x -> x IS NOT NULL), chr(10)), '')
             AS context_text,
           resp AS response_text
    FROM l WHERE role = 'assistant'
"""


QUERIES["conv_windows"] = q_conv_windows
QUERIES["rm_pairs"] = q_rm_pairs


def q_sft_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SFT export pipeline as ONE Spark plan — the
    ``jobs/run_sft_export.py --gate --pack-output`` path end-to-end
    (VERDICT r4 item 5): sft_gate admission (resolved outcome, no loop,
    in budget) → left-semi join keeps only admitted conversations (turn
    text never joins wide) → conversation_examples greedy ≤120-token
    assembly → the job's collision-free ``%012d`` example_id →
    pack_sequences 256-token LM blocks over the example texts. The
    oracle composes the verified sub-oracles VERBATIM (sft_gate as a
    CTE, the conversation_examples recurrence over admitted turns, the
    pack_sequences prefix-sum/unnest twin keyed on example_id), so the
    composite is checked token-for-token yet can never drift from the
    individually-verified parts."""
    from .operators.assemble import conversation_examples
    from .operators.packing import pack_sequences
    from .operators.trajectory import sft_gate
    from .sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    admitted = tx.join(
        sft_gate(tx).filter(F.col("keep")).select("conv_id"),
        "conv_id",
        "left_semi",
    )
    ex = conversation_examples(admitted, max_tokens=120)
    ex = ex.withColumn(
        "example_id",
        F.format_string("%s#%012d", F.col("conv_id"), F.col("example_idx")),
    )
    packed = pack_sequences(
        ex, text_col="example_text", id_col="example_id", seq_len=256
    )
    return packed.select(
        "seq_id",
        "n_tokens",
        "n_docs",
        F.col("first_doc").alias("first_example"),
        "fp",
    )


ORACLES["sft_export"] = f"""
    WITH RECURSIVE gate AS ({ORACLES["sft_gate"]}),
    transcripts AS ({_TX}),
    adm AS (
      SELECT t.* FROM transcripts t
      JOIN gate g ON g.conv_id = t.conv_id
      WHERE g.keep
    ),
    t AS (
      SELECT conv_id, turn_idx,
             concat(role, ': ', text) AS line,
             CAST((CASE WHEN length(trim(text)) = 0 THEN 0
                   ELSE len(regexp_split_to_array(trim(text), '\\s+')) END) + 1
               AS BIGINT) AS n_tok,
             row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) AS rn
      FROM adm
    ),
    rec AS (
      SELECT conv_id, rn, turn_idx, line, n_tok,
             0 AS chunk, n_tok AS run
      FROM t WHERE rn = 1
      UNION ALL
      SELECT t.conv_id, t.rn, t.turn_idx, t.line, t.n_tok,
             CASE WHEN rec.run + t.n_tok > 120 AND rec.run > 0
                  THEN rec.chunk + 1 ELSE rec.chunk END,
             CASE WHEN rec.run + t.n_tok > 120 AND rec.run > 0
                  THEN t.n_tok ELSE rec.run + t.n_tok END
      FROM rec JOIN t ON t.conv_id = rec.conv_id AND t.rn = rec.rn + 1
    ),
    ex AS (
      SELECT printf('%s#%012d', conv_id, chunk) AS example_id,
             string_agg(line, chr(10) ORDER BY turn_idx) AS example_text
      FROM rec GROUP BY conv_id, chunk
    ),
    d AS (
      SELECT example_id,
             list_append(regexp_extract_all(coalesce(example_text, ''),
                 '[A-Za-z]+|[0-9]+|[^\\sA-Za-z0-9]'), '<eos>') AS tk
      FROM ex
    ),
    o AS (
      SELECT example_id, tk,
             coalesce(sum(len(tk)) OVER (ORDER BY example_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS g_start
      FROM d
    ),
    u AS (
      SELECT unnest([{{'g_pos': g_start + i - 1, 'tok': tk[i],
                      'eid': example_id}}
                     for i in generate_series(1, len(tk))]) AS s
      FROM o
    )
    SELECT CAST(s.g_pos // 256 AS BIGINT) AS seq_id,
           CAST(count(*) AS INT) AS n_tokens,
           CAST(count(DISTINCT s.eid) AS INT) AS n_docs,
           min(s.eid) AS first_example,
           md5(string_agg(s.tok, ' ' ORDER BY s.g_pos)) AS fp
    FROM u GROUP BY 1
"""

QUERIES["sft_export"] = q_sft_export


# ---------------------------------------------------------------- round-5
# SPL compiler queries (spl.py): the reference's processor_spl runs SPL
# scripts (pipe commands + Presto-dialect expressions) against event
# groups (core/plugin/processor/ProcessorSPL.h:26-48, unittest surface
# core/unittest/spl/spl.txt + SplUnittest.cpp). These queries run REAL
# SPL script text through compile_spl so the driver verifies the whole
# chain: tokenizer → command parser → expression translation → one
# Catalyst plan, against hand-written DuckDB twins.

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


def q_spl_endtoend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL script end-to-end: parse-regexp → where → extend → project
    compiled to one Catalyst plan (spl.py; ProcessorSPL.cpp:69,122)."""
    from .spl import compile_spl

    tx = load_transcripts(spark, sf_dir)
    return compile_spl(tx, _SPL_E2E_SCRIPT)


ORACLES["spl_endtoend"] = f"""
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
"""


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


def q_spl_extend_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL Presto-dialect function surface (upper/cast/regexp_extract/
    date_format %-formats/to_unixtime/split_part) compiled via spl.py."""
    from .spl import compile_spl

    tx = load_transcripts(spark, sf_dir)
    return compile_spl(tx, _SPL_FUNC_SCRIPT, known_keys={"text": _SPL_KV_KEYS})


ORACLES["spl_extend_funcs"] = f"""
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
"""


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


def q_spl_multi_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL .let multi-dataset pipeline (SplUnittest.cpp:562-571):
    branch, parse per-branch, emit both; union-by-name output. The
    null-filled union columns are normalised to '' for the driver's
    value-hash compare (unit tests pin the raw NULL semantics)."""
    from .spl import compile_spl

    tx = load_transcripts(spark, sf_dir)
    return compile_spl(tx, _SPL_MULTI_SCRIPT).na.fill("")


ORACLES["spl_multi_dataset"] = f"""
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
"""

QUERIES["spl_endtoend"] = q_spl_endtoend
QUERIES["spl_extend_funcs"] = q_spl_extend_funcs
QUERIES["spl_multi_dataset"] = q_spl_multi_dataset


# stats instruction: the aggregate SPL form (public SLS SPL instruction
# set) — groupBy compiled from `by`, aggregates through the Presto
# dialect. One scan, map-side partial aggregation, shuffle on the keys.
_SPL_STATS_SCRIPT = """*
| where tool != 'none'
| stats count(*) as n_turns, sum(turn_idx) as sum_turn,
        avg(length(text)) as avg_chars, min(ts) as first_ts by role, tool
| sort by role, tool
"""


def q_spl_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SPL stats aggregation compiled via spl.py (one groupBy plan)."""
    from .spl import compile_spl

    tx = load_transcripts(spark, sf_dir)
    return compile_spl(tx, _SPL_STATS_SCRIPT)


ORACLES["spl_stats"] = f"""
    WITH transcripts AS ({_TX})
    SELECT role, tool, count(*) AS n_turns,
           CAST(sum(turn_idx) AS BIGINT) AS sum_turn,
           avg(length(text)) AS avg_chars,
           min(ts) AS first_ts
    FROM transcripts WHERE tool != 'none'
    GROUP BY role, tool ORDER BY role, tool
"""

QUERIES["spl_stats"] = q_spl_stats


# Conversation-level near-dup: merge each dialogue into one document
# (the merge_transcript rendering) and run the full MinHash+LSH pipeline
# at dialogue granularity — train-train conversation dedup, the
# complement of conv_contamination's train-eval overlap. The fixture's
# conversations are all genuinely distinct, so the query injects
# deterministic near-dup clones (a 1-in-10 md5 conv bucket, one appended
# line — the url_hygiene/refusal_scan augmentation convention) and the
# pipeline must surface exactly those pairs.
_CONV_DUP_TAIL = "appended audit line for the clone"


def q_conv_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue MinHash near-dup over merged conversations
    (operators/dedup.py:minhash_dedup_pairs at conv granularity)."""
    from .operators.dedup import minhash_dedup_pairs

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
    clones = merged.filter(md5_long(F.col("conv_id")) % 10 == 0).select(
        F.concat(F.col("conv_id"), F.lit("~dup")).alias("conv_id"),
        F.concat(F.col("doc"), F.lit("\n" + _CONV_DUP_TAIL)).alias("doc"),
    )
    corpus = merged.unionByName(clones)
    return minhash_dedup_pairs(
        corpus, text_col="doc", id_col="conv_id", threshold=0.5, hash_mode="md5"
    )


_CONV_NEARDUP_SOURCE = f"""
    WITH __tx AS ({_TX}),
    __m AS (
      SELECT conv_id AS doc_id,
             string_agg(text, chr(10) ORDER BY turn_idx) AS text
      FROM __tx GROUP BY conv_id
    )
    SELECT doc_id, text FROM __m
    UNION ALL
    SELECT doc_id || '~dup' AS doc_id,
           text || chr(10) || '{_CONV_DUP_TAIL}' AS text
    FROM __m WHERE {MD5_SQL.format(x="doc_id")} % 10 = 0
"""

ORACLES["conv_neardup"] = _minhash_oracle_sql(
    threshold=0.5, source_sql=_CONV_NEARDUP_SOURCE
)

QUERIES["conv_neardup"] = q_conv_neardup


# ---------------------------------------------------------------- round-5
# sink wire formats beyond SLS/OTLP (SURVEY §2.8's "other sinks" row):
# Prometheus remote-write (prompb protobuf + snappy block framing), Loki
# push JSON, Elasticsearch _bulk NDJSON — each exercised encode→decode
# over real rows, same contract as sls_wire_roundtrip / otlp_wire_spans.
# All three bound to the deterministic 1-in-8 conversation bucket: the
# codecs are pure Python and losslessness is volume-independent.


def _wire_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:

    return (
        load_transcripts(spark, sf_dir)
        .filter(md5_long(F.col("conv_id")) % 8 == 0)
        .repartition(spark.sparkContext.defaultParallelism, "conv_id")
    )


def q_prom_wire_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prometheus remote-write wire round-trip (flusher_prometheus,
    plugins/flusher/prometheus: snappy(prompb.WriteRequest) bodies).
    Every bucketed turn becomes one single-sample TimeSeries
    (metric turn_chars, labels role/tool, value=len(text), ts in ms);
    the blobs decode back through the full wire walk (sources/
    prom_wire.py, incl. the snappy block decoder) and the decoded
    samples aggregate per (role, tool) — counts and exact sums must
    match DuckDB over the parquet."""
    from .sources.prom_wire import decode_write_request, serialize_remote_write

    rows = _wire_bucket(spark, sf_dir).select(
        "role",
        "tool",
        F.length(F.coalesce("text", F.lit(""))).cast("double").alias("chars"),
        F.unix_millis(F.col("ts").cast("timestamp")).alias("ts_ms"),
    )
    blobs = serialize_remote_write(
        rows,
        metric_name="turn_chars",
        value_key="chars",
        time_ms_key="ts_ms",
        label_keys=["role", "tool"],
        max_series=256,
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for blob in pdf["value"]:
                for s in decode_write_request(bytes(blob)):
                    val, ts_ms = s["samples"][0]
                    recs.append(
                        (s["labels"]["role"], s["labels"]["tool"], val, ts_ms)
                    )
            if recs:
                yield pd.DataFrame(
                    recs, columns=["role", "tool", "value", "ts_ms"]
                )

    decoded = blobs.mapInPandas(
        decode, schema="role string, tool string, value double, ts_ms long"
    )
    return decoded.groupBy("role", "tool").agg(
        F.count("*").alias("n_samples"),
        F.sum("value").alias("sum_chars"),
        F.sum("ts_ms").alias("sum_ts_ms"),
    )


ORACLES["prom_wire_roundtrip"] = f"""
    WITH transcripts AS ({_TX})
    SELECT role, tool, count(*) AS n_samples,
           CAST(sum(length(coalesce(text, ''))) AS DOUBLE) AS sum_chars,
           CAST(sum(epoch_ms(ts)) AS BIGINT) AS sum_ts_ms
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY role, tool
"""


def q_loki_push_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loki push-API round-trip (flusher_loki,
    plugins/flusher/loki/flusher_loki.go:53-164): routed rows become
    push payloads with labelsets {job, sink, role} and ns-precision
    values; payloads decode back (sources/loki_push.py) and aggregate
    per (sink, role)."""
    from .sources.loki_push import decode_loki_push, serialize_loki_push

    routed = (
        _routed(spark, sf_dir)
        .filter(md5_long(F.col("conv_id")) % 8 == 0)
        .select(
            "sink",
            "role",
            "text",
            (F.unix_micros(F.col("ts").cast("timestamp")) * 1000).alias("ts_ns"),
        )
        .repartition(spark.sparkContext.defaultParallelism, "sink")
    )
    payloads = serialize_loki_push(
        routed,
        line_key="text",
        time_ns_key="ts_ns",
        label_keys=["sink", "role"],
        static_labels={"job": "loongcollector"},
        max_entries=512,
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for payload in pdf["value"]:
                for labels, ts_ns, line in decode_loki_push(payload):
                    recs.append(
                        (labels["sink"], labels["role"], ts_ns, len(line))
                    )
            if recs:
                yield pd.DataFrame(
                    recs, columns=["sink", "role", "ts_ns", "chars"]
                )

    decoded = payloads.mapInPandas(
        decode, schema="sink string, role string, ts_ns long, chars long"
    )
    return decoded.groupBy("sink", "role").agg(
        F.count("*").alias("n_lines"),
        F.sum("chars").alias("sum_text_chars"),
        F.min("ts_ns").alias("min_ts_ns"),
        F.max("ts_ns").alias("max_ts_ns"),
    )


ORACLES["loki_push_roundtrip"] = f"""
    WITH transcripts AS ({_TX})
    SELECT {_ROUTE_CASE} AS sink, role, count(*) AS n_lines,
           CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_text_chars,
           CAST(min(epoch_ns(ts)) AS BIGINT) AS min_ts_ns,
           CAST(max(epoch_ns(ts)) AS BIGINT) AS max_ts_ns
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY 1, 2
"""


def q_es_bulk_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elasticsearch _bulk round-trip (flusher_elasticsearch,
    plugins/flusher/elasticsearch/flusher_elasticsearch.go:188-218):
    dynamic ``lc-%{role}`` index names (fmtstr.FormatIndex convention),
    JVM-rendered docs, NDJSON bodies decoded back and aggregated per
    index."""
    from .sources.es_bulk import decode_es_bulk, serialize_es_bulk

    rows = _wire_bucket(spark, sf_dir).select("role", "conv_id", "turn_idx", "text")
    bodies = serialize_es_bulk(
        rows, index_format="lc-%{role}", doc_keys=["conv_id", "turn_idx", "text"],
        max_docs=512,
    )

    def decode(batches):
        import pandas as pd

        for pdf in batches:
            recs = []
            for body in pdf["value"]:
                for idx, doc in decode_es_bulk(body):
                    recs.append(
                        (
                            idx,
                            doc["conv_id"],
                            int(doc["turn_idx"]),
                            len(doc.get("text") or ""),
                        )
                    )
            if recs:
                yield pd.DataFrame(
                    recs, columns=["es_index", "conv_id", "turn_idx", "chars"]
                )

    decoded = bodies.mapInPandas(
        decode,
        schema="es_index string, conv_id string, turn_idx long, chars long",
    )
    return decoded.groupBy("es_index").agg(
        F.count("*").alias("n_docs"),
        F.sum("chars").alias("sum_text_chars"),
        F.countDistinct("conv_id").alias("n_convs"),
        F.sum("turn_idx").alias("sum_turn_idx"),
    )


ORACLES["es_bulk_roundtrip"] = f"""
    WITH transcripts AS ({_TX})
    SELECT concat('lc-', role) AS es_index, count(*) AS n_docs,
           CAST(sum(length(coalesce(text, ''))) AS BIGINT) AS sum_text_chars,
           count(DISTINCT conv_id) AS n_convs,
           CAST(sum(turn_idx) AS BIGINT) AS sum_turn_idx
    FROM transcripts
    WHERE {MD5_SQL.format(x="conv_id")} % 8 = 0
    GROUP BY 1
"""

QUERIES["prom_wire_roundtrip"] = q_prom_wire_roundtrip
QUERIES["loki_push_roundtrip"] = q_loki_push_roundtrip
QUERIES["es_bulk_roundtrip"] = q_es_bulk_roundtrip


def q_winnowing_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing (MOSS) fingerprint near-dup pairs over documents
    (operators/dedup.py:winnowing_fingerprints/_pairs): k=5 word-gram
    hashes, w=4 windows, rightmost-min selection via ONE
    min(struct(h, -pos)) window; pairs join through fingerprint-hash
    buckets (≤50 docs each), never all-pairs."""
    from .operators.dedup import winnowing_fingerprints, winnowing_pairs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    fps = winnowing_fingerprints(docs, k=5, w=4, hash_mode="md5")
    return winnowing_pairs(fps, max_bucket=50, min_shared=2)


ORACLES["winnowing_dedup"] = f"""
    WITH toks AS (
      SELECT doc_id, string_split(
        trim(regexp_replace(regexp_replace(lower(coalesce(text, '')),
          '[^a-z0-9\\s]', ' ', 'g'), '\\s+', ' ', 'g')), ' ') AS tk
      FROM documents
    ),
    gpos AS (
      SELECT doc_id, tk,
             unnest(generate_series(1,
               CASE WHEN len(tk) >= 5 THEN len(tk) - 4 ELSE 1 END)) AS pos
      FROM toks
    ),
    g AS (
      SELECT doc_id, pos,
             CASE WHEN len(tk) >= 5
                  THEN array_to_string(tk[pos:pos+4], ' ')
                  ELSE array_to_string(tk, ' ') END AS gram
      FROM gpos
    ),
    h AS (
      SELECT doc_id, pos, {MD5_SQL.format(x="gram")} AS hv FROM g
    ),
    s AS (
      SELECT doc_id, pos,
             min({{'h': hv, 'np': -pos}}) OVER (
               PARTITION BY doc_id ORDER BY pos
               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
             count(*) OVER (PARTITION BY doc_id) AS n
      FROM h
    ),
    fp AS (
      SELECT DISTINCT doc_id, sel['h'] AS fp_hash
      FROM s WHERE pos <= greatest(n - 3, 1)
    ),
    tot AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM fp GROUP BY doc_id
    ),
    ok AS (
      SELECT fp_hash FROM fp GROUP BY fp_hash
      HAVING count(DISTINCT doc_id) <= 50
    ),
    kept AS (SELECT fp.* FROM fp JOIN ok USING (fp_hash)),
    p AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(count(*) AS BIGINT) AS n_shared
      FROM kept a JOIN kept b
        ON a.fp_hash = b.fp_hash AND a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING count(*) >= 2
    )
    SELECT p.doc_a, p.doc_b, p.n_shared, ta.n_fp AS n_a, tb.n_fp AS n_b,
           CAST(p.n_shared AS DOUBLE) / least(ta.n_fp, tb.n_fp)
             AS containment
    FROM p
    JOIN tot ta ON ta.doc_id = p.doc_a
    JOIN tot tb ON tb.doc_id = p.doc_b
"""

QUERIES["winnowing_dedup"] = q_winnowing_dedup


# ------------------------------------------------------- r5 session-3:
# embedding clustering (SemDeDup-style curation prep)


def q_kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd k-means (k=8, 2 iterations, deterministic lowest-id init,
    6-dp quantized centroids/distances) over the embeddings table:
    per-cluster size, 4-dp inertia, smallest member id. The DuckDB twin
    unrolls the same two iterations in SQL."""
    from .operators.clustering import kmeans_assign, kmeans_clusters, kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(emb, k=8, iters=2)
    a = kmeans_assign(emb, cents)
    return kmeans_clusters(a).select("cluster", "n_vecs", "inertia", "min_vec_id")


def q_cluster_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-balanced sampling: fit k-means (same protocol as
    kmeans_embeddings), keep the 5 most-central vectors per cluster
    (dist ASC, vec_id tie-break) — the head-cluster-proof selection
    step; compiles to WindowGroupLimit (local top-m per task)."""
    from .operators.clustering import (
        cluster_balanced_sample,
        kmeans_assign,
        kmeans_fit,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    cents = kmeans_fit(emb, k=8, iters=2)
    a = kmeans_assign(emb, cents)
    return cluster_balanced_sample(a, per_cluster=5).select(
        "vec_id", "cluster", "dist"
    )


def _kmeans_oracle_sql(
    k: int = 8, iters: int = 2, final: str = "clusters", per_cluster: int = 5
) -> str:
    """Unrolled Lloyd-iteration DuckDB twin of operators/clustering.py:
    identical init (k smallest vec_ids), identical 6-dp quantization of
    centroid coords and distances, identical struct-min argmin
    tie-break, empty clusters keep the previous centroid."""
    ctes = [
        "emb AS (SELECT vec_id, embedding FROM embeddings)",
        "pos AS (SELECT vec_id, unnest(range(len(embedding))) AS pos FROM emb)",
        "ev AS (SELECT p.vec_id, p.pos, (e.embedding[p.pos+1])::DOUBLE AS val"
        " FROM pos p JOIN emb e USING (vec_id))",
        f"c0ids AS (SELECT vec_id, row_number() OVER (ORDER BY vec_id) - 1 AS j"
        f" FROM emb ORDER BY vec_id LIMIT {k})",
        "cent0 AS (SELECT c.j, ev.pos, round(ev.val, 6) AS cval"
        " FROM c0ids c JOIN ev USING (vec_id))",
    ]
    cur = "cent0"
    for t in range(1, iters + 1):
        ctes += [
            f"d{t} AS (SELECT ev.vec_id, c.j,"
            f" round(sum((ev.val - c.cval) * (ev.val - c.cval)), 6) AS dist"
            f" FROM ev JOIN {cur} c USING (pos) GROUP BY ev.vec_id, c.j)",
            f"a{t} AS (SELECT vec_id, min(struct_pack(d := dist, j := j)) AS m"
            f" FROM d{t} GROUP BY vec_id)",
            f"asg{t} AS (SELECT vec_id, (m).j AS cluster FROM a{t})",
            f"u{t} AS (SELECT a.cluster AS j, ev.pos,"
            f" round(avg(ev.val), 6) AS cval"
            f" FROM asg{t} a JOIN ev USING (vec_id) GROUP BY a.cluster, ev.pos)",
            f"cent{t} AS (SELECT c.j, c.pos, coalesce(u.cval, c.cval) AS cval"
            f" FROM {cur} c LEFT JOIN u{t} u ON u.j = c.j AND u.pos = c.pos)",
        ]
        cur = f"cent{t}"
    t = iters + 1
    ctes += [
        f"d{t} AS (SELECT ev.vec_id, c.j,"
        f" round(sum((ev.val - c.cval) * (ev.val - c.cval)), 6) AS dist"
        f" FROM ev JOIN {cur} c USING (pos) GROUP BY ev.vec_id, c.j)",
        f"fin AS (SELECT vec_id,"
        f" (min(struct_pack(d := dist, j := j))).j AS cluster,"
        f" (min(struct_pack(d := dist, j := j))).d AS dist"
        f" FROM d{t} GROUP BY vec_id)",
    ]
    body = ",\n".join(ctes)
    if final == "clusters":
        sel = (
            "SELECT cluster, count(*) AS n_vecs, round(sum(dist), 4) AS inertia,"
            " min(vec_id) AS min_vec_id FROM fin GROUP BY cluster"
        )
    elif final == "mixture":
        sel = (
            "SELECT cluster, label, CAST(count(*) AS BIGINT) AS n,"
            " round(count(*) / (sum(count(*)) OVER (PARTITION BY cluster)), 6)"
            " AS share"
            " FROM fin JOIN embeddings USING (vec_id)"
            " GROUP BY cluster, label"
        )
    else:
        sel = (
            f"SELECT vec_id, cluster, dist FROM ("
            f"SELECT vec_id, cluster, dist, row_number() OVER ("
            f"PARTITION BY cluster ORDER BY dist, vec_id) AS rk FROM fin)"
            f" WHERE rk <= {per_cluster}"
        )
    return f"WITH {body}\n{sel}"


def q_cluster_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster purity report: k-means assignment (same protocol as
    kmeans_embeddings) crossed with the ground-truth label column —
    per (cluster, label) count and within-cluster share. The
    cluster-balance diagnostic run before trusting cluster-based
    sampling."""
    from .operators.clustering import kmeans_assign, kmeans_fit

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    cents = kmeans_fit(
        emb.select("vec_id", "embedding"), k=8, iters=2
    )
    a = kmeans_assign(emb.select("vec_id", "label", "embedding"), cents)
    per = a.groupBy("cluster", "label").agg(F.count("*").alias("n"))
    tot = W.partitionBy("cluster")
    return per.select(
        "cluster",
        "label",
        "n",
        F.round(F.col("n") / F.sum("n").over(tot), 6).alias("share"),
    )


ORACLES["kmeans_embeddings"] = _kmeans_oracle_sql(final="clusters")
ORACLES["cluster_sample"] = _kmeans_oracle_sql(final="sample")
ORACLES["cluster_mixture"] = _kmeans_oracle_sql(final="mixture")
QUERIES["cluster_mixture"] = q_cluster_mixture

QUERIES["kmeans_embeddings"] = q_kmeans_embeddings
QUERIES["cluster_sample"] = q_cluster_sample


# ------------------------------------------------------- r5 session-3:
# log analytics: template drift + cohort retention


def q_template_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template-frequency drift between the early and late half of the
    transcript time range (deploy/incident signal): per masked
    template, early/late counts + share drift at 6 dp."""
    from .operators.loganalytics import template_drift

    tx = load_transcripts(spark, sf_dir)
    return template_drift(tx, min_count=5)


def q_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle over the events stream: users bucketed
    by first-seen day; per (cohort_day, offset_days) active-user and
    event counts."""
    from .operators.loganalytics import cohort_retention

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return cohort_retention(ev)


ORACLES["template_drift"] = f"""
    WITH transcripts AS ({_TX}),
    masked AS (
      SELECT {_mask_sql("text")} AS template, epoch_us(ts) AS us
      FROM transcripts
    ),
    b AS (SELECT min(us) AS mn, max(us) AS mx FROM masked),
    h AS (SELECT template, (2 * us <= mn + mx) AS early FROM masked, b),
    per AS (
      SELECT template,
             CAST(sum(CASE WHEN early THEN 1 ELSE 0 END) AS BIGINT) AS n_early,
             CAST(sum(CASE WHEN early THEN 0 ELSE 1 END) AS BIGINT) AS n_late
      FROM h GROUP BY template
    ),
    tot AS (SELECT sum(n_early) AS te, sum(n_late) AS tl FROM per)
    SELECT template, n_early, n_late,
           round(n_late / greatest(tl, 1) - n_early / greatest(te, 1), 6)
             + 0.0 AS drift
    FROM per, tot WHERE n_early + n_late >= 5
"""

ORACLES["cohort_retention"] = """
    WITH first AS (
      SELECT user_id, CAST(min(ts) AS DATE) AS cohort_day
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n
      FROM events GROUP BY user_id, day
    )
    SELECT cohort_day,
           CAST(date_diff('day', cohort_day, day) AS BIGINT) AS offset_days,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(n) AS BIGINT) AS n_events
    FROM act JOIN first USING (user_id)
    GROUP BY 1, 2
"""

QUERIES["template_drift"] = q_template_drift
QUERIES["cohort_retention"] = q_cohort_retention


# ------------------------------------------------------- r5 session-3:
# document hygiene: code detection, readability, charset scan


def q_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing signals. The corpus is prose, so every
    fifth doc is augmented with a deterministic fenced code block (the
    url_hygiene augmentation convention) — both engines build the same
    text, then run the same counting arithmetic."""
    from .operators.text import code_signals

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.lit(
                    "\n```\ndef f(x):\n    return {x: (x + 1)};\n```"
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return code_signals(aug).select(
        "doc_id", "n_fences", "n_code_lines", "n_lines", "n_symbols",
        "n_kw", "is_code",
    )


def q_reading_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease approximation per document (vowel-group
    syllables with a 1-per-word floor, [.!?]+ sentence runs)."""
    from .operators.text import reading_level

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return reading_level(docs).select(
        "doc_id", "n_words", "n_sentences", "n_syllables", "flesch"
    )


def q_charset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding-hygiene scan. Clean synthetic corpus, so every seventh
    doc is augmented with deterministic mojibake + a control char + a
    replacement char; counts and the codepoint ascii_ratio match the
    DuckDB twin exactly."""
    from .operators.text import charset_stats

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    aug = docs.select(
        "doc_id",
        F.concat(
            F.coalesce(F.col("text"), F.lit("")),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.lit(" Ã© â€™ \x01 �"),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return charset_stats(aug).select(
        "doc_id", "n_replacement", "n_control", "n_nonascii",
        "n_mojibake", "ascii_ratio",
    )


_CODE_AUG = (
    "concat(coalesce(text, ''), CASE WHEN doc_id % 5 = 0 THEN "
    "chr(10) || '```' || chr(10) || 'def f(x):' || chr(10) || "
    "'    return {x: (x + 1)};' || chr(10) || '```' ELSE '' END)"
)

ORACLES["code_detection"] = f"""
    WITH aug AS (SELECT doc_id, {_CODE_AUG} AS text FROM documents),
    s AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '```')) AS n_fences,
        len(regexp_extract_all(text, '(?m)^(?:    |\t)')) AS n_code_lines,
        len(string_split(text, chr(10))) AS n_lines,
        length(text) - length(regexp_replace(text,
          '[{{}}();=<>\\[\\]]', '', 'g')) AS n_symbols,
        len(regexp_extract_all(lower(text),
          '\\b(?:def|return|import|class|function|const|var|lambda|printf|include|void|elif)\\b'))
          AS n_kw,
        length(text) AS n_chars
      FROM aug
    )
    SELECT doc_id, n_fences, n_code_lines, n_lines, n_symbols, n_kw,
           (n_fences > 0
            OR (n_lines >= 3 AND n_code_lines * 10 >= n_lines * 3)
            OR (n_symbols * 20 > n_chars AND n_kw >= 2)) AS is_code
    FROM s
"""

ORACLES["reading_level"] = """
    WITH s AS (
      SELECT doc_id,
        CASE WHEN length(trim(text)) = 0 THEN 0
             ELSE len(regexp_split_to_array(lower(trim(text)), '\\s+'))
        END AS n_words,
        greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
        len(regexp_extract_all(lower(trim(text)), '[aeiouy]+'))
          + CASE WHEN length(trim(text)) = 0 THEN 0
                 ELSE len(list_filter(
                        regexp_split_to_array(lower(trim(text)), '\\s+'),
                        x -> NOT regexp_matches(x, '[aeiouy]')))
            END AS n_syllables
      FROM documents
    )
    SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words > 0 THEN
             round(206.835 - 1.015 * (n_words / n_sentences)
                           - 84.6 * (n_syllables / n_words), 3) + 0.0
           END AS flesch
    FROM s
"""

ORACLES["charset_stats"] = """
    WITH aug AS (
      SELECT doc_id,
             concat(coalesce(text, ''),
                    CASE WHEN doc_id % 7 = 0
                         THEN ' Ã© â€™ ' || chr(1) || ' �'
                         ELSE '' END) AS text
      FROM documents
    ),
    s AS (
      SELECT doc_id,
        len(regexp_extract_all(text, '�')) AS n_replacement,
        len(regexp_extract_all(text,
            '[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]')) AS n_control,
        len(regexp_extract_all(text, '[^\\x00-\\x7F]')) AS n_nonascii,
        len(regexp_extract_all(text, '(?:Ã|â€)')) AS n_mojibake,
        len(regexp_extract_all(text, '[\\x00-\\x7F]')) AS n_ascii
      FROM aug
    )
    SELECT doc_id, n_replacement, n_control, n_nonascii, n_mojibake,
           CASE WHEN n_ascii + n_nonascii > 0 THEN
             round(n_ascii / (n_ascii + n_nonascii), 6)
           END AS ascii_ratio
    FROM s
"""

QUERIES["code_detection"] = q_code_detection
QUERIES["reading_level"] = q_reading_level
QUERIES["charset_stats"] = q_charset_stats


# ------------------------------------------------------- r5 session-3:
# dialogue-act mix + preference-pair overlap hygiene


def _speech_aug(turn_idx, text):
    """Deterministic act injection (refusal_scan convention): the log
    corpus is all statements, so every 7th turn becomes a question /
    command / fenced-code turn — same arithmetic in both engines."""
    return (
        F.when(
            turn_idx % 7 == 1, F.concat(F.lit("Can you check "), text, F.lit("?"))
        )
        .when(turn_idx % 7 == 3, F.concat(F.lit("please run "), text))
        .when(turn_idx % 7 == 5, F.concat(F.lit("```"), text, F.lit("```")))
        .otherwise(text)
    )


def q_speech_acts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-act composition per (conversation, role): code /
    question / command / statement counts with first-match-wins
    precedence over the act-augmented transcript."""
    from .operators.trajectory import speech_acts

    tx = load_transcripts(spark, sf_dir)
    aug = tx.withColumn(
        "text", _speech_aug(F.col("turn_idx"), F.coalesce("text", F.lit("")))
    )
    return speech_acts(aug)


def q_pair_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair overlap hygiene: distinct-token Jaccard +
    token-length ratio between chosen and rejected over the same
    normalized-prompt pair assembly as preference_pairs."""
    from .operators.assemble import pair_overlap, preference_pairs

    tx = load_transcripts(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", "[0-9]+", "N")
    )
    pp = preference_pairs(tx)
    return pair_overlap(pp).select(
        "prompt", "chosen", "rejected", "jaccard", "len_ratio", "high_overlap"
    )


def _leads_sql() -> tuple[str, str]:
    from .operators.trajectory import COMMAND_LEADS, QUESTION_LEADS

    q = "^(?:" + "|".join(QUESTION_LEADS) + ")\\b"
    c = "^(?:" + "|".join(COMMAND_LEADS) + ")\\b"
    return q, c


_Q_LEAD_SQL, _C_LEAD_SQL = _leads_sql()

ORACLES["speech_acts"] = f"""
    WITH transcripts AS ({_TX}),
    aug AS (
      SELECT conv_id, role,
        CASE WHEN turn_idx % 7 = 1
               THEN 'Can you check ' || coalesce(text, '') || '?'
             WHEN turn_idx % 7 = 3 THEN 'please run ' || coalesce(text, '')
             WHEN turn_idx % 7 = 5 THEN '```' || coalesce(text, '') || '```'
             ELSE coalesce(text, '') END AS text
      FROM transcripts
    ),
    t AS (
      SELECT conv_id, role,
        CASE WHEN contains(text, '```') THEN 'code'
             WHEN regexp_matches(lower(trim(text)), '\\?$')
               OR regexp_matches(lower(trim(text)), '{_Q_LEAD_SQL}')
               THEN 'question'
             WHEN regexp_matches(lower(trim(text)), '{_C_LEAD_SQL}')
               THEN 'command'
             ELSE 'statement' END AS act
      FROM aug
    )
    SELECT conv_id, role,
      CAST(sum(CASE WHEN act = 'code' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_code,
      CAST(sum(CASE WHEN act = 'question' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_question,
      CAST(sum(CASE WHEN act = 'command' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_command,
      CAST(sum(CASE WHEN act = 'statement' THEN 1 ELSE 0 END) AS BIGINT)
        AS n_statement
    FROM t GROUP BY conv_id, role
"""

ORACLES["pair_overlap"] = f"""
    SELECT prompt, chosen, rejected,
           CASE WHEN len(ta) + len(tb) - len(list_intersect(ta, tb)) > 0
                THEN round(len(list_intersect(ta, tb))
                     / (len(ta) + len(tb) - len(list_intersect(ta, tb))), 6)
                ELSE 0.0 END AS jaccard,
           CASE WHEN greatest(len(ta), len(tb)) > 0
                THEN round(least(len(ta), len(tb))
                     / greatest(len(ta), len(tb)), 6)
                ELSE 0.0 END AS len_ratio,
           (CASE WHEN len(ta) + len(tb) - len(list_intersect(ta, tb)) > 0
                 THEN round(len(list_intersect(ta, tb))
                      / (len(ta) + len(tb) - len(list_intersect(ta, tb))), 6)
                 ELSE 0.0 END) >= 0.8 AS high_overlap
    FROM (
      SELECT prompt, chosen, rejected,
        CASE WHEN length(trim(chosen)) = 0 THEN []::VARCHAR[]
             ELSE list_distinct(regexp_split_to_array(
                    lower(trim(chosen)), '\\s+')) END AS ta,
        CASE WHEN length(trim(rejected)) = 0 THEN []::VARCHAR[]
             ELSE list_distinct(regexp_split_to_array(
                    lower(trim(rejected)), '\\s+')) END AS tb
      FROM ({ORACLES["preference_pairs"]}) AS base
    ) AS toks
"""

QUERIES["speech_acts"] = q_speech_acts
QUERIES["pair_overlap"] = q_pair_overlap


# ------------------------------------------------------- round-5 session-4
# dialogue hygiene / RM diagnostics / validated-PII / embedding QA batch


def q_dialogue_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation structural hygiene: per conversation the turn
    count, distinct roles, same-role adjacencies, boundary roles and
    the composed well_formed verdict — all integers/booleans, one
    conv exchange."""
    from .operators.trajectory import dialogue_balance

    return dialogue_balance(load_transcripts(spark, sf_dir))


ORACLES["dialogue_balance"] = f"""
    WITH transcripts AS ({_TX}),
    l AS (
      SELECT conv_id, turn_idx, role,
        CASE WHEN role = lag(role) OVER
               (PARTITION BY conv_id ORDER BY turn_idx)
             THEN 1 ELSE 0 END AS same
      FROM transcripts
    ),
    a AS (
      SELECT conv_id,
        CAST(count(*) AS BIGINT) AS n_turns,
        CAST(count(DISTINCT role) AS BIGINT) AS n_roles,
        CAST(sum(same) AS BIGINT) AS n_same_adj,
        arg_min(role, turn_idx) AS first_role,
        arg_max(role, turn_idx) AS last_role
      FROM l GROUP BY conv_id
    )
    SELECT conv_id, n_turns, n_roles, n_same_adj, first_role, last_role,
           (first_role = 'user' AND last_role = 'assistant'
            AND n_same_adj = 0) AS well_formed
    FROM a
"""


def q_echo_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant parroting profile: distinct-token containment of each
    assistant turn in its predecessor, rolled up per conversation with
    exact-integer sums (echo_rate is one int/int division)."""
    from .operators.trajectory import echo_rate

    return echo_rate(load_transcripts(spark, sf_dir))


ORACLES["echo_rate"] = f"""
    WITH transcripts AS ({_TX}),
    t AS (
      SELECT conv_id, turn_idx, role,
        CASE WHEN length(trim(coalesce(text, ''))) = 0 THEN []::VARCHAR[]
             ELSE list_distinct(regexp_split_to_array(
                    lower(trim(coalesce(text, ''))), '\\s+')) END AS toks
      FROM transcripts
    ),
    l AS (
      SELECT conv_id, role, toks,
             lag(toks) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS prev
      FROM t
    ),
    m AS (
      SELECT conv_id, len(toks) AS n_cur,
             len(list_intersect(toks, prev)) AS n_inter
      FROM l WHERE role = 'assistant' AND prev IS NOT NULL
    )
    SELECT conv_id,
      CAST(count(*) AS BIGINT) AS n_measured,
      CAST(sum(n_inter) AS BIGINT) AS sum_inter,
      CAST(sum(n_cur) AS BIGINT) AS sum_tokens,
      CASE WHEN sum(n_cur) > 0
           THEN round(sum(n_inter) / sum(n_cur), 6) ELSE 0.0 END AS echo_rate,
      CAST(sum(CASE WHEN n_cur > 0 AND n_inter * 10 >= 8 * n_cur
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM m GROUP BY conv_id
"""


def q_tool_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy determinism: Shannon entropy (nats, 6-dp) of each
    from_tool state's next-tool distribution, computed from exact
    integer transition counts."""
    from .operators.aggregate import tool_entropy

    return tool_entropy(load_transcripts(spark, sf_dir))


ORACLES["tool_entropy"] = f"""
    WITH transcripts AS ({_TX}),
    t AS (
      SELECT conv_id, turn_idx,
             coalesce(nullif(trim(tool), ''), '<none>') AS tool
      FROM transcripts
    ),
    s AS (
      SELECT lag(tool) OVER (PARTITION BY conv_id ORDER BY turn_idx)
               AS from_tool,
             tool AS to_tool
      FROM t
    ),
    c AS (
      SELECT from_tool, to_tool, CAST(count(*) AS BIGINT) AS n
      FROM s WHERE from_tool IS NOT NULL
      GROUP BY from_tool, to_tool
    )
    SELECT from_tool,
      CAST(sum(n) AS BIGINT) AS n_steps,
      CAST(count(*) AS BIGINT) AS n_next,
      round(ln(sum(n)) - sum(n * ln(n)) / sum(n), 6) AS entropy
    FROM c GROUP BY from_tool
"""


def _luhn_aug_spark() -> Column:
    """Deterministic card-number augmentation (a Column needs a live
    session, so this is a function, not a module constant)."""
    return (
        F.when(F.col("turn_idx") % 11 == 2, F.lit(" card=4111111111111111"))
        .when(F.col("turn_idx") % 11 == 3, F.lit(" card=4111-1111-1111-1111"))
        .when(F.col("turn_idx") % 11 == 5, F.lit(" card=4111111111111112"))
        .when(F.col("turn_idx") % 11 == 7, F.lit(" ref=12345678901234567890"))
        .when(F.col("turn_idx") % 11 == 9, F.lit(" alt=5500005555555559"))
        .otherwise(F.lit(""))
    )


def q_luhn_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Checksum-validated PAN detection over card-augmented turns
    (valid, Luhn-failing, and too-long digit runs are injected by
    turn_idx so every branch of the validator is exercised); counts
    cast to BIGINT for the cross-engine schema contract."""
    from .operators.text import luhn_scan

    tx = load_transcripts(spark, sf_dir).withColumn(
        "text", F.concat(F.coalesce("text", F.lit("")), _luhn_aug_spark())
    )
    out = luhn_scan(tx)
    return out.select(
        "conv_id",
        "turn_idx",
        F.col("n_candidates").cast("long").alias("n_candidates"),
        F.col("n_valid").cast("long").alias("n_valid"),
        "has_pan",
    )


ORACLES["luhn_scan"] = f"""
    WITH transcripts AS ({_TX}),
    aug AS (
      SELECT conv_id, turn_idx,
        coalesce(text, '') ||
        CASE mod(turn_idx, 11)
          WHEN 2 THEN ' card=4111111111111111'
          WHEN 3 THEN ' card=4111-1111-1111-1111'
          WHEN 5 THEN ' card=4111111111111112'
          WHEN 7 THEN ' ref=12345678901234567890'
          WHEN 9 THEN ' alt=5500005555555559'
          ELSE '' END AS text
      FROM transcripts
    ),
    c AS (
      SELECT conv_id, turn_idx,
        list_filter(
          list_transform(
            regexp_extract_all(text, '[0-9]+(?:[- ][0-9]+)*'),
            s -> regexp_replace(s, '[- ]', '', 'g')),
          s -> length(s) BETWEEN 13 AND 19) AS cands
      FROM aug
    ),
    v AS (
      SELECT conv_id, turn_idx,
        CAST(len(cands) AS BIGINT) AS n_candidates,
        CAST(len(list_filter(cands, s ->
          list_sum(list_transform(range(1, length(s) + 1), i ->
            CASE WHEN i % 2 = 1
                 THEN CAST(substring(reverse(s), i, 1) AS INT)
                 ELSE CASE WHEN CAST(substring(reverse(s), i, 1) AS INT) * 2 > 9
                           THEN CAST(substring(reverse(s), i, 1) AS INT) * 2 - 9
                           ELSE CAST(substring(reverse(s), i, 1) AS INT) * 2
                      END END)) % 10 = 0)) AS BIGINT) AS n_valid
      FROM c
    )
    SELECT conv_id, turn_idx, n_candidates, n_valid, n_valid > 0 AS has_pan
    FROM v WHERE n_candidates > 0
"""


def q_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO length-bias audit: margin-bucketed pair counts with exact
    integer sums over the same pair assembly as preference_pairs
    (digit-collapsed prompts). Assistant responses get a deterministic
    ``mod(turn_idx, 29)``-token pad so the fixture's single-margin
    pair families spread across several buckets, and the bucket
    boundaries (30/38) sit inside that spread — the driver row then
    exercises three bucket branches, not one."""
    from .operators.assemble import length_bias, preference_pairs

    tx = load_transcripts(spark, sf_dir).withColumn(
        "text",
        F.concat(
            F.regexp_replace(F.coalesce("text", F.lit("")), "[0-9]+", "N"),
            F.when(
                F.col("role") == "assistant",
                F.repeat(F.lit(" pad"), (F.col("turn_idx") % 29).cast("int")),
            ).otherwise(F.lit("")),
        ),
    )
    return length_bias(preference_pairs(tx), small_max=30, medium_max=38)


ORACLES["length_bias"] = f"""
    WITH base AS ({{pp}}),
    b AS (
      SELECT CASE WHEN m < 0 THEN 'chosen_shorter'
                  WHEN m = 0 THEN 'equal'
                  WHEN m <= 30 THEN 'small'
                  WHEN m <= 38 THEN 'medium'
                  ELSE 'large' END AS bucket,
             m, chosen_score AS c, rejected_score AS r
      FROM (SELECT chosen_score - rejected_score AS m,
                   chosen_score, rejected_score FROM base)
    ),
    a AS (
      SELECT bucket,
        CAST(count(*) AS BIGINT) AS n_pairs,
        CAST(sum(m) AS BIGINT) AS sum_m,
        CAST(sum(c) AS BIGINT) AS sum_chosen_tokens,
        CAST(sum(r) AS BIGINT) AS sum_rejected_tokens
      FROM b GROUP BY bucket
    )
    SELECT bucket, n_pairs,
      round(n_pairs / (SELECT sum(n_pairs) FROM a), 6) AS share,
      round(sum_m / n_pairs, 6) AS mean_margin,
      sum_chosen_tokens, sum_rejected_tokens
    FROM a
"""


def q_embedding_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global-centroid embedding outliers: 6-dp squared-L2 distance to
    the 6-dp per-dimension mean, top-20 by (dist DESC, vec_id) via
    TakeOrderedAndProject."""
    from .operators.clustering import embedding_outliers

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "label", "embedding"
    )
    return embedding_outliers(emb, top_n=20)


ORACLES["embedding_outliers"] = """
    WITH emb AS (SELECT vec_id, label, embedding FROM embeddings),
    pos AS (SELECT vec_id, unnest(range(len(embedding))) AS pos FROM emb),
    ev AS (SELECT p.vec_id, p.pos,
                  (e.embedding[p.pos + 1])::DOUBLE AS val
           FROM pos p JOIN emb e USING (vec_id)),
    c AS (SELECT pos, round(avg(val), 6) AS m FROM ev GROUP BY pos),
    d AS (
      SELECT ev.vec_id,
             round(sum((ev.val - c.m) * (ev.val - c.m)), 6) AS dist
      FROM ev JOIN c USING (pos) GROUP BY ev.vec_id
    )
    SELECT d.vec_id, e.label, d.dist
    FROM d JOIN emb e USING (vec_id)
    ORDER BY d.dist DESC, d.vec_id LIMIT 20
"""

def _length_bias_pp_sql() -> str:
    """The preference_pairs oracle with the q_length_bias response pad
    (``repeat(' pad', mod(turn_idx, 29))`` on assistant turns) spliced
    into its normalization CTE. Guarded: raises if the anchor text in
    the preference_pairs oracle ever changes, instead of silently
    composing the un-padded assembly."""
    anchor = "'N', 'g') AS text"
    src = ORACLES["preference_pairs"]
    if anchor not in src:
        raise RuntimeError(
            "length_bias oracle: preference_pairs normalization anchor missing"
        )
    return src.replace(
        anchor,
        "'N', 'g') ||\n"
        "             CASE WHEN role = 'assistant'\n"
        "                  THEN repeat(' pad', CAST(mod(turn_idx, 29) AS INT))\n"
        "                  ELSE '' END AS text",
    )


ORACLES["length_bias"] = ORACLES["length_bias"].replace(
    "{pp}", _length_bias_pp_sql()
)

QUERIES["dialogue_balance"] = q_dialogue_balance
QUERIES["echo_rate"] = q_echo_rate
QUERIES["tool_entropy"] = q_tool_entropy
QUERIES["luhn_scan"] = q_luhn_scan
QUERIES["length_bias"] = q_length_bias
QUERIES["embedding_outliers"] = q_embedding_outliers
