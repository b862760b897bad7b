"""Constants and helpers shared by more than one query family: the
spine's nginx pattern, role dimension and router rules, the
cross-engine transcripts CTE, and the DuckDB twins of the text
normalizers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import route as rt
from ..sources.transcripts import load_transcripts, transcripts_sql


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


ROLE_DIM = [
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "infra", 3),
    ("tool", "infra", 3),
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


def _routed(spark: SparkSession, sf_dir: str) -> DataFrame:
    tx = load_transcripts(spark, sf_dir)
    cfg = rt.RouterConfig(
        source_key="role", rules=ROUTER_RULES, default_sink=DEFAULT_SINK
    )
    return rt.route(tx, cfg)


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
