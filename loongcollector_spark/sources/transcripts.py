"""Deterministic multi-turn transcript table (the pipeline's input).

Shape per BASELINE.json ``input_hint``::

    conv_id:string, turn_idx:int32, role:string, text:string,
    tool:string, ts:timestamp

Two constructions:

1. :data:`TRANSCRIPTS_SQL` — a canonical SQL template over the
   driver-provided ``events`` parquet table, written in the common
   Spark-SQL / DuckDB dialect subset (integer arithmetic, ``mod``,
   ``lpad``, ``concat``, simple ``CASE``, ``row_number``; no floats,
   no engine-specific hash functions). Running the *same text* in both
   engines yields byte-identical rows, so every downstream pipeline
   query has an exact DuckDB oracle. This mirrors the reference's
   deterministic mock input (plugins/input/mock, used by
   test/e2e/test_cases/input_mock_log/case.feature:15-24).

2. :func:`generate_transcripts` — an at-scale generator from
   ``spark.range`` (fully distributed, no driver-side data loops,
   seeded constants, never ``now()``), with Zipf-ish hot conversations
   to exercise the skew/salting path. Used by perfbench and
   jobs/submit_scaling.py; conceptually scales to the 10^12-turn table
   the production job would read from Iceberg.

``text`` mixes three parseable dialects chosen by ``mod(event_id,3)``:
nginx-combined access log (the reference's benchmark payload,
test/benchmark/.../loongcollector.yaml:8-27), a nested JSON object
(processor_json semantics), and a key=value line (split_key_value
semantics). Every line embeds ``logNo=<turn_idx>`` for the order
oracle (test/engine/verify/log_order.go:58-77).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

# -- canonical cross-engine SQL -------------------------------------------
# {events} is substituted with a table/view reference valid in the engine.
# Dialect subset notes: cast(x AS STRING) works in Spark and DuckDB
# (STRING aliases VARCHAR in DuckDB); mod(), lpad(), concat(), simple
# CASE, and row_number() are identical; only non-negative integers are
# cast to text (float formatting differs between engines, so none).
TRANSCRIPTS_SQL = """
WITH __ev AS (
    SELECT
        event_id,
        ts,
        user_id,
        row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1 AS turn_idx
    FROM {events}
),
__ev2 AS (
    SELECT
        event_id, ts, user_id, turn_idx,
        CASE mod(event_id, 6)
            WHEN 0 THEN 'GET' WHEN 1 THEN 'GET' WHEN 2 THEN 'GET'
            WHEN 3 THEN 'POST' WHEN 4 THEN 'PUT' ELSE 'DELETE' END AS __method,
        CASE WHEN mod(event_id, 10) <= 6 THEN '200'
             WHEN mod(event_id, 10) = 7 THEN '302'
             WHEN mod(event_id, 10) = 8 THEN '404'
             ELSE '500' END AS __status,
        CASE WHEN mod(event_id, 5) = 0 THEN 'ERROR'
             WHEN mod(event_id, 5) = 1 THEN 'WARN'
             ELSE 'INFO' END AS __lvl,
        concat('10.', cast(mod(event_id, 223) + 1 AS STRING), '.',
               cast(mod(event_id * 7, 256) AS STRING), '.',
               cast(mod(event_id * 13, 256) AS STRING)) AS __ip
    FROM __ev
)
SELECT
    concat('conv-', lpad(cast(user_id AS STRING), 8, '0')) AS conv_id,
    cast(turn_idx AS INT) AS turn_idx,
    CASE WHEN mod(event_id, 97) = 53 THEN 'alien'
         WHEN mod(event_id, 4) = 0 THEN 'user'
         WHEN mod(event_id, 4) = 1 THEN 'assistant'
         WHEN mod(event_id, 4) = 2 THEN 'system'
         ELSE 'tool' END AS role,
    CASE mod(event_id, 3)
        WHEN 0 THEN concat(
            __ip, ' - - [01/Jan/2024:00:00:00 +0000] "', __method,
            ' /api/v1/item/', cast(mod(event_id * 31, 1000) AS STRING),
            ' HTTP/1.1" ', __status, ' ',
            cast(100 + mod(event_id * 17, 9000) AS STRING),
            ' "-" "agent-', cast(mod(event_id, 50) AS STRING),
            '" logNo=', cast(turn_idx AS STRING))
        WHEN 1 THEN concat(
            '{{"level":"', __lvl, '","msg":"turn-',
            cast(mod(event_id, 1000) AS STRING),
            '","ctx":{{"k":', cast(mod(event_id, 100) AS STRING),
            ',"arr":[', cast(mod(event_id, 7) AS STRING), ',',
            cast(mod(event_id, 11) AS STRING), ']}},"logNo":',
            cast(turn_idx AS STRING), '}}')
        ELSE concat(
            'level=', __lvl, ' svc=svc-', cast(mod(event_id, 20) AS STRING),
            ' code=', __status, ' dur=', cast(mod(event_id * 11, 5000) AS STRING),
            'ms logNo=', cast(turn_idx AS STRING))
        END AS text,
    CASE WHEN mod(event_id, 7) = 0 THEN 'search'
         WHEN mod(event_id, 7) IN (1, 2) THEN 'code'
         WHEN mod(event_id, 7) = 3 THEN 'browser'
         ELSE 'none' END AS tool,
    ts
FROM __ev2
"""


def transcripts_sql(events_ref: str) -> str:
    """The canonical SQL with ``{events}`` bound to *events_ref*."""
    return TRANSCRIPTS_SQL.replace("{{", "\x00").replace("{events}", events_ref).replace(
        "\x00", "{"
    ).replace("}}", "}")


def load_transcripts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transcripts DataFrame for a testdata scale-factor directory.

    Runs the canonical SQL over the events parquet. The projection &
    window are cheap relative to parse; at production scale this is
    replaced by a direct Iceberg scan of the transcript table.
    """
    view = "__lc_events_src"
    spark.read.parquet(f"{sf_dir}/events.parquet").createOrReplaceTempView(view)
    return spark.sql(transcripts_sql(view))


# -- at-scale generator (bench path) --------------------------------------

_BASE_TS = "2024-01-01 00:00:00"  # fixed constant; never now()


def generate_transcripts(
    spark: SparkSession,
    n_turns: int,
    n_convs: int | None = None,
    hot_convs: int = 7,
    hot_fraction_mod: int = 10,
    hot_rows_lt: int = 3,
    partitions: int | None = None,
) -> DataFrame:
    """Distributed deterministic transcript generator from ``spark.range``.

    ~``hot_rows_lt/hot_fraction_mod`` of all rows concentrate into
    ``hot_convs`` conversations (skew path); the rest round-robin over
    ``n_convs``. Pure column expressions — parallelism-independent, the
    same ``id`` always yields the same row, so local[8] and local[32]
    benches read identical data.
    """
    if n_convs is None:
        n_convs = max(n_turns // 200, 1)
    rng = (
        spark.range(0, n_turns, 1, partitions)
        if partitions
        else spark.range(0, n_turns)
    )
    e = F.col("id")
    user = F.when(e % hot_fraction_mod < hot_rows_lt, e % hot_convs).otherwise(
        e % n_convs
    )
    df = rng.select(
        e.alias("event_id"),
        F.to_timestamp(F.lit(_BASE_TS)).cast("timestamp").alias("ts0"),
        user.cast("long").alias("user_id"),
    ).select(
        F.concat(F.lit("conv-"), F.lpad(F.col("user_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        # dense per-conv index not needed for bench; turn_idx below is
        # globally unique (= event id), hence per-conv unique — a
        # deterministic stable-order key without the window shuffle a
        # dense index would need (the pipeline itself windows where
        # density matters).
        F.col("event_id"),
        (F.col("ts0") + F.make_interval(secs=F.col("event_id") % 86400)).alias("ts"),
    )
    m4 = F.col("event_id") % 4
    m3 = F.col("event_id") % 3
    method = (
        F.when(F.col("event_id") % 6 <= 2, "GET")
        .when(F.col("event_id") % 6 == 3, "POST")
        .when(F.col("event_id") % 6 == 4, "PUT")
        .otherwise("DELETE")
    )
    status = (
        F.when(F.col("event_id") % 10 <= 6, "200")
        .when(F.col("event_id") % 10 == 7, "302")
        .when(F.col("event_id") % 10 == 8, "404")
        .otherwise("500")
    )
    lvl = (
        F.when(F.col("event_id") % 5 == 0, "ERROR")
        .when(F.col("event_id") % 5 == 1, "WARN")
        .otherwise("INFO")
    )
    ip = F.concat(
        F.lit("10."),
        ((F.col("event_id") % 223) + 1).cast("string"),
        F.lit("."),
        ((F.col("event_id") * 7) % 256).cast("string"),
        F.lit("."),
        ((F.col("event_id") * 13) % 256).cast("string"),
    )
    # globally unique (per-conv unique follows) — modulo 100000 here
    # would collide within hot conversations beyond 700k rows and make
    # window ordering nondeterministic across parallelism levels
    turn_idx = F.col("event_id").cast("int")
    s = lambda c: c.cast("string")  # noqa: E731
    nginx = F.concat(
        ip,
        F.lit(' - - [01/Jan/2024:00:00:00 +0000] "'),
        method,
        F.lit(" /api/v1/item/"),
        s((F.col("event_id") * 31) % 1000),
        F.lit(' HTTP/1.1" '),
        status,
        F.lit(" "),
        s(100 + (F.col("event_id") * 17) % 9000),
        F.lit(' "-" "agent-'),
        s(F.col("event_id") % 50),
        F.lit('" logNo='),
        s(turn_idx),
    )
    jsonl = F.concat(
        F.lit('{"level":"'),
        lvl,
        F.lit('","msg":"turn-'),
        s(F.col("event_id") % 1000),
        F.lit('","ctx":{"k":'),
        s(F.col("event_id") % 100),
        F.lit(',"arr":['),
        s(F.col("event_id") % 7),
        F.lit(","),
        s(F.col("event_id") % 11),
        F.lit(']},"logNo":'),
        s(turn_idx),
        F.lit("}"),
    )
    kvl = F.concat(
        F.lit("level="),
        lvl,
        F.lit(" svc=svc-"),
        s(F.col("event_id") % 20),
        F.lit(" code="),
        status,
        F.lit(" dur="),
        s((F.col("event_id") * 11) % 5000),
        F.lit("ms logNo="),
        s(turn_idx),
    )
    role = (
        F.when(F.col("event_id") % 97 == 53, "alien")
        .when(m4 == 0, "user")
        .when(m4 == 1, "assistant")
        .when(m4 == 2, "system")
        .otherwise("tool")
    )
    tool = (
        F.when(F.col("event_id") % 7 == 0, "search")
        .when((F.col("event_id") % 7).isin(1, 2), "code")
        .when(F.col("event_id") % 7 == 3, "browser")
        .otherwise("none")
    )
    return df.select(
        "conv_id",
        turn_idx.alias("turn_idx"),
        role.alias("role"),
        F.when(m3 == 0, nginx).when(m3 == 1, jsonl).otherwise(kvl).alias("text"),
        tool.alias("tool"),
        "ts",
    )
