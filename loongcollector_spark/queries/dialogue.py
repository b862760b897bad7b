"""Training-example assembly from agent transcripts: chat rendering,
context trimming, preference and reward-model pairs, and
conversation-level splits, windows and decontamination.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import md5_long, MD5_SQL
from ..sources.transcripts import load_transcripts
from .common import _NORM_C, _TX
from .registry import REGISTRY, query


@query("events", oracle=f"""
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
""")
def q_conversation_examples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT training-example assembly from agent transcripts: each
    conversation rendered as 'role: text' lines and greedily cut into
    ≤120-token examples at turn boundaries (windowed block pre-split +
    Arrow-batched applyInPandas cut — the hot-conversation-safe shape,
    see operators/assemble.py). Example fingerprints, turn and token
    counts
    value-matched against a DuckDB recursive-CTE twin running the same
    greedy recurrence."""
    from ..operators.assemble import conversation_examples
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    out = conversation_examples(tx, max_tokens=120)
    return out.select(
        "conv_id",
        "example_idx",
        "n_turns",
        "n_tokens",
        F.md5("example_text").alias("fp"),
    )


@query("events", oracle=f"""
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
""")
def q_truncate_context(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window trim over transcripts: keep the maximal turn
    suffix per conversation under a 24-whitespace-token budget (always
    keeping the final turn), matched against a DuckDB descending
    window-sum twin on identical integer token counts."""
    from ..operators.chunking import truncate_context
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return truncate_context(tx, 24)


@query("events", oracle=f"""
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
""")
def q_render_chat(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChatML render of each conversation (last-8-turns cap exercises
    the hot-conversation bound): the full serialized training string
    per conversation, value-matched against a DuckDB row_number +
    string_agg twin — a single character or ordering difference
    anywhere in any conversation breaks the hash."""
    from ..operators.assemble import render_chat
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return render_chat(tx, max_turns=8)


@query("events", oracle=f"""
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
      SELECT {_NORM_C} AS prompt, response,
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
""")
def q_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO preference-pair assembly: user→assistant adjacencies,
    grouped by normalized prompt (digit runs collapsed first so the
    fixture's prompts form families with divergent responses); chosen
    / rejected are the token-count struct-max/min, an exact function
    of the corpus, matched against a DuckDB lead-window +
    row_number twin."""
    from ..operators.assemble import preference_pairs
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", "[0-9]+", "N")
    )
    return preference_pairs(tx)


@query("events", oracle=f"""
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
""")
def q_conv_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation-level train/val/test assignment over transcripts —
    the leakage-safe split for dialogue data (a doc-level split of
    turns would put one conversation's turns in several splits, the
    exact failure split_leakage measures). Reuses split_assign keyed
    on conv_id; by construction no conversation spans two splits, so
    the report is the per-split composition: conversations, turns and
    whitespace tokens."""
    from ..operators.sketch import split_assign
    from ..operators.text import _ws_token_count
    from ..sources.transcripts import load_transcripts

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


@query("events", oracle=f"""
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
""")
def q_conv_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-level decontamination: a deterministic 1-in-10
    conversation bucket plays the held-out eval set; every OTHER
    conversation's turns are scanned for shared word 8-grams against
    it, rolled up per conversation. Grams run over RAW normalized text
    (n=8, not the GPT-3 n=13, because fixture turns are ~20 tokens) —
    template-masked grams saturate at ratio 1.0 on machine-generated
    logs, while raw 8-grams span event-specific fields and measure
    real per-conversation overlap (0.2-0.4 on the fixture)."""
    from ..operators.text import benchmark_contamination
    from ..sources.transcripts import load_transcripts

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


@query("events", oracle=f"""
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
""")
def q_conv_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 4-turn / stride-2 conversation windows for RAG
    indexing, value-matched against a DuckDB lead-window twin (any
    character difference in any rendered window breaks the hash)."""
    from ..operators.assemble import conv_windows
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return conv_windows(tx, k=4, stride=2)


@query("events", oracle=f"""
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
""")
def q_rm_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(context, response) reward-model pair extraction (3-turn
    context, assistant responses), value-matched against a DuckDB
    lag-window twin."""
    from ..operators.assemble import rm_pairs
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return rm_pairs(tx, k=3)


@query("events", oracle=f"""
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
      FROM ({REGISTRY["preference_pairs"].oracle}) AS base
    ) AS toks
""")
def q_pair_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair overlap hygiene: distinct-token Jaccard +
    token-length ratio between chosen and rejected over the same
    normalized-prompt pair assembly as preference_pairs."""
    from ..operators.assemble import pair_overlap, preference_pairs

    tx = load_transcripts(spark, sf_dir).withColumn(
        "text", F.regexp_replace("text", "[0-9]+", "N")
    )
    pp = preference_pairs(tx)
    return pair_overlap(pp).select(
        "prompt", "chosen", "rejected", "jaccard", "len_ratio", "high_overlap"
    )


def _length_bias_pp_sql() -> str:
    """The preference_pairs oracle with the q_length_bias response pad
    (``repeat(' pad', mod(turn_idx, 29))`` on assistant turns) spliced
    into its normalization CTE. Guarded: raises if the anchor text in
    the preference_pairs oracle ever changes, instead of silently
    composing the un-padded assembly."""
    anchor = "'N', 'g') AS text"
    src = REGISTRY["preference_pairs"].oracle
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


@query("events", oracle=f"""
    WITH base AS ({_length_bias_pp_sql()}),
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
""")
def q_length_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DPO length-bias audit: margin-bucketed pair counts with exact
    integer sums over the same pair assembly as preference_pairs
    (digit-collapsed prompts). Assistant responses get a deterministic
    ``mod(turn_idx, 29)``-token pad so the fixture's single-margin
    pair families spread across several buckets, and the bucket
    boundaries (30/38) sit inside that spread — the driver row then
    exercises three bucket branches, not one."""
    from ..operators.assemble import length_bias, preference_pairs

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
