"""Agent-trajectory analytics over transcripts: latency, role and tool
transitions, loops, errors, refusals, outcomes, and the SFT gate and
export built on them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.hashing import MD5_SQL
from ..operators.trajectory import (
    REFUSAL_PATTERNS as _REFUSALS,
    REFUSAL_REGEXES as _REFUSAL_RX,
)
from ..sources.transcripts import load_transcripts
from .common import _NORM_C, _TX, _mask_sql
from .registry import REGISTRY, query


@query("events", oracle=f"""
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
""")
def q_conversation_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant response latency per conversation: lag window over
    (conv, turn_idx) finds responder turns following a different role;
    exact integer-microsecond deltas aggregated to count / exact p50 /
    max, value-matched against the DuckDB window+quantile_cont twin."""
    from ..operators.aggregate import conversation_latency
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    out = conversation_latency(tx)
    return out.select(
        "conv_id",
        "n_responses",
        F.round("p50_delay_us", 6).alias("p50_delay_us_r"),
        "max_delay_us",
    )


@query("events", oracle=f"""
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
""")
def q_role_conformance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation role-sequence conformance over transcripts:
    back-to-back role repeats, unknown roles (the fixture's 'alien'
    turns), opening role, and the resulting trainable? verdict —
    value-matched against a DuckDB lag-window + arg_min twin."""
    from ..operators.aggregate import role_conformance
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return role_conformance(tx)


@query("events", oracle=f"""
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
""")
def q_tool_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-call transition matrix over transcripts: counts and
    row-normalized probabilities of consecutive from_tool -> to_tool
    steps within a conversation (NULL/blank tool = '<none>'), matched
    against a DuckDB lag-window + ratio-to-report twin. p is an exact
    integer ratio n/total computed identically in both engines."""
    from ..operators.aggregate import tool_transitions
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return tool_transitions(tx)


@query("events", oracle=f"""
    WITH transcripts AS ({_TX}),
    fp AS (
      SELECT conv_id,
             {MD5_SQL.format(x=_NORM_C)} AS f
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
""")
def q_self_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation assistant self-repetition (loop detection):
    turns whose normalized text already occurred for the same role in
    the same conversation, grouped by an xxhash64 fingerprint — group
    sizes, distinct counts and ratios value-matched against a DuckDB
    two-level aggregate twin that groups by md5 (either kernel is only
    a grouping key)."""
    from ..operators.aggregate import self_repetition
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return self_repetition(tx)


@query("events", oracle=f"""
    WITH transcripts AS ({_TX})
    SELECT coalesce(nullif(trim(tool), ''), '<none>') AS tool,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN json_valid(text) THEN 1 ELSE 0 END)
             AS BIGINT) AS n_valid,
           sum(CASE WHEN json_valid(text) THEN 1 ELSE 0 END)
             / (1.0 * count(*)) AS valid_ratio
    FROM transcripts
    GROUP BY 1
""")
def q_json_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tool-output JSON conformance per tool: try_parse_json (Spark
    variant parser) vs DuckDB json_valid on the same text column —
    both RFC-8259 validators, counts and ratios value-matched (the
    fixture's JSON dialect is well-formed, the nginx/kv dialects are
    not, so the ratio is a real ~1/3 split)."""
    from ..operators.parse import json_validity_report
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return json_validity_report(tx)


@query("events", oracle=f"""
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
""")
def q_truncation_artifacts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation truncation-artifact counts over assistant
    turns (odd quotes, unbalanced braces, unterminated ``` fences,
    missing terminal character), matched against a DuckDB
    replace-and-count twin — pure char arithmetic in both engines."""
    from ..operators.aggregate import truncation_artifacts
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return truncation_artifacts(tx, role="assistant")


@query("events", oracle=f"""
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
""")
def q_agent_loops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agent loop detection: longest run of consecutive identical
    (tool, masked-text-template) steps per conversation. The output
    carries no hash columns, so the PRODUCTION xxhash64 state kernel
    runs here and still value-matches the oracle (state fingerprints
    only mediate equality); the DuckDB twin compares the raw
    tool+template state through the same lag/running-sum windows."""
    from ..operators.trajectory import agent_loops
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return agent_loops(tx, loop_threshold=3)


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


@query("events", oracle=f"""
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
""")
def q_tool_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-tool trajectory error labeling from the parsed status
    fields (HTTP >= 500 / code=5xx / level ERROR), value-matched
    against a DuckDB conditional-aggregate twin including both exact
    distinct-conversation counts."""
    from ..operators.trajectory import tool_errors
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return tool_errors(tx)


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


@query("events", oracle=f"""
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
""")
def q_refusal_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Refusal-rate audit per conversation. The log-dialect fixture
    contains no refusal phrases, so the QUERY (not the operator)
    deterministically injects one onto assistant turns with
    ``turn_idx % 11 = 3`` — identically in both engines (the
    url_hygiene augmentation convention) — making counts, ratios and
    first-refusal indexes non-trivial."""
    from ..operators.trajectory import refusal_scan
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    aug = tx.withColumn(
        "text",
        F.when(
            (F.col("role") == "assistant") & (F.col("turn_idx") % 11 == 3),
            F.concat(F.lit("I cannot help with that. "), F.coalesce(F.col("text"), F.lit(""))),
        ).otherwise(F.col("text")),
    )
    return refusal_scan(aug)


@query("events", oracle=f"""
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
""")
def q_context_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window accounting per conversation (whitespace-token
    running sums, 512-token budget), value-matched against a DuckDB
    running-window twin."""
    from ..operators.trajectory import context_growth
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return context_growth(tx, budget_tokens=512)


_PFX_UNIT = _mask_sql("coalesce(text, '')")


@query("events", oracle=f"""
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
""")
def q_prefix_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared-prefix conversation families (first-3-turn masked
    templates, md5 oracle kernel since the group fingerprint is an
    output column), value-matched against a DuckDB ordered string_agg
    twin."""
    from ..operators.dedup import prefix_groups
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return prefix_groups(tx, k=3, hash_mode="md5")


@query("events", oracle=f"""
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
""")
def q_trajectory_outcome(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-conversation resolved/failed/abandoned verdict from the
    final turn + error history, value-matched against a DuckDB
    rank-window twin replicating the struct-max tie order."""
    from ..operators.trajectory import trajectory_outcome
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return trajectory_outcome(tx)


@query("events", oracle=f"""
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
""")
def q_turn_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-turn gap profile per conversation in exact integer
    microseconds (unix_micros vs epoch_us, the asof_join convention);
    the 30 000-second break threshold splits the fixture's gap
    distribution ~45/55 so n_breaks is non-trivial."""
    from ..operators.trajectory import turn_gaps
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return turn_gaps(tx, break_us=30_000_000_000)


@query("events", oracle=f"""
    WITH o AS ({REGISTRY["trajectory_outcome"].oracle}),
    l AS ({REGISTRY["agent_loops"].oracle}),
    c AS ({REGISTRY["context_growth"].oracle})
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
""")
def q_sft_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed conversation-level SFT admission gate (outcome ×
    loop × context budget). The oracle embeds the three sub-oracles
    VERBATIM as CTE bodies, so the composite can never drift from the
    individually-verified parts."""
    from ..operators.trajectory import sft_gate
    from ..sources.transcripts import load_transcripts

    tx = load_transcripts(spark, sf_dir)
    return sft_gate(tx)


@query("events", oracle=f"""
    WITH RECURSIVE gate AS ({REGISTRY["sft_gate"].oracle}),
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
""")
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
    from ..operators.assemble import conversation_examples
    from ..operators.packing import pack_sequences
    from ..operators.trajectory import sft_gate
    from ..sources.transcripts import load_transcripts

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


def _leads_sql() -> tuple[str, str]:
    from ..operators.trajectory import COMMAND_LEADS, QUESTION_LEADS

    q = "^(?:" + "|".join(QUESTION_LEADS) + ")\\b"
    c = "^(?:" + "|".join(COMMAND_LEADS) + ")\\b"
    return q, c


_Q_LEAD_SQL, _C_LEAD_SQL = _leads_sql()


@query("events", oracle=f"""
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
""")
def q_speech_acts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dialogue-act composition per (conversation, role): code /
    question / command / statement counts with first-match-wins
    precedence over the act-augmented transcript."""
    from ..operators.trajectory import speech_acts

    tx = load_transcripts(spark, sf_dir)
    aug = tx.withColumn(
        "text", _speech_aug(F.col("turn_idx"), F.coalesce("text", F.lit("")))
    )
    return speech_acts(aug)


@query("events", oracle=f"""
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
""")
def q_dialogue_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversation structural hygiene: per conversation the turn
    count, distinct roles, same-role adjacencies, boundary roles and
    the composed well_formed verdict — all integers/booleans, one
    conv exchange."""
    from ..operators.trajectory import dialogue_balance

    return dialogue_balance(load_transcripts(spark, sf_dir))


@query("events", oracle=f"""
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
""")
def q_echo_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assistant parroting profile: distinct-token containment of each
    assistant turn in its predecessor, rolled up per conversation with
    exact-integer sums (echo_rate is one int/int division)."""
    from ..operators.trajectory import echo_rate

    return echo_rate(load_transcripts(spark, sf_dir))


@query("events", oracle=f"""
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
""")
def q_tool_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Policy determinism: Shannon entropy (nats, 6-dp) of each
    from_tool state's next-tool distribution, computed from exact
    integer transition counts."""
    from ..operators.aggregate import tool_entropy

    return tool_entropy(load_transcripts(spark, sf_dir))
