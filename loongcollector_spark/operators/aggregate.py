"""Aggregation / grouping / shard-hash partitioning.

The reference's "aggregators" are group-and-batch operators plus
routing (SURVEY.md §2.6). Numeric verification aggregates (per-sink
counts, per-conversation turn counts) are the north-star outputs.

Capability parity (new code) with:

* aggregator_base (pack id)    — plugins/aggregator/baseagg/aggregator_base.go:93-174
* aggregator_context           — plugins/aggregator/context/aggregator_context.go:44-62
* aggregator_content_value_group — plugins/aggregator/contentvaluegroup/...go:66-76
* aggregator_shardhash         — plugins/aggregator/shardhash/aggregator_shardhash.go:67-188
* self-metrics counters        — core/collection_pipeline/CollectionPipeline.h:108-117

Shuffle notes (100 TB design):
* ``group_count`` is a hash aggregate with map-side partial
  aggregation — the shuffle carries one row per (group, partition),
  not the data.
* ``shard_repartition`` is the explicit xxhash64 partitioner with a
  salt escape hatch for hot conversations; downstream per-conv windows
  then run on co-located, bounded partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window as W
from pyspark.sql import functions as F

from ..functions import sqltext

__all__ = [
    "group_count",
    "per_conversation_stats",
    "pack_groups",
    "shard_repartition",
    "salted_shard_repartition",
    "stable_order",
    "sessionize",
    "find_hot_keys",
    "role_conformance",
    "tool_transitions",
    "tool_entropy",
    "self_repetition",
]


def stable_order(
    df: DataFrame, conv_col: str = "conv_id", order_col: str = "turn_idx"
) -> DataFrame:
    """Stable turn ordering: a deterministic per-conversation sequence
    column via a window over (conv_id, turn_idx) — the engine-side
    guarantee behind the reference's logNo order oracle
    (test/engine/verify/log_order.go:58-77)."""
    # one F.expr: the Window/Column-method build costs ~45 py4j
    # round-trips (operators/parse.py's build rule)
    q = sqltext.quote
    over = f"PARTITION BY {q(conv_col)} ORDER BY {q(order_col)}"
    return df.withColumn("seq", F.expr(f"row_number() OVER ({over}) - 1"))


def group_count(df: DataFrame, keys: list[str]) -> DataFrame:
    """The canonical value-group aggregate
    (aggregator_content_value_group.go:66-76 → groupBy(keys).count)."""
    return df.groupBy(*map(sqltext.col, keys)).agg(F.count("*").alias("cnt"))


def per_conversation_stats(
    df: DataFrame,
    conv_col: str = "conv_id",
    order_col: str = "turn_idx",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-conversation turn counts + max turn index (north-star
    verification aggregate; context-aggregator grouping,
    aggregator_context.go:44-62). ``ts_col`` names the timestamp
    column (parameterized like the other columns); frames without one
    pass ``ts_col=None`` to skip the first/last bounds."""
    aggs = [
        F.count("*").alias("n_turns"),
        F.max(sqltext.col(order_col)).alias("max_turn_idx"),
    ]
    if ts_col is not None:
        ts = sqltext.col(ts_col)
        aggs += [F.min(ts).alias("first_ts"), F.max(ts).alias("last_ts")]
    return df.groupBy(sqltext.col(conv_col)).agg(*aggs)


def pack_groups(
    df: DataFrame,
    group_cols: list[str],
    order_col: str,
    *,
    max_log_count: int = 1024,
    max_bytes: int | None = None,
    bytes_col: str | None = None,
    pack_prefix: str = "pack",
    pack_col: str = "__pack_id__",
) -> DataFrame:
    """Assign ``__pack_id__ = <prefix>-<group>-<seq>`` batching rows
    into groups per key — the reference's LogGroup rotation + pack-id
    provenance tag (aggregator_base.go:107-147: rotate at MaxLogCount
    rows OR MaxLogGroupSize bytes, whichever first; byte caps also in
    aggregator_metadata_group GroupMaxByteLength).

    Count-only caps use a closed-form window expression (codegen'd).
    Byte caps follow the reference's sequential rotate-before-add loop
    — BOTH counters reset at each rotation, which has no closed form
    — via ``applyInPandas`` per group, Arrow-batched, deterministic
    under the stable order. Rotation happens BEFORE adding the row
    that would overflow (aggregator_base.go:107), so a pack only
    exceeds the byte cap when a single row alone does.
    """
    keys = [sqltext.col(c) for c in group_cols]
    if max_bytes is None:
        w = W.partitionBy(*keys).orderBy(sqltext.col(order_col))
        seq = F.floor((F.row_number().over(w) - 1) / max_log_count).cast("long")
        return df.withColumn(
            pack_col,
            F.concat_ws("-", F.lit(pack_prefix), *keys, seq.cast("string")),
        )

    import pandas as pd

    out_fields = ", ".join(
        f"{sqltext.quote(f.name)} {f.dataType.simpleString()}"
        for f in df.schema.fields
    )
    out_schema = f"{out_fields}, {sqltext.quote(pack_col)} string"
    gcols = list(group_cols)

    def assign(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col, kind="mergesort")
        sizes = (
            pdf[bytes_col].map(lambda v: len(v.encode()) if isinstance(v, str) else (len(v) if v is not None else 0))
            if bytes_col
            else pd.Series(0, index=pdf.index)
        )
        seqs = []
        pack, n, b = 0, 0, 0
        for sz in sizes:
            if n >= max_log_count or (b > 0 and b + sz > max_bytes):
                pack += 1
                n, b = 0, 0
            seqs.append(pack)
            n += 1
            b += sz
        key = "-".join(str(pdf.iloc[0][c]) for c in gcols)
        pdf[pack_col] = [f"{pack_prefix}-{key}-{s}" for s in seqs]
        return pdf

    return df.groupBy(*keys).applyInPandas(assign, schema=out_schema)


def shard_repartition(
    df: DataFrame,
    keys: list[str],
    shard_count: int = 32,
    connector: str = "_",
) -> DataFrame:
    """Explicit shard-hash partitioning
    (aggregator_shardhash.go:158-162: xxhash64 of connector-joined key
    values → bucket): ``repartition(n, xxhash64(concat_ws(...)))``.
    Co-locates all rows of a conversation on one partition so per-conv
    windows/collects never shuffle twice."""
    h = F.xxhash64(F.concat_ws(connector, *map(sqltext.col, keys)))
    return df.repartition(shard_count, h)


def salted_shard_repartition(
    df: DataFrame,
    keys: list[str],
    shard_count: int = 32,
    *,
    hot_keys: DataFrame | None = None,
    salt_mod: int = 8,
    order_col: str = "turn_idx",
) -> DataFrame:
    """Skew-aware variant (the reference has no skew handling — this is
    the 100 TB addition SURVEY.md §4 calls out).

    Rows whose key combo appears in *hot_keys* (a small DataFrame of
    the hot key values, broadcast) get an extra salt derived
    deterministically from ``order_col`` (so the same row always lands
    on the same salted shard), spreading a monster conversation over
    ``salt_mod`` partitions. Cold rows keep salt 0 — partition-local
    ordering per conversation is preserved for them; hot conversations
    trade per-partition locality for parallelism and are re-windowed
    downstream where exact order is needed.
    """
    base = F.concat_ws("_", *[F.col(k) for k in keys])
    if hot_keys is not None:
        hk = hot_keys.select(
            F.concat_ws("_", *[F.col(k) for k in keys]).alias("__hot")
        ).withColumn("__is_hot", F.lit(True))
        df = df.join(
            F.broadcast(hk), base == F.col("__hot"), "left"
        ).drop("__hot")
        salt = F.when(
            F.col("__is_hot"), (F.col(order_col) % salt_mod)
        ).otherwise(F.lit(0))
        out = df.repartition(shard_count, F.xxhash64(base, salt)).drop("__is_hot")
    else:
        # auto mode: salt everything lightly by order bucket — safe for
        # aggregations with map-side combine, avoids the hot-key scan
        salt = F.col(order_col) % salt_mod
        out = df.repartition(shard_count, F.xxhash64(base, salt))
    return out


def sessionize(
    df: DataFrame,
    key_cols: list[str],
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    session_col: str = "session_id",
    tie_break_cols: list[str] | None = None,
) -> DataFrame:
    """Gap-based sessionization: a new session starts when the time
    since the previous event of the same key exceeds *gap_seconds*.

    ``session_id = cumulative count of gap-breaks`` over the per-key
    time-ordered window — one shuffle on the key, deterministic
    (pass *tie_break_cols* when ``ts`` can collide).
    (Log-pipeline staple; not in the reference — SURVEY §2.11 addition
    for transcript/agent-session analytics.)
    """
    ts = sqltext.col(ts_col)
    w = W.partitionBy(*map(sqltext.col, key_cols)).orderBy(
        ts, *map(sqltext.col, tie_break_cols or [])
    )
    prev = F.lag(ts).over(w)
    # NTZ → timestamp → long (epoch seconds); 1:1 under the UTC session
    secs = lambda c: c.cast("timestamp").cast("long")  # noqa: E731
    is_break = (
        prev.isNull() | (secs(ts) - secs(prev) > gap_seconds)
    ).cast("long")
    return df.withColumn(session_col, F.sum(is_break).over(w) - 1)


def find_hot_keys(
    df: DataFrame, keys: list[str], threshold: int
) -> DataFrame:
    """Identify skewed key combos (count > threshold) — one cheap
    partial-aggregated pass; result is tiny (broadcastable)."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") > threshold)
        .select(*keys)
    )


def event_funnel(
    df: DataFrame,
    steps: list[str],
    *,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Strict ordered funnel over an event stream: for each user, step
    i+1 counts only if it occurs strictly after that user's EARLIEST
    completion of step i (the classic product-analytics funnel, e.g.
    view → click → purchase).

    Returns one row per step: ``(step_idx, step, n_users, conv_rate)``
    where ``conv_rate`` is n_users / previous step's n_users (1.0 for
    step 0, 0.0 when the previous step is empty).

    Scale design: all per-user step times come from a chain of windowed
    conditional ``min`` s over the SAME partition key — Catalyst plans
    one Exchange + one Sort for the whole chain (each step's window
    reuses the established (user, ts) clustering), then a single
    groupBy(user) reduction and a one-row final aggregate unpivoted
    with ``stack``. No joins, no self-join per step (the naive
    step-table join approach shuffles the event table once PER STEP and
    breaks on hot users; this shape shuffles once total).
    """
    if not steps:
        raise ValueError("event_funnel: steps must be non-empty")
    w = W.partitionBy(user_col)
    out = df
    t_cols: list[str] = []
    for i, s in enumerate(steps):
        cond = F.col(type_col) == s
        if t_cols:
            cond = cond & (F.col(ts_col) > F.col(t_cols[-1]))
        c = f"__t{i}"
        out = out.withColumn(c, F.min(F.when(cond, F.col(ts_col))).over(w))
        t_cols.append(c)
    per_user = out.groupBy(user_col).agg(
        *[F.first(c).alias(c) for c in t_cols]
    )
    counts = per_user.agg(
        *[F.count(c).alias(f"__n{i}") for i, c in enumerate(t_cols)]
    )
    # step names are data, not SQL: escape quote/backslash so a name
    # like "add'to'cart" neither breaks the stack() expression nor
    # injects into the plan
    def _sq(s: str) -> str:
        return s.replace("\\", "\\\\").replace("'", "\\'")

    stack_args = ", ".join(
        f"{i}, '{_sq(s)}', __n{i}" for i, s in enumerate(steps)
    )
    tall = counts.select(
        F.expr(
            f"stack({len(steps)}, {stack_args}) AS (step_idx, step, n_users)"
        ),
        *[F.col(f"__n{i}") for i in range(len(steps))],
    )
    rate = F.lit(1.0)
    for i in range(1, len(steps)):
        rate = F.when(
            F.col("step_idx") == i,
            F.when(F.col(f"__n{i-1}") > 0,
                   F.col(f"__n{i}") / F.col(f"__n{i-1}")).otherwise(0.0),
        ).otherwise(rate)
    return tall.select(
        "step_idx", "step", "n_users", rate.alias("conv_rate")
    )


def conversation_latency(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    ts_col: str = "ts",
    responder: str = "assistant",
) -> DataFrame:
    """Per-conversation responder-latency rollup — the agent-telemetry
    question "how fast does the assistant answer": a response is a
    *responder* turn whose previous turn (by *idx_col*) has a different
    role; its latency is the timestamp delta in microseconds. Returns
    ``(conv_col, n_responses, p50_delay_us, max_delay_us)`` — exact
    median via ``percentile`` (linear interpolation, bit-equal to
    DuckDB's quantile_cont; same precedent as latency_percentiles).

    One shuffle on *conv_col* shared by the lag window and the final
    aggregate (the window's partitioning is reused — no second
    exchange). Conversations with no responses are omitted.
    """
    w = W.partitionBy(conv_col).orderBy(idx_col)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    lagged = tx.select(
        F.col(conv_col),
        F.col(role_col),
        us.alias("__us"),
        F.lag(role_col).over(w).alias("__prev_role"),
        F.lag(us).over(w).alias("__prev_us"),
    )
    resp = lagged.filter(
        (F.col(role_col) == responder)
        & F.col("__prev_role").isNotNull()
        & (F.col("__prev_role") != responder)
    ).select(conv_col, (F.col("__us") - F.col("__prev_us")).alias("__delay"))
    return resp.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_responses"),
        F.percentile("__delay", F.lit(0.5)).alias("p50_delay_us"),
        F.max("__delay").cast("long").alias("max_delay_us"),
    )


def role_conformance(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    allowed_roles: tuple[str, ...] = ("system", "user", "assistant", "tool"),
    opening_roles: tuple[str, ...] = ("system", "user"),
) -> DataFrame:
    """Per-conversation role-sequence conformance — SFT-data hygiene
    for agent transcripts: a trainable conversation opens with a
    system/user turn, never repeats a role back-to-back, and uses only
    known roles. Malformed conversations (merge glitches, dropped
    turns, rogue producers) are flagged here BEFORE example assembly
    so :mod:`assemble` never trains on them.

    Returns ``(conv_col, n_turns, first_role, n_repeat_role,
    n_unknown_role, conformant)`` where ``n_repeat_role`` counts turns
    whose role equals the previous turn's role (by *idx_col*),
    ``n_unknown_role`` counts roles outside *allowed_roles*, and
    ``conformant`` is true iff both are zero and ``first_role`` is in
    *opening_roles*.

    One shuffle on *conv_col*, shared by the lag window and the final
    aggregate (same reused-partitioning shape as
    :func:`conversation_latency`); all codegen expressions, no Python.
    Hot conversations are one window partition each — sort-spill
    bounded, the accepted stable_order contract.
    """
    w = W.partitionBy(conv_col).orderBy(idx_col)
    lagged = tx.select(
        F.col(conv_col),
        F.col(idx_col),
        F.col(role_col),
        F.lag(role_col).over(w).alias("__prev_role"),
    )
    repeat = F.when(F.col(role_col) == F.col("__prev_role"), 1).otherwise(0)
    unknown = F.when(
        F.col(role_col).isin(*allowed_roles), 0
    ).otherwise(1)
    agg = lagged.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.min_by(role_col, idx_col).alias("first_role"),
        F.sum(repeat).cast("long").alias("n_repeat_role"),
        F.sum(unknown).cast("long").alias("n_unknown_role"),
    )
    return agg.withColumn(
        "conformant",
        (F.col("n_repeat_role") == 0)
        & (F.col("n_unknown_role") == 0)
        & F.col("first_role").isin(*opening_roles),
    )


def _transition_counts(
    tx: DataFrame,
    conv_col: str,
    idx_col: str,
    tool_col: str,
    none_label: str,
    count_alias: str,
) -> DataFrame:
    """Shared from->to tool transition counts (tool_transitions /
    tool_entropy): normalize NULL/blank tool to *none_label*, lag over
    the conversation window, count consecutive pairs map-side."""
    tool = F.coalesce(
        F.nullif(F.trim(F.col(tool_col)), F.lit("")), F.lit(none_label)
    )
    w = W.partitionBy(conv_col).orderBy(idx_col)
    steps = (
        tx.select(F.col(conv_col), F.col(idx_col), tool.alias("__tool"))
        .select(
            F.lag("__tool").over(w).alias("from_tool"),
            F.col("__tool").alias("to_tool"),
        )
        .filter(F.col("from_tool").isNotNull())
    )
    return steps.groupBy("from_tool", "to_tool").agg(
        F.count("*").cast("long").alias(count_alias)
    )


def tool_transitions(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    tool_col: str = "tool",
    none_label: str = "<none>",
) -> DataFrame:
    """Tool-call transition matrix over agent transcripts: counts and
    row-normalized probabilities of consecutive ``from_tool →
    to_tool`` steps within a conversation — the Markov view of agent
    behavior (which tool follows which, where chains stall on
    ``<none>`` text turns). Turns with a NULL/blank tool become
    *none_label* so text-only turns are first-class states.

    Returns ``(from_tool, to_tool, n_steps, p)`` where ``p`` is
    ``n_steps / Σ n_steps over from_tool`` (each row of the matrix
    sums to 1).

    Scale shape: one shuffle on *conv_col* for the lag window (hot
    conversations are one sort-spilling partition each — the
    stable_order contract), then a groupBy on the (from, to) pair —
    the Zipf-hot transitions collapse map-side, the shuffle carries
    one row per distinct pair per task. The normalizing window runs
    on the REDUCED matrix (≤ |tools|² rows), so its single extra
    exchange is O(matrix), not O(turns).
    """
    counts = _transition_counts(
        tx, conv_col, idx_col, tool_col, none_label, "n_steps"
    )
    wt = W.partitionBy("from_tool")
    return counts.select(
        "from_tool",
        "to_tool",
        "n_steps",
        (F.col("n_steps") / F.sum("n_steps").over(wt)).alias("p"),
    )


def self_repetition(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
) -> DataFrame:
    """Per-conversation self-repetition of one role's turns — the
    classic agent failure where the assistant re-emits an earlier
    answer verbatim (loop detection for transcript curation; flagged
    conversations are candidates for truncation or exclusion from SFT
    data). A turn "repeats" if its normalized text (the shared
    fuzzy-dedup normalization) already occurred in the SAME
    conversation for the same role; per group of n identical turns,
    n−1 count as repeats.

    Returns ``(conv_col, n_turns, n_distinct, n_repeat, repeat_ratio)``
    over turns of *role* only; conversations without such turns are
    absent.

    Scale shape: two exchanges, both reduced before they ship —
    groupBy (conv, fingerprint) with map-side partial aggregation
    collapses the repeated turns per map task (the first shuffle
    carries one row per (conv, fp) per task), then the
    per-conversation rollup re-shuffles the REDUCED fingerprint table
    on conv (HashPartitioning(conv, fp) does not satisfy clustering
    on conv alone, and Spark's own count-distinct rewrite plans the
    identical two-exchange shape). Text never shuffles; the
    fingerprint is an 8-byte xxhash64, only a grouping key.
    """
    from .dedup import _norm_text

    fp = F.xxhash64(_norm_text(F.coalesce(F.col(text_col), F.lit(""))))
    per_fp = (
        tx.filter(F.col(role_col) == role)
        .select(F.col(conv_col), fp.alias("__fp"))
        .groupBy(conv_col, "__fp")
        .agg(F.count("*").alias("__n"))
    )
    out = per_fp.groupBy(conv_col).agg(
        F.sum("__n").cast("long").alias("n_turns"),
        F.count("*").cast("long").alias("n_distinct"),
        F.sum(F.col("__n") - 1).cast("long").alias("n_repeat"),
    )
    return out.withColumn(
        "repeat_ratio", F.col("n_repeat") / F.col("n_turns")
    )


def truncation_artifacts(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
    role: str | None = None,
    terminal_chars: str = ".!?}])>\"'`",
) -> DataFrame:
    """Per-conversation truncation/garbling artifact counts — the SFT
    hygiene scan for turns that look cut off mid-generation (a
    max-tokens stop, a crashed producer, a lost continuation): odd
    quote count, unbalanced braces/brackets, an unterminated ```
    code fence, and text whose last character is not a terminator.
    Conversations with artifact turns are candidates for
    :func:`~loongcollector_spark.operators.chunking.truncate_context`
    or exclusion before example assembly.

    A turn is *checked* if its text is non-blank after trim; blank and
    NULL turns carry no artifact signal and are excluded from every
    count. *role* optionally restricts to one role (``'assistant'``
    for generation-side artifacts).

    Returns ``(conv_col, n_checked, n_odd_quote, n_unbalanced_brace,
    n_unterminated_fence, n_no_terminal, n_artifact, artifact_ratio)``
    where ``n_artifact`` counts turns with ≥1 flag and
    ``artifact_ratio = n_artifact / n_checked``.

    Scale shape: every flag is pure char arithmetic
    (``length - length(replace(...))`` occurrence counts and a
    last-character set test — all codegen, no regex backtracking, no
    Python), then ONE groupBy on *conv_col* with map-side partial agg;
    a 1M-turn hot conversation reduces per-task before the exchange.
    """
    src = tx if role is None else tx.filter(F.col(role_col) == role)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    trimmed = F.trim(txt)

    def _n(sub: str):
        return (
            F.length(txt) - F.length(F.replace(txt, F.lit(sub), F.lit("")))
        ) / len(sub)

    odd_quote = (_n('"') % 2 != 0).cast("int")
    unbal_brace = (
        (_n("{") != _n("}")) | (_n("[") != _n("]"))
    ).cast("int")
    unterm_fence = (_n("```") % 2 != 0).cast("int")
    last = F.substring(trimmed, -1, 1)
    no_terminal = (~last.isin(*list(terminal_chars))).cast("int")
    checked = trimmed != ""
    flags = src.filter(checked).select(
        F.col(conv_col),
        odd_quote.alias("__q"),
        unbal_brace.alias("__b"),
        unterm_fence.alias("__f"),
        no_terminal.alias("__t"),
    )
    any_flag = (
        (F.col("__q") + F.col("__b") + F.col("__f") + F.col("__t")) > 0
    ).cast("int")
    agg = flags.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_checked"),
        F.sum("__q").cast("long").alias("n_odd_quote"),
        F.sum("__b").cast("long").alias("n_unbalanced_brace"),
        F.sum("__f").cast("long").alias("n_unterminated_fence"),
        F.sum("__t").cast("long").alias("n_no_terminal"),
        F.sum(any_flag).cast("long").alias("n_artifact"),
    )
    return agg.withColumn(
        "artifact_ratio", F.col("n_artifact") / F.col("n_checked")
    )


def tool_entropy(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    tool_col: str = "tool",
    none_label: str = "<none>",
) -> DataFrame:
    """Policy-determinism report over the tool-transition matrix: per
    ``from_tool`` state, the Shannon entropy (nats) of the next-tool
    distribution plus its support size — the complement of
    :func:`tool_transitions` (that one reports WHICH transitions
    happen; this one reports how PREDICTABLE each state's successor
    is, the signal that separates scripted tool chains from
    exploratory agent behavior when choosing trajectories worth
    distilling).

    Entropy is computed from exact integer counts via ``H = ln(N) −
    (Σ cᵢ·ln cᵢ)/N`` — one log per DISTINCT successor, no
    per-probability normalization pass — and rounded to 6 places (the
    house float contract). Returns ``(from_tool, n_steps, n_next,
    entropy)``.

    Scale shape: identical to tool_transitions — one conv-partitioned
    lag window over (conv, idx, tool) rows, then a map-side-combining
    groupBy that collapses the Zipf-hot pairs per task; the entropy
    rollup runs on the REDUCED ≤|tools|² matrix, so its exchange is
    O(matrix), not O(turns).
    """
    counts = _transition_counts(
        tx, conv_col, idx_col, tool_col, none_label, "__n"
    )
    out = counts.groupBy("from_tool").agg(
        F.sum("__n").cast("long").alias("n_steps"),
        F.count("*").cast("long").alias("n_next"),
        F.sum(F.col("__n") * F.log(F.col("__n"))).alias("__nlogn"),
    )
    return out.select(
        "from_tool",
        "n_steps",
        "n_next",
        F.round(
            F.log(F.col("n_steps")) - F.col("__nlogn") / F.col("n_steps"), 6
        ).alias("entropy"),
    )
