"""Agent-trajectory analytics over multi-turn transcripts.

The reference collects agent/tool telemetry as ordered log events per
conversation (SURVEY.md §1.1 event taxonomy; per-conversation ordering
contract test/engine/verify/log_order.go:58-77). This module adds the
trajectory-level curation signals an LLM training pipeline derives
from that ordered stream before the transcripts become SFT/RLHF data:

* :func:`agent_loops` — longest run of consecutive identical
  (tool, text-template) steps per conversation: the classic "agent
  stuck in a retry loop" detector.
* :func:`tool_errors` — per-tool call/error counts from the parsed
  status fields: trajectory success labeling by tool.
* :func:`refusal_scan` — per-conversation refusal-phrase counts over
  one role's turns: the safety/over-refusal curation gate.
* :func:`context_growth` — running context-size accounting per
  conversation: where each trajectory crosses a token budget and how
  much context the final turn carries.
* :func:`trajectory_outcome` — per-conversation resolved / failed /
  abandoned verdict from the final turn plus the error history.
* :func:`turn_gaps` — exact-microsecond inter-turn gap profile per
  conversation (session-break and stall triage).
* :func:`sft_gate` — the composed conversation-level keep/drop
  verdict (outcome × loop × context budget) an SFT export runs first.

Scale design (10^12-turn table): every operator here is one exchange
on ``conv_col`` — the shared transcript partitioning — or one
map-side-combinable groupBy on a low-cardinality key. Window chains
reuse the same ``partitionBy`` so Catalyst plans a single shuffle for
the whole chain; per-conversation rollups after a conv-partitioned
window need NO further exchange (HashPartitioning(conv) already
co-locates every group whose key set contains conv). Text never
shuffles: loop states travel as 8-byte fingerprints, token counts as
ints. Hot (Zipf) conversations are each one sorted partition — the
stable_order contract — and everything downstream of the window is
O(turns of that conversation) sequential, not quadratic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F

__all__ = [
    "agent_loops",
    "tool_errors",
    "refusal_scan",
    "context_growth",
    "trajectory_outcome",
    "turn_gaps",
    "sft_gate",
    "REFUSAL_PATTERNS",
    "REFUSAL_REGEXES",
    "speech_acts",
    "QUESTION_LEADS",
    "COMMAND_LEADS",
    "dialogue_balance",
    "echo_rate",
]


def _tool_label(tool_col: str, none_label: str) -> Column:
    """The shared tool-label convention (tool_transitions,
    aggregate.py): NULL/blank tool → *none_label*."""
    return F.coalesce(
        F.nullif(F.trim(F.col(tool_col)), F.lit("")), F.lit(none_label)
    )


def _state_fp(tool: Column, template: Column) -> Column:
    """8-byte fingerprint of a trajectory step state (tool + masked
    text template), shared with ``streaming.stream_loop_alert``. A
    state is only compared with its neighbour, never output, so the
    kernel cannot change a run (up to a 64-bit collision): xxhash64."""
    return F.xxhash64(F.concat_ws("\x01", tool, template))


def agent_loops(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    tool_col: str = "tool",
    text_col: str = "text",
    loop_threshold: int = 3,
    none_label: str = "<none>",
) -> DataFrame:
    """Loop detection over agent trajectories: the longest run of
    CONSECUTIVE turns with the same (tool, text template) state per
    conversation — an agent re-issuing the same call with the same
    shaped output is stuck, and trajectories past *loop_threshold* are
    curation candidates (truncate at loop start or drop).

    A step's state is the coalesced tool label (NULL/blank →
    *none_label*, the tool_transitions convention) plus the masked
    text template (:func:`..loganalytics.mask_log_line` — digits, IPs
    and hex ids masked, so "retry #7" and "retry #8" are the SAME
    state, which is exactly what a loop looks like from telemetry).

    Returns ``(conv_col, n_steps, n_runs, max_run, loop_tool,
    looped)`` where ``loop_tool`` is the tool label of the longest run
    (ties → smaller run id, i.e. earliest run) and ``looped`` is
    ``max_run >= loop_threshold``.

    Scale shape: ONE exchange. The lag-compare and the running-sum
    segment id are two Window nodes over the same
    ``partitionBy(conv)`` — one shuffle, one sort. Both groupBys that
    follow (per-run counts, per-conversation rollup) have conv in the
    key, and HashPartitioning(conv) satisfies their clustering, so
    Catalyst plans them exchange-free. States travel as 8-byte hashes
    (:func:`_state_fp`), never as text.
    """
    from .loganalytics import mask_log_line

    tool = _tool_label(tool_col, none_label)
    template = mask_log_line(F.coalesce(F.col(text_col), F.lit("")))
    state = _state_fp(tool, template)

    stepped = tx.select(
        F.col(conv_col),
        F.col(idx_col).alias("__idx"),
        tool.alias("__tool"),
        state.alias("__state"),
    )
    wi = W.partitionBy(conv_col).orderBy("__idx")
    segs = (
        stepped.withColumn(
            "__chg",
            F.when(
                F.lag("__state").over(wi).eqNullSafe(F.col("__state")),
                F.lit(0),
            ).otherwise(F.lit(1)),
        )
        # ROWS frame, not the default RANGE: duplicate turn_idx values
        # must not lump into one cumulative value (the DuckDB twin pins
        # ROWS UNBOUNDED PRECEDING..CURRENT ROW)
        .withColumn(
            "__seg",
            F.sum("__chg").over(
                wi.rowsBetween(W.unboundedPreceding, W.currentRow)
            ),
        )
    )
    # the tool label is constant within a run (it is part of the state
    # fingerprint), so min() is an exact — and deterministic — pick
    runs = segs.groupBy(conv_col, "__seg").agg(
        F.count("*").cast("long").alias("__run"),
        F.min("__tool").alias("__rtool"),
    )
    out = runs.groupBy(conv_col).agg(
        F.sum("__run").cast("long").alias("n_steps"),
        F.count("*").cast("long").alias("n_runs"),
        F.max("__run").cast("long").alias("max_run"),
        # longest run's tool; ties -> earliest run (struct-max orders
        # by run, then by negated segment id — exact, no max_by)
        F.max(
            F.struct(
                F.col("__run").alias("r"),
                (-F.col("__seg")).alias("ns"),
                F.col("__rtool").alias("t"),
            )
        )["t"].alias("loop_tool"),
    )
    return out.withColumn("looped", F.col("max_run") >= F.lit(loop_threshold))


def tool_errors(
    tx: DataFrame,
    *,
    tool_col: str = "tool",
    text_col: str = "text",
    conv_col: str = "conv_id",
    none_label: str = "<none>",
) -> DataFrame:
    """Per-tool trajectory success labeling: how often each tool's
    turns carry an error signal, and how many conversations are
    touched. An "error" is a parsed status field in the error range —
    HTTP status >= 500 in an access-log turn, ``code=5xx`` in a
    key-value turn, or ``"level":"ERROR"`` / ``level=ERROR`` in a
    structured turn (the same fields processor_parse extracts;
    SURVEY.md §2.2).

    Returns ``(tool, n_calls, n_errors, error_rate, n_convs,
    n_err_convs)`` — one row per tool label (NULL/blank → *none_label*).

    Scale shape: the error flag is a per-row codegen expression
    (two regexp_extract + boolean algebra, no Python); the rollup is a
    groupBy on the tiny tool dimension. The two distinct-conversation
    counts make Spark plan the standard two-exchange count-distinct
    Expand over (tool, conv) — both exchanges carry one row per
    (tool, conv[, flag]) per map task after partial aggregation, never
    the turns themselves.
    """
    tool = _tool_label(tool_col, none_label)
    txt = F.coalesce(F.col(text_col), F.lit(""))
    is_err = _error_flag(txt)
    rows = tx.select(
        tool.alias("tool"),
        F.col(conv_col).alias("__conv"),
        is_err.cast("int").alias("__err"),
    )
    out = rows.groupBy("tool").agg(
        F.count("*").cast("long").alias("n_calls"),
        F.sum("__err").cast("long").alias("n_errors"),
        F.countDistinct("__conv").cast("long").alias("n_convs"),
        F.countDistinct(
            F.when(F.col("__err") == 1, F.col("__conv"))
        ).cast("long").alias("n_err_convs"),
    )
    return out.withColumn(
        "error_rate", F.col("n_errors") / F.col("n_calls")
    ).select(
        "tool", "n_calls", "n_errors", "error_rate", "n_convs", "n_err_convs"
    )


# public, hand-written refusal markers (the standard over-refusal
# audit phrases; lowercase substring match after normalization —
# curly apostrophes fold to ASCII ' and the text is space-padded, so
# patterns may anchor word boundaries with literal spaces).
# Boundary-sensitive short markers live in REFUSAL_REGEXES below.
REFUSAL_PATTERNS: list[str] = [
    "i can't help",
    "i cannot help",
    "i can't assist",
    "i cannot assist",
    "i'm sorry, but",
    "i am unable to",
    "i won't be able to",
]

# boundary-sensitive markers as regexes over the normalized padded
# text: [^a-z] on both sides rejects 'as an airline' / 'as an aid'
# (the ADVICE r4 false positives) while still matching punctuation-
# adjacent forms like '(as an ai)' or 'as an ai—' that enumerated
# literal-space patterns missed. RE2-safe (no lookaround), so the
# DuckDB oracle twin runs the identical pattern.
REFUSAL_REGEXES: list[str] = [
    r"[^a-z]as an ai[^a-z]",
]


def refusal_scan(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
    patterns: list[str] | None = None,
    regexes: list[str] | None = None,
) -> DataFrame:
    """Refusal-rate audit over one role's turns: per conversation, how
    many *role* turns contain a refusal phrase (case-insensitive
    substring over whitespace-normalized text) — the curation signal
    both directions care about (drop over-refusing SFT data; keep
    refusals for safety sets).

    Returns ``(conv_col, n_turns, n_refusals, refusal_ratio,
    first_refusal_idx)`` — ``first_refusal_idx`` is the smallest
    *idx_col* whose text refused (NULL if none). Conversations
    without *role* turns are absent.

    Normalization: lowercase, Unicode curly apostrophes (U+2018/
    U+2019) folded to ASCII ``'`` (LLM output routinely emits "I
    can’t"), whitespace collapsed, then the text is padded with one
    leading and trailing space so patterns can bound words with
    literal spaces; boundary-sensitive markers run as RE2-safe
    regexes (``REFUSAL_REGEXES``) over the same padded text.

    Scale shape: the phrase test is one codegen expression (lower +
    whitespace collapse + N ``contains`` ORs — no regex alternation
    blowup, no Python); the rollup is a single map-side-combinable
    groupBy on conv. One exchange, skinny rows.
    """
    pats = REFUSAL_PATTERNS if patterns is None else patterns
    # custom literal patterns alone opt out of the default regex set
    # (pre-regex callers keep their exact matching surface)
    rxs = (
        regexes
        if regexes is not None
        else (REFUSAL_REGEXES if patterns is None else [])
    )
    if not pats and not rxs:
        raise ValueError("refusal_scan: patterns/regexes must be non-empty")
    norm = F.regexp_replace(
        F.translate(
            F.lower(F.coalesce(F.col(text_col), F.lit(""))),
            "’‘",
            "''",
        ),
        r"\s+",
        " ",
    )
    padded = F.concat(F.lit(" "), norm, F.lit(" "))
    hit = None
    for p in pats:
        c = padded.contains(p.lower())
        hit = c if hit is None else (hit | c)
    for rx in rxs:
        c = padded.rlike(rx)
        hit = c if hit is None else (hit | c)
    out = (
        tx.filter(F.col(role_col) == role)
        .select(
            F.col(conv_col),
            F.col(idx_col).alias("__idx"),
            hit.cast("int").alias("__hit"),
        )
        .groupBy(conv_col)
        .agg(
            F.count("*").cast("long").alias("n_turns"),
            F.sum("__hit").cast("long").alias("n_refusals"),
            F.min(F.when(F.col("__hit") == 1, F.col("__idx"))).alias(
                "first_refusal_idx"
            ),
        )
    )
    return out.select(
        conv_col,
        "n_turns",
        "n_refusals",
        (F.col("n_refusals") / F.col("n_turns")).alias("refusal_ratio"),
        "first_refusal_idx",
    )


def context_growth(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    text_col: str = "text",
    budget_tokens: int = 512,
) -> DataFrame:
    """Context-window accounting per trajectory: each turn enters the
    model with all PRIOR turns as context; this reports where each
    conversation crosses *budget_tokens* and how big it ends up — the
    signal that drives truncate_context / conversation_examples
    packing choices upstream of SFT assembly.

    Token counts are whitespace tokens (the repo-wide baseline
    tokenizer; swap in bpe_tokenize for exact counts). For each turn,
    ``context = Σ tokens of turns with smaller turn_idx``.

    Returns ``(conv_col, n_turns, total_tokens, peak_context,
    first_over_idx, n_over)`` — ``first_over_idx`` the smallest
    ``turn_idx`` whose ENTERING context exceeds the budget (NULL if
    never), ``n_over`` how many turns entered over budget,
    ``peak_context`` the context size of the last turn.

    Scale shape: ONE exchange — the running sum is a window over
    ``partitionBy(conv) orderBy(idx)`` (rows-unbounded-preceding, the
    streaming frame Spark evaluates in O(n) without re-scans), and the
    per-conversation rollup keys on conv so the window's partitioning
    already satisfies it. Only (conv, idx, int) rows shuffle.
    """
    ntok = F.when(
        F.length(F.trim(F.coalesce(F.col(text_col), F.lit("")))) == 0,
        F.lit(0),
    ).otherwise(
        F.size(F.split(F.trim(F.coalesce(F.col(text_col), F.lit(""))), r"\s+"))
    )
    w = (
        W.partitionBy(conv_col)
        .orderBy("__idx")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    rows = tx.select(
        F.col(conv_col), F.col(idx_col).alias("__idx"), ntok.alias("__n")
    ).select(
        F.col(conv_col),
        F.col("__idx"),
        F.col("__n"),
        (F.sum("__n").over(w) - F.col("__n")).alias("__ctx"),
    )
    over = F.col("__ctx") > F.lit(budget_tokens)
    return rows.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum("__n").cast("long").alias("total_tokens"),
        F.max("__ctx").cast("long").alias("peak_context"),
        F.min(F.when(over, F.col("__idx"))).alias("first_over_idx"),
        F.sum(over.cast("int")).cast("long").alias("n_over"),
    )


def _code_5xx(status: Column) -> Column:
    """True iff the 3-digit status string is numerically in 500..599.
    regexp_extract yields '' on no-match → NULL through nullif →
    coalesce false; codes 600-999 no longer flag (ADVICE r4: the old
    lexicographic ``>= '500'`` matched them)."""
    return F.coalesce(
        F.nullif(status, F.lit("")).cast("int").between(500, 599),
        F.lit(False),
    )


def _error_flag(txt: Column) -> Column:
    """The shared error signal (tool_errors, trajectory_outcome): HTTP
    5xx in an access-log turn, ``code=5xx`` in a key-value turn, or an
    ERROR level in a structured/kv turn. Any HTTP protocol version;
    the status may end the line; 5xx is a numeric range test (600-999
    are NOT errors)."""
    http_status = F.regexp_extract(txt, r' HTTP/[0-9.]+" (\d{3})(?: |$)', 1)
    kv_code = F.regexp_extract(txt, r"\bcode=(\d{3})\b", 1)
    return (
        _code_5xx(http_status)
        | _code_5xx(kv_code)
        | txt.contains('"level":"ERROR"')
        | txt.rlike(r"\blevel=ERROR\b")
    )


def trajectory_outcome(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    tool_col: str = "tool",
    text_col: str = "text",
    resolver_role: str = "assistant",
    none_label: str = "<none>",
) -> DataFrame:
    """Per-conversation outcome labeling — the trajectory-level verdict
    an RLHF/SFT curation pass filters on before anything else: did the
    agent finish cleanly, die on an error, or just stop?

    The label is a pure function of the FINAL turn (highest *idx_col*)
    plus the error history: ``failed`` if the final turn carries the
    shared error signal (:func:`tool_errors`' definition), ``resolved``
    if it is a clean *resolver_role* turn, else ``abandoned`` (the
    conversation ends mid-flight on a user/tool/system turn).

    Returns ``(conv_col, n_turns, n_errors, last_idx, last_role,
    last_tool, outcome)``.

    Scale shape: ONE map-side-combinable groupBy on *conv_col* — the
    final turn is a ``max`` of a (idx, role, tool, err) struct, the
    error count a conditional sum, so a Zipf-hot 10^6-turn
    conversation collapses per map task and the shuffle carries one
    skinny struct row per (conv, task). No window, no text shuffle.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    last = F.max(
        F.struct(
            F.col(idx_col).alias("i"),
            F.col(role_col).alias("r"),
            _tool_label(tool_col, none_label).alias("t"),
            _error_flag(txt).alias("e"),
        )
    )
    agg = tx.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.sum(_error_flag(txt).cast("int")).cast("long").alias("n_errors"),
        last.alias("__last"),
    )
    return agg.select(
        conv_col,
        "n_turns",
        "n_errors",
        F.col("__last.i").alias("last_idx"),
        F.col("__last.r").alias("last_role"),
        F.col("__last.t").alias("last_tool"),
        F.when(F.col("__last.e"), F.lit("failed"))
        .when(F.col("__last.r") == resolver_role, F.lit("resolved"))
        .otherwise(F.lit("abandoned"))
        .alias("outcome"),
    )


def turn_gaps(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    ts_col: str = "ts",
    break_us: int = 300_000_000,
) -> DataFrame:
    """Inter-turn time-gap profile per conversation: exact-microsecond
    deltas between consecutive turns (by *idx_col*), the signal behind
    session-break decisions and stalled-trajectory triage — distinct
    from :func:`..aggregate.conversation_latency` (role-pair response
    time) and ``sessionize`` (window ASSIGNMENT); this reports the gap
    DISTRIBUTION shape per conversation.

    Returns ``(conv_col, n_turns, n_gaps, total_gap_us, max_gap_us,
    n_breaks)`` — ``n_breaks`` counts gaps above *break_us* (default
    5 minutes). All outputs are exact integers (``unix_micros``), so
    any engine reproduces them bit-for-bit.

    Scale shape: ONE exchange — the lag window partitions on
    *conv_col* and the rollup keys on it, so the window's partitioning
    satisfies the aggregation. Only (conv, idx, long) rows shuffle.
    """
    w = W.partitionBy(conv_col).orderBy("__idx")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    rows = tx.select(
        F.col(conv_col), F.col(idx_col).alias("__idx"), us.alias("__us")
    ).select(
        F.col(conv_col),
        (F.col("__us") - F.lag("__us").over(w)).alias("__gap"),
    )
    return rows.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.count("__gap").cast("long").alias("n_gaps"),
        F.sum("__gap").cast("long").alias("total_gap_us"),
        F.max("__gap").cast("long").alias("max_gap_us"),
        F.sum(
            F.when(F.col("__gap") > F.lit(break_us), 1).otherwise(0)
        ).cast("long").alias("n_breaks"),
    )


def sft_gate(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    loop_threshold: int = 3,
    budget_tokens: int = 512,
    max_over_budget: int = 0,
    require_outcome: str = "resolved",
) -> DataFrame:
    """The conversation-level SFT admission gate: compose
    :func:`trajectory_outcome`, :func:`agent_loops` and
    :func:`context_growth` into one keep/drop verdict per conversation
    — the first pass an SFT assembly job (jobs/run_sft_export.py)
    runs before any example is rendered. A conversation is kept iff
    its outcome equals *require_outcome*, it never looped past
    *loop_threshold*, and at most *max_over_budget* turns entered over
    the *budget_tokens* context budget.

    Returns ``(conv_col, outcome, max_run, n_over, keep,
    drop_reason)`` — ``drop_reason`` names the FIRST failing gate in
    (outcome, loop, budget) order, NULL when kept, so curation
    dashboards can attribute losses.

    Scale shape: all three inputs aggregate 10^12 turns down to one
    row per conversation on the SAME key, each with its documented
    one-exchange shape; the two joins then run on conversation-count
    tables already hashed on *conv_col* (no re-shuffle of turn data,
    at most sorts for the merge). Nothing here touches turn text a
    second time.
    """
    outcome = trajectory_outcome(tx, conv_col=conv_col).select(
        conv_col, "outcome"
    )
    loops = agent_loops(
        tx, conv_col=conv_col, loop_threshold=loop_threshold
    ).select(conv_col, "max_run", "looped")
    ctx = context_growth(
        tx, conv_col=conv_col, budget_tokens=budget_tokens
    ).select(conv_col, "n_over")
    joined = outcome.join(loops, conv_col).join(ctx, conv_col)
    bad_outcome = F.col("outcome") != require_outcome
    bad_loop = F.col("looped")
    bad_budget = F.col("n_over") > max_over_budget
    return joined.select(
        conv_col,
        "outcome",
        "max_run",
        "n_over",
        (~bad_outcome & ~bad_loop & ~bad_budget).alias("keep"),
        F.when(bad_outcome, F.lit("outcome"))
        .when(bad_loop, F.lit("loop"))
        .when(bad_budget, F.lit("budget"))
        .alias("drop_reason"),
    )


# speech acts — interrogative/imperative lead words (small public
# function-word lists, the same spirit as text._LANG_MARKERS)
QUESTION_LEADS: list[str] = [
    "what", "why", "how", "when", "where", "who", "which",
    "can", "could", "would", "will", "is", "are", "do", "does", "did",
]
COMMAND_LEADS: list[str] = [
    "please", "write", "create", "make", "run", "show", "give", "list",
    "explain", "generate", "fix", "add", "remove", "update", "use",
]


def speech_acts(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    role_col: str = "role",
    text_col: str = "text",
) -> DataFrame:
    """Per-turn dialogue-act tagging + per (conversation, role) mix —
    the instruction-data composition report (how much of the corpus is
    questions vs commands vs narration decides what an SFT mix teaches).

    Acts, first match wins: ``code`` (contains a \\`\\`\\` fence) >
    ``question`` (trimmed text ends with ``?`` or opens with an
    interrogative lead word) > ``command`` (opens with an imperative
    lead) > ``statement``. The lead-word test is one anchored
    alternation on ``lower(trim(text))`` — shared Java/RE2 syntax,
    pure codegen.

    Returns ``(conv_col, role_col, n_code, n_question, n_command,
    n_statement)``. Scale shape: classification is a per-row
    projection; the rollup is ONE groupBy with map-side partials (at
    most 4 cells per (conv, role) per task). No windows, no Python.
    """
    txt = F.coalesce(F.col(text_col), F.lit(""))
    low = F.lower(F.trim(txt))
    q_lead = "^(?:" + "|".join(QUESTION_LEADS) + r")\b"
    c_lead = "^(?:" + "|".join(COMMAND_LEADS) + r")\b"
    act = (
        F.when(txt.contains("```"), F.lit("code"))
        .when(low.rlike(r"\?$") | low.rlike(q_lead), F.lit("question"))
        .when(low.rlike(c_lead), F.lit("command"))
        .otherwise(F.lit("statement"))
    )
    tagged = tx.select(F.col(conv_col), F.col(role_col), act.alias("act"))
    return tagged.groupBy(conv_col, role_col).agg(
        *[
            F.sum(F.when(F.col("act") == a, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{a}")
            for a in ("code", "question", "command", "statement")
        ]
    )


def dialogue_balance(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
) -> DataFrame:
    """Conversation structural hygiene — the SFT pre-flight check for
    dialogue SHAPE (a well-formed training dialogue opens with the
    user, closes with the assistant, and alternates speakers; chat
    templates silently mis-render anything else): per conversation,
    the turn count, distinct-role count, the number of same-role
    adjacencies (two consecutive turns by the same speaker — each one
    is an alternation break), the opening and closing roles, and the
    composed ``well_formed`` verdict.

    Returns ``(conv_col, n_turns, n_roles, n_same_adj, first_role,
    last_role, well_formed)`` — ``well_formed`` iff the conversation
    opens with ``user``, closes with ``assistant``, and has zero
    same-role adjacencies. All integers/booleans — bit-exact in any
    engine.

    Scale shape: ONE exchange on *conv_col* — the lag window and the
    rollup share the conversation partitioning (the module-header
    contract), only (conv, idx, role) rows shuffle, and ``min_by`` /
    ``max_by`` replace a second ordering pass for the boundary roles.
    Hot conversations are one sorted partition each (stable_order).
    """
    w = W.partitionBy(conv_col).orderBy(idx_col)
    rows = tx.select(F.col(conv_col), F.col(idx_col), F.col(role_col)).select(
        F.col(conv_col),
        F.col(idx_col),
        F.col(role_col),
        F.when(F.col(role_col) == F.lag(role_col).over(w), 1)
        .otherwise(0)
        .alias("__same"),
    )
    out = rows.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_turns"),
        F.countDistinct(role_col).cast("long").alias("n_roles"),
        F.sum("__same").cast("long").alias("n_same_adj"),
        F.min_by(role_col, F.col(idx_col)).alias("first_role"),
        F.max_by(role_col, F.col(idx_col)).alias("last_role"),
    )
    return out.withColumn(
        "well_formed",
        (F.col("first_role") == "user")
        & (F.col("last_role") == "assistant")
        & (F.col("n_same_adj") == 0),
    )


def echo_rate(
    tx: DataFrame,
    *,
    conv_col: str = "conv_id",
    idx_col: str = "turn_idx",
    role_col: str = "role",
    text_col: str = "text",
    role: str = "assistant",
    high_num: int = 8,
    high_den: int = 10,
) -> DataFrame:
    """Per-conversation parroting profile — how much of each *role*
    turn's vocabulary is copied from the immediately preceding turn
    (the degenerate-assistant signal: echo-heavy completions teach a
    model to restate instead of answer, and rank high on reward
    models that over-value topical overlap).

    Per measured turn, containment is ``|tokens ∩ prev_tokens| /
    |tokens|`` over distinct lowercased whitespace tokens (the
    pair_overlap tokenization). The rollup keeps EXACT integers —
    ``sum_inter`` / ``sum_tokens`` — so ``echo_rate`` is ONE float
    division of identical ints in any engine (no float accumulation),
    and the high-echo test is the integer predicate ``inter·high_den ≥
    high_num·tokens`` (default ≥ 0.8) — bit-exact, no epsilon.

    Returns ``(conv_col, n_measured, sum_inter, sum_tokens,
    echo_rate, n_high)``; conversations whose *role* turns all lack a
    predecessor are absent.

    Scale shape: ONE exchange on *conv_col* — token arrays are built
    in the map-side projection, the lag window ships each
    conversation once (text DOES travel here, unavoidably: the
    operator compares adjacent turn content — same cost class as
    merge_transcript), and the rollup reuses the window partitioning.
    The set intersection is per-row codegen-free HOF work, O(tokens)
    per turn, never cross-row.
    """
    from .text import distinct_tokens

    txt = F.coalesce(F.col(text_col), F.lit(""))
    toks = distinct_tokens(txt)
    w = W.partitionBy(conv_col).orderBy(idx_col)
    lagged = tx.select(
        F.col(conv_col),
        F.col(idx_col),
        F.col(role_col),
        toks.alias("__toks"),
    ).select(
        F.col(conv_col),
        F.col(role_col),
        F.col("__toks"),
        F.lag("__toks").over(w).alias("__prev"),
    )
    measured = lagged.filter(
        (F.col(role_col) == role) & F.col("__prev").isNotNull()
    ).select(
        F.col(conv_col),
        F.size("__toks").alias("__n_cur"),
        F.size(F.array_intersect("__toks", "__prev")).alias("__n_inter"),
    )
    out = measured.groupBy(conv_col).agg(
        F.count("*").cast("long").alias("n_measured"),
        F.sum("__n_inter").cast("long").alias("sum_inter"),
        F.sum("__n_cur").cast("long").alias("sum_tokens"),
        F.sum(
            F.when(
                (F.col("__n_cur") > 0)
                & (
                    F.col("__n_inter") * high_den
                    >= F.lit(high_num) * F.col("__n_cur")
                ),
                1,
            ).otherwise(0)
        )
        .cast("long")
        .alias("n_high"),
    )
    return out.select(
        conv_col,
        "n_measured",
        "sum_inter",
        "sum_tokens",
        F.when(
            F.col("sum_tokens") > 0,
            F.round(F.col("sum_inter") / F.col("sum_tokens"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("echo_rate"),
        "n_high",
    )
