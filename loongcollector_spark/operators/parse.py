"""Parsing processors: regex / grok / JSON / delimiter / KV / split.

Spark-native re-implementations of the reference's parse plugins
(capability parity, new code):

* regex    — plugins/processor/regex/regex.go:32-129 and the C++ twin
             core/plugin/processor/ProcessorParseRegexNative.cpp:103-163
* grok     — plugins/processor/grok/processor_grok.go:35-258
* json     — plugins/processor/json/processor_json.go:29-201
* delimiter/CSV — plugins/processor/split/char/split_char.go:34-44,
             plugins/processor/csv/processor_csv.go:30-43
* key-value — plugins/processor/split/keyvalue/
* split-one-into-many — plugins/processor/split/logstring/split_log_string.go:29-37
* multiline merge — core/plugin/processor/inner/ProcessorMergeMultilineLogNative

Hot paths stay JVM-side (regexp_extract / split / str_to_map /
from_json are whole-stage-codegen'd). Where single-pass multi-group or
dialect-exact semantics demand Python, we use Arrow-batched pandas
UDFs with patterns compiled once on the driver (the reference's
compile-once-run-many, regex.go:57) — never per-row Python.

Unmatch policy flags mirror CommonParserOptions.h:27-40:
``keep_source`` (copy raw alongside parsed), ``keep_source_if_parse_error``,
``discard_unmatched`` (drop the event on parse failure).

Evaluate-once rule: every Python parse UDF a processor emits is marked
``.asNondeterministic()``. Catalyst otherwise treats a pandas UDF as
deterministic and, when a filter on the parsed output follows (a
``filter_regex`` on a parsed key, or ``discard_unmatched``'s own
filter), pushes the filter beneath the projection by substituting the
UDF call into the predicate — the plan then holds two
``ArrowEvalPython`` nodes and every task runs two Python workers that
parse each row twice. The sites: ``parse_json``, ``parse_grok``,
``enrich._desensitize_md5_resub`` and ``otlp_wire.decode_udf``
(protobuf OTLP in ``operators/otel.py``, whose explodes already keep
span filters above the decode; marked so the rule does not rest on
that). The trade-off: a filter that
follows the parse no longer moves beneath it even when it reads only
source columns, so such a filter runs after the Python parse rather
than before it. Filter on source columns before parsing
(``q_parse_json`` and ``q_grok`` in ``queries.py`` do).
"""

from __future__ import annotations

import re
from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.grok import cast_for_hint, compile_grok
from ..functions.jsonflatten import parse_and_flatten

__all__ = [
    "parse_regex",
    "parse_grok",
    "parse_json",
    "parse_json_typed",
    "parse_delimiter",
    "parse_keyvalue",
    "parse_anchor",
    "parse_apsara",
    "split_log_string",
    "split_log_regex",
    "merge_multiline",
    "parse_timestamp",
    "parse_gotime",
]


def _apply_unmatch_policy(
    df: DataFrame,
    matched: Column,
    source_key: str,
    keep_source: bool,
    discard_unmatched: bool,
    keep_source_if_parse_error: bool = True,
    rename_source_on_error: str | None = None,
) -> DataFrame:
    """Common keep/discard-source handling after a parse stage
    (CommonParserOptions.h:27-40 flag semantics):

    * ``keep_source=True``           — raw column kept on every row.
    * ``keep_source=False`` +
      ``keep_source_if_parse_error`` — raw survives ONLY on rows the
      parse failed (NULL on parsed rows; optionally under a renamed
      key), so successful rows don't carry the payload downstream.
    * ``keep_source=False`` without the error flag, or with
      ``discard_unmatched`` — raw column dropped entirely.
    """
    if discard_unmatched:
        # ProcessorParseRegexNative.cpp discards the event when parse
        # fails and KeepingSourceWhenParseFail is off.
        df = df.filter(matched)
    if not keep_source:
        if discard_unmatched or not keep_source_if_parse_error:
            df = df.drop(source_key)
        else:
            dest = rename_source_on_error or source_key
            df = df.withColumn(dest, F.when(~matched, F.col(source_key)))
            if dest != source_key:
                df = df.drop(source_key)
    return df


def parse_regex(
    df: DataFrame,
    source_key: str,
    regex: str,
    keys: list[str],
    *,
    full_match: bool = True,
    keep_source: bool = True,
    keep_source_if_parse_error: bool = True,
    discard_unmatched: bool = False,
    types: dict[str, str] | None = None,
) -> DataFrame:
    """Extract capture groups of *regex* into columns *keys*.

    One JVM pass in whole-stage codegen: ``regexp_replace`` rewrites a
    matched line into a delimiter-joined group list and ``split``
    breaks it apart, with one ``rlike`` as the match test (the
    reference's single-match-then-emit loop, regex.go:105-129). The
    whole-line ``(.*)`` pattern skips regex entirely, as the reference's
    fast path does (ProcessorParseRegexNative.cpp:142-146).

    ``full_match`` anchors the pattern (Go regexp full-find vs match
    semantics); unmatched rows get NULL keys and follow the unmatch
    policy flags.
    """
    # whole-line fast path (reference: Regex == '(.*)') — must honor
    # the same policy flags and type casts as the regex paths: a NULL
    # source is the one "unmatched" case here
    if regex in ("(.*)", "^(.*)$") and len(keys) == 1:
        out = df.withColumn(keys[0], F.col(source_key))
        out = _apply_unmatch_policy(
            out,
            F.col(source_key).isNotNull(),
            source_key,
            keep_source,
            discard_unmatched,
            keep_source_if_parse_error,
        )
        if types and keys[0] in types:
            ct = cast_for_hint(types[keys[0]])
            if ct:
                out = out.withColumn(keys[0], F.col(keys[0]).cast(ct))
        return out

    # Wrapping in a non-capturing group keeps group numbering and is
    # safe for patterns already carrying ^/$ (including escaped \$ —
    # never strip characters off user regexes).
    if full_match:
        anchored = f"^(?:{regex})$"
        search = anchored
    else:
        # search-anywhere semantics (Go FindStringSubmatch): the
        # replace pattern consumes the WHOLE line around the first
        # match so the rewrite below yields only the groups
        anchored = f"(?s)^.*?(?:{regex}).*$"
        search = regex
    # Single-pass JVM extraction: one regexp_replace rewrites the
    # matched line into a \x01-joined group list, one split breaks
    # it apart — 2 regex evaluations per row instead of 1 rlike +
    # N regexp_extract (the naive per-key plan). At 100 TB this is
    # the difference between reading the hot column N+1 times and
    # twice per row, all inside whole-stage codegen.
    delim = "\x01"
    template = delim.join(f"${i}" for i in range(1, len(keys) + 1))
    parts = F.split(F.regexp_replace(F.col(source_key), anchored, template), delim)
    # size check guards against captured values containing the
    # delimiter byte: misalignment becomes a parse FAILURE, never
    # silently shifted fields
    matched = F.col(source_key).rlike(search) & (F.size(parts) == len(keys))
    out = df.withColumn("__p", parts).withColumn("__m", matched)
    for i, k in enumerate(keys):
        out = out.withColumn(
            k, F.when(F.col("__m"), F.col("__p").getItem(i))
        )
    out = _apply_unmatch_policy(
        out, F.col("__m"), source_key, keep_source, discard_unmatched,
        keep_source_if_parse_error,
    ).drop("__m", "__p")
    if types:
        for k, t in types.items():
            ct = cast_for_hint(t)
            if ct:
                out = out.withColumn(k, F.col(k).cast(ct))
    return out


def parse_grok(
    df: DataFrame,
    source_key: str,
    match: list[str],
    *,
    custom_patterns: dict[str, str] | None = None,
    keep_source: bool = True,
    keep_source_if_parse_error: bool = True,
    discard_unmatched: bool = False,
    apply_type_hints: bool = True,
) -> DataFrame:
    """Try grok expressions in order; first hit wins (processor_grok.go:135-173).

    All expressions are compiled ONCE on the driver via the grok
    compiler (functions/grok.py) and closed over by one Arrow-batched
    pandas UDF; output columns are the union of aliases across
    patterns (a pattern that didn't match contributes NULLs).
    """
    compiled = [compile_grok(m, custom_patterns) for m in match]
    all_keys: list[str] = []
    hints: dict[str, str] = {}
    for _, tps in compiled:
        for k, t in tps.items():
            if k not in all_keys:
                all_keys.append(k)
            hints[k] = t
    pats = [p for p, _ in compiled]
    schema = T.StructType(
        [T.StructField(k, T.StringType()) for k in all_keys]
        + [T.StructField("__m", T.BooleanType())]
    )
    nil = {k: None for k in all_keys}

    @F.pandas_udf(schema)
    def grok_extract(s: pd.Series) -> pd.DataFrame:
        # vectorized first-match-wins: pattern i runs (C loop,
        # Series.str.extract) only on rows no earlier pattern matched —
        # exactly the reference's ordered Match[] loop
        # (processor_grok.go:135-173), batch-at-a-time
        out = pd.DataFrame(nil, index=s.index, columns=all_keys, dtype=object)
        matched = pd.Series(False, index=s.index)
        for p in pats:
            rest = ~matched & s.notna()
            if not rest.any():
                break
            sub = s[rest]
            hit = sub.str.match(p).fillna(False).astype(bool)
            if not hit.any():
                continue
            g = sub[hit].str.extract(p, expand=True)
            g = g.where(pd.notna(g), None)
            for col in g.columns:
                if isinstance(col, str) and "__dup" in col:
                    # duplicate-alias group (alternation branch, see
                    # functions/grok.py): fold into its base alias —
                    # at most one branch matched, so base is null
                    # wherever the dup has a value
                    base = col.split("__dup")[0]
                    if base in g.columns:
                        g[base] = g[base].where(pd.notna(g[base]), g[col])
            for col in g.columns:
                if col in all_keys:
                    out.loc[g.index, col] = g[col]
            matched.loc[g.index] = True
        out["__m"] = matched
        return out[[*all_keys, "__m"]]

    # evaluate-once rule: see the module docstring
    grok_extract = grok_extract.asNondeterministic()
    out = df.withColumn("__p", grok_extract(F.col(source_key)))
    for k in all_keys:
        out = out.withColumn(k, F.col("__p")[k])
    out = _apply_unmatch_policy(
        out.withColumn("__m", F.col("__p.__m")),
        F.col("__m"),
        source_key,
        keep_source,
        discard_unmatched,
        keep_source_if_parse_error,
    ).drop("__p", "__m")
    if apply_type_hints:
        for k, t in hints.items():
            ct = cast_for_hint(t)
            if ct:
                out = out.withColumn(k, F.col(k).cast(ct))
    return out


def parse_json(
    df: DataFrame,
    source_key: str,
    *,
    expand_depth: int = 0,
    expand_connector: str = "_",
    prefix: str = "",
    use_source_key_as_prefix: bool = False,
    expand_array: bool = False,
    keys: list[str] | None = None,
    keep_source: bool = True,
    discard_unmatched: bool = False,
    dest_key: str = "parsed",
) -> DataFrame:
    """Parse+flatten JSON with the reference dialect (processor_json.go:141-201).

    Produces a ``map<string,string>`` column *dest_key* (dynamic keys,
    matching the reference's dynamic KV model); if *keys* is given the
    named keys are additionally projected to top-level string columns
    — the static-schema fast path Catalyst can prune.
    """
    if use_source_key_as_prefix:
        prefix = f"{source_key}{expand_connector}{prefix}"

    @F.pandas_udf(T.MapType(T.StringType(), T.StringType()))
    def flatten(s: pd.Series) -> pd.Series:
        return s.map(
            lambda v: parse_and_flatten(
                v,
                depth=expand_depth,
                connector=expand_connector,
                prefix=prefix,
                expand_array=expand_array,
            )
        )

    # evaluate-once rule: see the module docstring
    flatten = flatten.asNondeterministic()
    out = df.withColumn(dest_key, flatten(F.col(source_key)))
    matched = F.col(dest_key).isNotNull()
    out = _apply_unmatch_policy(
        out, matched, source_key, keep_source, discard_unmatched
    )
    if keys:
        for k in keys:
            out = out.withColumn(k, F.col(dest_key).getItem(k))
    return out


def parse_json_typed(
    df: DataFrame, source_key: str, schema: T.StructType | str, dest_key: str = "parsed"
) -> DataFrame:
    """Schema-known fast path: JVM ``from_json`` (no Python at all).

    Preferred at scale when the JSON shape is declared in the pipeline
    config — Catalyst prunes unread subfields from the parse.
    """
    return df.withColumn(dest_key, F.from_json(F.col(source_key), schema))


def parse_delimiter(
    df: DataFrame,
    source_key: str,
    separator: str,
    keys: list[str],
    *,
    quote: str | None = None,
    keep_source: bool = True,
    discard_unmatched: bool = False,
    preserve_others: bool = False,
    expand_others: bool = False,
    expand_key_prefix: str = "expand_",
    max_expand: int = 8,
) -> DataFrame:
    """Split on a separator into *keys* (split_char.go:34-44,
    split_string.go:60-101).

    Remainder handling mirrors the reference:

    * default            — parts beyond *keys* are dropped.
    * ``preserve_others`` — the unsplit remainder lands in a
      ``_split_preserve_`` column (split_char.go:127-143).
    * ``preserve_others + expand_others`` — extra parts become columns
      ``{expand_key_prefix}1..N`` (split_string.go:92-99). The
      reference expands unboundedly; a DataFrame schema is static, so
      expansion is capped at *max_expand* columns with the tail of the
      row (still unsplit) in the last expand column.

    Short rows assign the available parts to the leading keys and
    leave the rest NULL (split_string.go:80-88 assigns partial).
    Quoted mode delegates to ``from_csv`` (processor_csv semantics)
    and matches the unquoted path on rows without quotes: extra
    fields are dropped, an empty field is ``''``, a row with fewer
    fields than keys is unmatched. A quote that never closes makes
    the row unmatched, as does ``\\x01`` inside a keyed field.
    """
    if quote:
        # from_csv reads an empty field and a missing one both as NULL
        # and flags extra fields as corrupt, so its own verdict cannot
        # follow the unquoted rule. An appended \x01 end field tells
        # them apart: it lands in a key exactly when the row is short,
        # or is swallowed into one by a quote that never closes. Keys
        # before it are present (NULL there means empty), keys from it
        # on are missing.
        end = "\x01"
        schema = ", ".join(f"`{k}` string" for k in keys) + ", `__corrupt` string"
        parsed = F.from_csv(
            F.concat(F.col(source_key), F.lit(separator + end)),
            F.lit(schema),
            {
                "sep": separator,
                "quote": quote,
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": "__corrupt",
            },
        )
        # __e: 1-based index of the key holding the end field, 0 if none
        out = df.withColumn("__p", parsed).withColumn(
            "__e",
            F.array_position(
                F.array(*[F.col("__p")[k].contains(end) for k in keys]), True
            ),
        )
        present = F.col("__p").isNotNull() & (F.col("__e") == 0)
        for i, k in enumerate(keys):
            out = out.withColumn(
                k,
                F.when(
                    present | (F.col("__e") > i + 1),
                    F.coalesce(F.col("__p")[k], F.lit("")),
                ),
            )
        return _apply_unmatch_policy(
            out, present, source_key, keep_source, discard_unmatched
        ).drop("__p", "__e")
    n = len(keys)
    n_extra = max_expand if (preserve_others and expand_others) else 0
    # SplitN semantics: keep the tail unsplit past the last column we
    # can land it in (limit = keys + expands, +1 for the remainder)
    limit = n + n_extra + (0 if n_extra else 1)
    parts = F.split(F.col(source_key), re.escape(separator), limit)
    out = df.withColumn("__p", parts)
    matched = F.size(F.col("__p")) >= n
    # F.get (not getItem): out-of-range reads are NULL, not an ANSI
    # ArrayIndexOutOfBounds error, giving the partial-assign semantics
    for i, k in enumerate(keys):
        out = out.withColumn(k, F.get(F.col("__p"), i))
    if preserve_others and not expand_others:
        out = out.withColumn("_split_preserve_", F.get(F.col("__p"), n))
    elif preserve_others and expand_others:
        for j in range(n_extra):
            out = out.withColumn(
                f"{expand_key_prefix}{j + 1}", F.get(F.col("__p"), n + j)
            )
    return _apply_unmatch_policy(
        out, matched, source_key, keep_source, discard_unmatched
    ).drop("__p")


def parse_keyvalue(
    df: DataFrame,
    source_key: str,
    *,
    pair_separator: str = " ",
    kv_separator: str = "=",
    dest_key: str = "kv",
    keys: list[str] | None = None,
) -> DataFrame:
    """``a=1 b=2`` → map (processor_split_key_value analog) via JVM
    ``str_to_map`` — fully codegen'd, no Python."""
    out = df.withColumn(
        dest_key,
        F.str_to_map(
            F.col(source_key), F.lit(re.escape(pair_separator)), F.lit(re.escape(kv_separator))
        ),
    )
    if keys:
        for k in keys:
            out = out.withColumn(k, F.col(dest_key).getItem(k))
    return out


def split_log_string(
    df: DataFrame, source_key: str, separator: str = "\n", dest_key: str | None = None
) -> DataFrame:
    """One event → many by separator (split_log_string.go:29-37):
    ``explode_outer(split(...))``. Other columns are duplicated per
    part, matching the reference's copy-contents semantics. A NULL
    source passes the event through (one row, NULL part) — the plugin
    skips events without the key rather than dropping them, and plain
    ``explode`` would erase the row entirely."""
    dest = dest_key or source_key
    out = df.withColumn(
        dest,
        F.explode_outer(F.split(F.col(source_key), re.escape(separator))),
    )
    return out


def merge_multiline(
    df: DataFrame,
    source_key: str,
    start_pattern: str | None = None,
    group_cols: Iterable[str] = (),
    order_col: str = "turn_idx",
    *,
    continue_pattern: str | None = None,
    end_pattern: str | None = None,
    joiner: str = "\n",
    dest_key: str | None = None,
) -> DataFrame:
    """Multiline assembly with the reference's Start/Continue/End
    pattern modes (ProcessorSplitMultilineLogStringNative.h:68-79):

    * ``start_pattern``    — a matching line begins a new event; the
      lines until the next start attach to it.
    * ``continue_pattern`` — a matching line CONTINUES the previous
      event; a non-matching line begins a new one.
    * ``end_pattern``      — a matching line ENDS the current event;
      the next line begins a new one.

    Exactly one of the three must be given. Implemented as a
    running-count window (block id = cumulative boundary count) +
    ordered ``collect_list`` — distributed, no Python.
    """
    from pyspark.sql import Window as W

    modes = [p is not None for p in (start_pattern, continue_pattern, end_pattern)]
    if sum(modes) != 1:
        raise ValueError("exactly one of start/continue/end pattern required")
    dest = dest_key or source_key
    gcols = list(group_cols)
    w = W.partitionBy(*gcols).orderBy(order_col)
    if start_pattern is not None:
        boundary = F.col(source_key).rlike(start_pattern)
        blk = F.sum(boundary.cast("long")).over(w)
    elif continue_pattern is not None:
        boundary = ~F.col(source_key).rlike(continue_pattern)
        blk = F.sum(boundary.cast("long")).over(w)
    else:
        # end mode: the block id increments AFTER an end line — count
        # end-matches over strictly-preceding rows
        prev_end = F.lag(
            F.col(source_key).rlike(end_pattern).cast("long"), 1, 0
        ).over(w)
        blk = F.sum(prev_end).over(w)
    blocks = df.withColumn("__blk", blk)
    # order within a block is restored by sorting (order_col, line)
    # structs — struct ordering is by first field, so the concat is
    # deterministic regardless of collect_list arrival order
    sorted_lines = F.transform(
        F.array_sort(F.collect_list(F.struct(F.col(order_col), F.col(source_key)))),
        lambda s: s[source_key],
    )
    # the merged event inherits every other column from its FIRST line
    # (deterministic min_by over (order, line) — the reference merges
    # later lines' CONTENT into the first event, keeping its fields);
    # without this the groupBy would silently drop enrichment columns
    first_key = F.struct(F.col(order_col), F.col(source_key))
    carried = [
        c
        for c in df.columns
        if c not in set(gcols) | {source_key, order_col, dest}
    ]
    merged = (
        blocks.groupBy(*gcols, "__blk")
        .agg(
            F.concat_ws(joiner, sorted_lines).alias(dest),
            F.min(order_col).alias(order_col),
            *[F.min_by(F.col(c), first_key).alias(c) for c in carried],
        )
        .drop("__blk")
    )
    return merged


def parse_anchor(
    df: DataFrame,
    source_key: str,
    anchors: list[dict],
) -> DataFrame:
    """Substring extraction between Start/Stop anchor strings
    (plugins/processor/anchor/anchor.go:62-71): for each anchor spec
    ``{"start": s, "stop": e, "field": name}`` extract the text
    between the first occurrence of ``s`` and the next ``e`` (empty
    start ⇒ line begin; empty stop ⇒ line end). JVM regex, one
    extraction per anchor."""
    out = df
    for a in anchors:
        start = re.escape(a.get("start", ""))
        stop = re.escape(a.get("stop", ""))
        if a.get("start") and a.get("stop"):
            pat = f"{start}(.*?){stop}"
        elif a.get("start"):
            pat = f"{start}(.*)$"
        elif a.get("stop"):
            pat = f"^(.*?){stop}"
        else:
            # both anchors empty: whole line (a lazy ^(.*?) with no
            # stop would always match zero characters)
            pat = "^(.*)$"
        out = out.withColumn(
            a["field"], F.regexp_extract(F.col(source_key), pat, 1)
        )
    return out


def split_log_regex(
    df: DataFrame,
    source_key: str,
    start_pattern: str,
    dest_key: str | None = None,
) -> DataFrame:
    """Split one text blob into multiple events at lines matching
    *start_pattern* (split_log_regex.go:27-36 multiline semantics):
    every line matching the pattern begins a new event; continuation
    lines attach to the current event (lines before the first match
    form the first event).

    Codegen plan (the merge_multiline recipe): posexplode lines →
    running-sum boundary window per source row → groupBy(row, block) →
    ordered concat. One regex evaluation and O(1) state per line — the
    interpreted ``F.aggregate`` fold this replaces rebuilt its
    accumulator array per line (O(lines²) per blob, no codegen;
    NOTES.md HOF lesson)."""
    dest = dest_key or source_key
    carry = [c for c in df.columns if c != source_key]
    base = df.withColumn("__rid", F.monotonically_increasing_id())
    lines = base.select(
        "__rid",
        *carry,
        F.posexplode(F.split(F.col(source_key), "\n")).alias("__pos", "__line"),
    )
    w = W.partitionBy("__rid").orderBy("__pos")
    blk = F.sum(F.col("__line").rlike(start_pattern).cast("long")).over(w)
    blocks = lines.withColumn("__blk", blk)
    # group ONLY on (__rid, __blk): carry columns are constant per
    # __rid and ride through first() — grouping on them directly would
    # reject unorderable carry types (e.g. the map column parse_json
    # produces). Line order within a block is restored via (pos, line)
    # struct sort — deterministic regardless of collect_list arrival
    # order
    merged = (
        blocks.groupBy("__rid", "__blk")
        .agg(
            F.concat_ws(
                "\n",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__line"))),
                    lambda s: s["__line"],
                ),
            ).alias(dest),
            *[F.first(c).alias(c) for c in carry],
        )
        .drop("__blk")
    )
    # no orderBy: a DataFrame is an unordered multiset and a global
    # sort here would cost a full exchange at scale; impose order
    # downstream (stable_order) where a consumer needs it
    return merged.select(*carry, dest)


def _split_log_regex_hof(
    df: DataFrame,
    source_key: str,
    start_pattern: str,
    dest_key: str | None = None,
) -> DataFrame:
    """Interpreted ``F.aggregate``-fold twin of :func:`split_log_regex`
    — kept ONLY as the semantic reference for the agreement test
    (tests/test_parse2_sinks.py); do not use in data paths."""
    dest = dest_key or source_key
    lines = F.split(F.col(source_key), "\n")
    blocks = F.aggregate(
        lines,
        F.array().cast("array<string>"),
        lambda acc, line: F.when(
            (F.size(acc) == 0) | line.rlike(start_pattern),
            F.concat(acc, F.array(line)),
        ).otherwise(
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.concat(F.element_at(acc, -1), F.lit("\n"), line)
                ),
            )
        ),
    )
    return df.withColumn(dest, F.explode(blocks))


def parse_apsara(
    df: DataFrame,
    source_key: str,
    *,
    keep_source: bool = True,
    discard_unmatched: bool = False,
) -> DataFrame:
    """Apsara log format parser
    (core/plugin/processor/ProcessorParseApsaraNative.cpp capability):
    ``[2024-01-01 00:00:00.123456]\\t[LEVEL]\\t[tid]\\t[file:line]\\tk:v\\tk2:v2``
    → fixed columns ``apsara_time, level, thread, location`` plus a
    ``fields`` map of the trailing k:v pairs. Duplicate trailing keys
    keep the LAST value (map semantics; deviation from the reference's
    duplicate-key list noted in SURVEY §2.2). All JVM expressions.
    """
    parts = F.split(F.col(source_key), "\t")
    strip = lambda c: F.regexp_replace(c, r"^\[|\]$", "")  # noqa: E731
    matched = (F.size(parts) >= 4) & F.element_at(parts, 1).startswith("[")
    kvs = F.slice(parts, 5, F.greatest(F.size(parts) - 4, F.lit(0)))
    # entry value = remainder after the first ':'
    fields = F.map_from_entries(
        F.transform(
            F.filter(kvs, lambda s: s.contains(":")),
            lambda s: F.struct(
                F.substring_index(s, ":", 1).alias("key"),
                F.substring(
                    s, F.length(F.substring_index(s, ":", 1)) + 2, F.length(s)
                ).alias("value"),
            ),
        )
    )
    out = (
        df.withColumn("__m", matched)
        .withColumn(
            "apsara_time", F.when(F.col("__m"), strip(F.element_at(parts, 1)))
        )
        .withColumn("level", F.when(F.col("__m"), strip(F.element_at(parts, 2))))
        .withColumn("thread", F.when(F.col("__m"), strip(F.element_at(parts, 3))))
        .withColumn("location", F.when(F.col("__m"), strip(F.element_at(parts, 4))))
        .withColumn("fields", F.when(F.col("__m"), fields))
    )
    return _apply_unmatch_policy(
        out, F.col("__m"), source_key, keep_source, discard_unmatched
    ).drop("__m")


# epoch pseudo-format → seconds divisor (shared by parse_timestamp's
# epoch_unit path and parse_gotime's fixed pseudo-formats)
_EPOCH_FACTORS = {
    "seconds": 1,
    "milliseconds": 1000,
    "microseconds": 1000000,
    "nanoseconds": 1000000000,
}


def parse_timestamp(
    df: DataFrame,
    source_key: str,
    fmt: str,
    *,
    dest_key: str = "ts",
    source_timezone: str | None = None,
    epoch_unit: str | None = None,
) -> DataFrame:
    """strptime/gotime analog (strptime.go, processor_gotime.go:34-50,
    ProcessorParseTimestampNative.h:34-46): parse *source_key* with a
    Spark datetime *fmt* into *dest_key*; epoch modes seconds /
    milliseconds / microseconds; optional source-timezone shift."""
    if epoch_unit:
        col = F.timestamp_seconds(
            F.col(source_key).cast("double") / _EPOCH_FACTORS[epoch_unit]
        )
    else:
        col = F.to_timestamp(F.col(source_key), fmt)
    if source_timezone:
        col = F.to_utc_timestamp(col, source_timezone)
    return df.withColumn(dest_key, col)


def parse_gotime(
    df: DataFrame,
    source_key: str,
    source_format: str,
    dest_key: str,
    dest_format: str,
    *,
    source_location: int | str | None = None,
    dest_location: int | str | None = None,
    keep_source: bool = True,
) -> DataFrame:
    """processor_gotime (processor_gotime.go:34-100): parse
    *source_key* with a GO time layout (``2006-01-02 15:04:05`` magic
    reference instant) at *source_location*, re-format with the Go
    layout *dest_format* at *dest_location* into *dest_key*. Layouts
    translate once on the driver (functions/gotime.py); the fixed
    pseudo-formats ``seconds``/``milliseconds``/``microseconds``/
    ``nanoseconds`` take the epoch path. Locations are UTC offsets in
    hours (reference ints) or zone names."""
    from ..functions.gotime import (
        GO_FIXED_PATTERNS,
        go_layout_to_spark,
        location_to_tz,
    )

    src_tz = location_to_tz(source_location)
    dst_tz = location_to_tz(dest_location)
    if source_format in GO_FIXED_PATTERNS:
        parsed = parse_timestamp(
            df, source_key, "", dest_key="__gt", epoch_unit=source_format
        )
    else:
        parsed = parse_timestamp(
            df,
            source_key,
            go_layout_to_spark(source_format),
            dest_key="__gt",
            source_timezone=src_tz,
        )
    ts = F.col("__gt")
    if dest_format in GO_FIXED_PATTERNS:
        # epoch output is location-independent (Go t.In(loc).Unix()
        # ignores loc) — do NOT apply the dest wall-clock shift here.
        # Sub-second precision survives (Go t.UnixMilli keeps the ms;
        # unix_timestamp would floor to the second): derive from
        # microseconds — floor division matches Go's always-positive
        # nanosecond field for pre-epoch instants too. Nanosecond
        # output carries µs precision (timestamp's resolution).
        factor = _EPOCH_FACTORS[dest_format]
        us = F.unix_micros(ts)
        if factor <= 1_000_000:
            out_col = (
                F.floor(us / F.lit(1_000_000 // factor))
                .cast("long")
                .cast("string")
            )
        else:
            out_col = (us * F.lit(factor // 1_000_000)).cast("string")
    else:
        if dst_tz:
            ts = F.from_utc_timestamp(ts, dst_tz)
        out_col = F.date_format(ts, go_layout_to_spark(dest_format))
    out = parsed.withColumn(dest_key, out_col).drop("__gt")
    if not keep_source and source_key != dest_key:
        out = out.drop(source_key)
    return out


def json_validity_report(
    tx: DataFrame,
    *,
    group_col: str = "tool",
    role_col: str = "role",
    text_col: str = "text",
    role: str | None = None,
    none_label: str = "<none>",
) -> DataFrame:
    """Tool-output JSON conformance: per *group_col* value (NULL/blank
    → *none_label*), how many turns carry text that parses as valid
    JSON — the schema-hygiene gate an agent pipeline runs before
    trusting tool outputs downstream (a tool whose validity ratio
    drops is emitting malformed payloads). *role* optionally restricts
    the scan to one role's turns (e.g. ``'tool'``).

    Validity is RFC-8259 parseability via ``try_parse_json`` (Spark's
    variant parser — a JVM expression, NULL on malformed input; any
    JSON type counts, scalars included). One engine-semantics caveat,
    which the oracle fixture never exercises: Spark rejects duplicate
    object keys (``spark.sql.variant.allowDuplicateKeys`` default
    false) where plain RFC validators accept them.

    Returns ``(group_col, n_rows, n_valid, valid_ratio)``.

    Scale shape: one groupBy on the (tiny-cardinality) tool key with
    map-side partial agg — the per-task combine bounds the exchange at
    #tools × #partitions rows regardless of corpus size; parse +
    flags are a narrow projection over the scan.
    """
    src = tx
    if role is not None:
        src = src.filter(F.col(role_col) == role)
    grp = F.coalesce(
        F.nullif(F.trim(F.col(group_col)), F.lit("")), F.lit(none_label)
    ).alias(group_col)
    valid = (
        F.when(F.try_parse_json(F.col(text_col)).isNotNull(), 1)
        .otherwise(0)
    )
    agg = src.select(grp, valid.alias("__v")).groupBy(group_col).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum("__v").cast("long").alias("n_valid"),
    )
    return agg.withColumn(
        "valid_ratio", F.col("n_valid") / F.col("n_rows")
    )
