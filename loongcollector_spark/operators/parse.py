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
(``q_parse_json`` and ``q_grok`` in ``queries/processors.py`` do).

Build rule: a processor adds or replaces its columns with ONE
``withColumns`` (plus at most one ``drop`` of its temporaries and the
source), never a ``withColumn`` per key. Plan building is bound by
py4j round-trips and JVM analysis, not by Spark's work: each
``withColumn`` re-analyses the whole growing plan, and with PySpark
4.1's call-site capture a ``Column`` method costs ~11 round-trips
(``getItem`` 21, ``F.col`` 13) where ``F.expr``, ``F.lit`` and
``F.when`` cost 3. So each shared ``Column`` (the source, the parts
array) is built once, and per-key expressions over the processor's own
temporaries are ``F.expr`` text (``functions/sqltext.py``). The
optimized plan is the one the ``withColumn`` chain gave
(``tests/test_plans.py`` pins the spine's). Every parsed column is
computed from the processor's input (only the keep-source policy sees
a key that names the source, as the chain did); a key that names an
input column replaces it in place, and a repeated key keeps its first
position and its last value, as the chain did. Keys that differ only
in letter case are one column to the chain and a
``COLUMN_ALREADY_EXISTS`` error to ``withColumns``. Temporary columns
carry the ``__lc_`` prefix (as ``plans/checkpoint.UNIT_COL`` does), so
no user key or input column is silently dropped with them.
"""

from __future__ import annotations

import re
from typing import Iterable

import pandas as pd
from pyspark.sql import Column, DataFrame, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import sqltext
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


# temporaries of the parse processors (see the build rule above)
_P = "__lc_p"  # parts array / parsed struct
_M = "__lc_m"  # match flag
_E = "__lc_e"  # parse_delimiter: index of the key holding the end field
_CORRUPT = "__lc_corrupt"  # parse_delimiter: from_csv's corrupt-record field

_RE = "__lc_re"  # _match_groups: the replace's pattern
_S = "__lc_s"  # _match_groups: the match test's pattern
_T = "__lc_t"  # _match_groups: the replace's template


def _apply_unmatch_policy(
    df: DataFrame,
    parsed: dict[str, Column],
    matched: Column,
    source_key: str,
    keep_source: bool,
    discard_unmatched: bool,
    keep_source_if_parse_error: bool = True,
    *,
    casts: dict[str, str] | None = None,
    temps: tuple[str, ...] = (),
) -> DataFrame:
    """Add the *parsed* columns and apply the keep/discard-source policy
    (CommonParserOptions.h:27-40 flag semantics) in one ``withColumns``
    and at most one ``drop`` of *temps* and the source:

    * ``keep_source=True``           — raw column kept on every row.
    * ``keep_source=False`` +
      ``keep_source_if_parse_error`` — raw survives ONLY on rows the
      parse failed (NULL on parsed rows), so successful rows don't
      carry the payload downstream.
    * ``keep_source=False`` without the error flag, or with
      ``discard_unmatched`` — raw column dropped entirely.

    *casts* (column → Spark type, type hints) apply last, to the parsed
    column of that name or else to the input column. *matched* may
    read *temps*, which *df* must already hold.
    """
    if discard_unmatched:
        # ProcessorParseRegexNative.cpp discards the event when parse
        # fails and KeepingSourceWhenParseFail is off.
        df = df.filter(matched)
    cols = dict(parsed)
    drop = list(temps)
    if not keep_source:
        if discard_unmatched or not keep_source_if_parse_error:
            drop.append(source_key)
        else:
            # the source as the parsed columns leave it (a key may name it)
            src = cols[source_key] if source_key in cols else F.col(source_key)
            cols[source_key] = F.when(~matched, src)
    for k, t in (casts or {}).items():
        cols[k] = (cols[k] if k in cols else F.col(k)).cast(t)
    out = df.withColumns(cols) if cols else df
    return out.drop(*drop) if drop else out


def _casts(types: dict[str, str]) -> dict[str, str]:
    """Spark cast types of the type hints that cast (``cast_for_hint``)."""
    return {k: ct for k, t in types.items() if (ct := cast_for_hint(t))}


def _match_groups(
    df: DataFrame, source: str, regex: str, groups: list[int], *,
    full_match: bool,
) -> DataFrame:
    """*df* plus the temporaries ``_P``, the parts array, and ``_M``, the
    match flag, of *regex* over column *source*, from one
    ``regexp_replace`` per row (shared by ``parse_regex`` and SPL
    ``parse-regexp``).

    The replace consumes the whole line and rewrites it into ``\\x02``
    followed by the capture groups *groups* (ordinals) joined by
    ``\\x01``; ``split`` breaks that apart. A line the replace rewrote
    starts with the ``\\x02`` sentinel. A line that already started
    with it is ambiguous, and only such lines run the pattern a second
    time, as the ``RLIKE`` behind the short-circuiting ``OR``.
    ``full_match`` anchors *regex* (``^(?:regex)\\z``: ``\\z`` is the
    end of the text, as Go's ``$`` is, where Java's ``$`` also matches
    before a final line terminator); otherwise the first match anywhere
    counts (Go ``FindStringSubmatch``, Java ``find``). The parts and
    the flag equal ``regexp_extract`` and ``rlike`` with that pattern;
    a group that took no part gives ``''``.

    Wrapping *regex* in a non-capturing group keeps its group numbering
    and is safe for patterns already carrying ``^``/``$`` (including an
    escaped ``\\$``: never strip characters off user regexes). The
    wrapper's own ``.*`` runs are DOTALL inside ``(?s:...)``, so the
    flag does not leak into *regex*.

    The expressions are ``F.expr`` text; the patterns reach it as
    literal columns, which the optimizer folds back into the calls.
    """
    if full_match:
        search = anchored = f"^(?:{regex})\\z"
    else:
        search = regex
        anchored = f"^(?s:.*?)(?:{regex})(?s:.*)$"
    template = "\x02" + "\x01".join(f"${g}" for g in groups)
    src = sqltext.col_ref(source)
    rep = f"regexp_replace({src}, {_RE}, {_T})"
    parts = f"split(substring({rep}, 2), chr(1))"
    # the size check guards against captured values holding the
    # delimiter byte: misalignment becomes a parse FAILURE, never
    # silently shifted fields
    matched = (
        f"startswith({rep}, chr(2)) AND (NOT startswith({src}, chr(2)) "
        f"OR {src} RLIKE {_S}) AND size({parts}) = {len(groups)}"
    )
    pats = {_RE: F.lit(anchored), _S: F.lit(search), _T: F.lit(template)}
    return (
        df.withColumns(pats)
        .withColumns({_P: F.expr(parts), _M: F.expr(matched)})
        .drop(*pats)
    )


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

    One regex evaluation per row, in whole-stage codegen: the
    ``regexp_replace`` of ``_match_groups`` both rewrites a matched line
    into its groups and marks it matched (the reference's
    single-match-then-emit loop, regex.go:105-129). The whole-line
    ``(.*)`` pattern skips regex entirely, as the reference's fast path
    does (ProcessorParseRegexNative.cpp:142-146).

    ``full_match`` anchors the pattern (Go regexp full-find vs match
    semantics); unmatched rows get NULL keys and follow the unmatch
    policy flags.
    """
    src = df[source_key]
    casts = _casts(types or {})
    # whole-line fast path (reference: Regex == '(.*)') — must honor
    # the same policy flags and type casts as the regex paths: a NULL
    # source is the one "unmatched" case here
    if regex in ("(.*)", "^(.*)$") and len(keys) == 1:
        return _apply_unmatch_policy(
            df, {keys[0]: src}, src.isNotNull(), source_key, keep_source,
            discard_unmatched, keep_source_if_parse_error, casts=casts,
        )

    out = _match_groups(
        df, source_key, regex, list(range(1, len(keys) + 1)),
        full_match=full_match,
    )
    keyed = {
        k: F.expr(f"CASE WHEN {_M} THEN {_P}[{i}] END") for i, k in enumerate(keys)
    }
    return _apply_unmatch_policy(
        out, keyed, F.expr(_M), source_key, keep_source, discard_unmatched,
        keep_source_if_parse_error, casts=casts, temps=(_P, _M),
    )


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
        + [T.StructField(_M, T.BooleanType())]
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
        out[_M] = matched
        return out[[*all_keys, _M]]

    # evaluate-once rule: see the module docstring
    grok_extract = grok_extract.asNondeterministic()
    out = df.withColumn(_P, grok_extract(F.col(source_key)))
    return _apply_unmatch_policy(
        out,
        {k: F.expr(f"{_P}.{sqltext.quote(k)}") for k in all_keys},
        F.expr(f"{_P}.{_M}"),
        source_key,
        keep_source,
        discard_unmatched,
        keep_source_if_parse_error,
        casts=_casts(hints) if apply_type_hints else None,
        temps=(_P,),
    )


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
    parsed = F.expr(sqltext.quote(dest_key))
    out = _apply_unmatch_policy(
        out, {}, parsed.isNotNull(), source_key, keep_source, discard_unmatched
    )
    if keys:
        out = out.withColumns({k: parsed[k] for k in keys})
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
        fields = [f"{sqltext.quote(k)} string" for k in keys]
        schema = ", ".join([*fields, f"{_CORRUPT} string"])
        parsed = F.from_csv(
            F.concat(F.col(source_key), F.lit(separator + end)),
            F.lit(schema),
            {
                "sep": separator,
                "quote": quote,
                "mode": "PERMISSIVE",
                "columnNameOfCorruptRecord": _CORRUPT,
            },
        )
        # _E: 1-based index of the key holding the end field, 0 if none
        holds_end = ", ".join(
            f"contains({_P}.{sqltext.quote(k)}, '{end}')" for k in keys
        )
        out = df.withColumn(_P, parsed).withColumn(
            _E, F.expr(f"array_position(array({holds_end}), true)")
        )
        present = f"({_P} IS NOT NULL AND {_E} = 0)"
        return _apply_unmatch_policy(
            out,
            {
                k: F.expr(
                    f"CASE WHEN {present} OR {_E} > {i + 1} "
                    f"THEN coalesce({_P}.{sqltext.quote(k)}, '') END"
                )
                for i, k in enumerate(keys)
            },
            F.expr(present),
            source_key,
            keep_source,
            discard_unmatched,
            temps=(_P, _E),
        )
    n = len(keys)
    n_extra = max_expand if (preserve_others and expand_others) else 0
    # SplitN semantics: keep the tail unsplit past the last column we
    # can land it in (limit = keys + expands, +1 for the remainder)
    limit = n + n_extra + (0 if n_extra else 1)
    out = df.withColumn(_P, F.split(F.col(source_key), re.escape(separator), limit))
    # get (not [i]): out-of-range reads are NULL, not an ANSI
    # ArrayIndexOutOfBounds error, giving the partial-assign semantics
    cols = {k: f"get({_P}, {i})" for i, k in enumerate(keys)}
    if preserve_others and not expand_others:
        cols["_split_preserve_"] = f"get({_P}, {n})"
    elif preserve_others and expand_others:
        for j in range(n_extra):
            cols[f"{expand_key_prefix}{j + 1}"] = f"get({_P}, {n + j})"
    return _apply_unmatch_policy(
        out,
        {k: F.expr(e) for k, e in cols.items()},
        F.expr(f"size({_P}) >= {n}"),
        source_key,
        keep_source,
        discard_unmatched,
        temps=(_P,),
    )


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
        kv = F.expr(sqltext.quote(dest_key))
        out = out.withColumns({k: kv[k] for k in keys})
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
    extraction per anchor, all in one projection."""
    src = F.col(source_key)
    fields = {}
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
        fields[a["field"]] = F.regexp_extract(src, pat, 1)
    return df.withColumns(fields) if fields else df


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
    m = F.expr(_M)
    cols = {
        name: F.when(m, strip(F.element_at(parts, i)))
        for i, name in enumerate(["apsara_time", "level", "thread", "location"], 1)
    }
    cols["fields"] = F.when(m, fields)
    return _apply_unmatch_policy(
        df.withColumn(_M, matched), cols, m, source_key, keep_source,
        discard_unmatched, temps=(_M,),
    )


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
