"""Filter / predicate processors (row selection).

Capability parity (new code) with:

* filter_regex        — plugins/processor/filter/regex/processor_filter_regex.go:33-113
* filter_key_regex    — plugins/processor/filter/keyregex/processor_filter_key_regex.go:28-36
* ProcessorFilterNative expression tree — core/plugin/processor/ProcessorFilterNative.h:28-121
* fields_with_condition — plugins/processor/fieldswithcondition/processor_fields_with_condition.go:31-80
* rate_limit          — plugins/processor/ratelimit/processor_rate_limit.go:26-33

All filters compile to Catalyst ``Column`` expressions so predicate
pushdown can move them into the scan — the reference relies on manual
config ordering for early filtering (CollectionPipeline.cpp:414-419);
Catalyst does it automatically once the predicate is declarative.
"""

from __future__ import annotations

import operator
import re
from functools import reduce
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions import sqltext

__all__ = [
    "filter_regex",
    "filter_key_regex",
    "compile_condition_tree",
    "filter_expression",
    "fields_with_condition",
    "rate_limit",
]


def filter_regex(
    df: DataFrame,
    include: dict[str, str] | None = None,
    exclude: dict[str, str] | None = None,
) -> DataFrame:
    """Keep row iff every Include (key,regex) matches and no Exclude
    does (processor_filter_regex.go:113). NULL fields fail Include."""
    conds = [F.rlike(sqltext.col(k), F.lit(p)) for k, p in (include or {}).items()]
    conds += [
        ~F.coalesce(F.rlike(sqltext.col(k), F.lit(p)), F.lit(False))
        for k, p in (exclude or {}).items()
    ]
    return df.filter(reduce(operator.and_, conds)) if conds else df


def filter_key_regex(
    df: DataFrame, include: str | None = None, exclude: str | None = None
) -> DataFrame:
    """Column selection by key-NAME regex
    (processor_filter_key_regex.go:28-36) — resolved at plan time into
    a static projection (column pruning reaches the scan)."""
    cols = df.columns
    if include:
        inc = re.compile(include)
        cols = [c for c in cols if inc.fullmatch(c)]
    if exclude:
        exc = re.compile(exclude)
        cols = [c for c in cols if not exc.fullmatch(c)]
    return df.selectExpr(*map(sqltext.quote, cols))


def compile_condition_tree(node: dict[str, Any]) -> Column:
    """Compile the reference's JSON boolean expression tree
    (ProcessorFilterNative.h:34-96: AND/OR/NOT over (key,regex) leaves)
    directly into a Catalyst Column — Spark then optimizes it like any
    native predicate.

    Node forms::

        {"operator": "and"|"or", "operands": [node, ...]}
        {"operator": "not", "operands": [node]}
        {"key": "...", "exp": "<regex>", "type": "regex"}
    """
    if "operator" in node:
        op = node["operator"].lower()
        kids = [compile_condition_tree(c) for c in node["operands"]]
        if op in ("and", "or"):
            return reduce(operator.and_ if op == "and" else operator.or_, kids)
        if op == "not":
            return ~kids[0]
        raise ValueError(f"unknown operator {op!r}")
    return F.coalesce(sqltext.col(node["key"]).rlike(node["exp"]), F.lit(False))


def filter_expression(df: DataFrame, tree: dict[str, Any]) -> DataFrame:
    return df.filter(compile_condition_tree(tree))


_RELATIONS = {
    "equals": lambda c, v: c == F.lit(v),
    "regexp": lambda c, v: c.rlike(v),
    "contains": lambda c, v: c.contains(v),
    "startwith": lambda c, v: c.startswith(v),
}


def _case_condition(case: dict[str, Any]) -> Column:
    logic = case.get("logical_operator", "and").lower()
    conds = [
        _RELATIONS[f.get("relation", "equals").lower()](
            sqltext.col(f["key"]), f["value"]
        )
        for f in case["fields"]
    ]
    out = reduce(operator.and_ if logic == "and" else operator.or_, conds)
    return F.coalesce(out, F.lit(False))


def fields_with_condition(
    df: DataFrame,
    cases: list[dict[str, Any]],
    drop_if_not_match: bool = False,
) -> DataFrame:
    """Switch-case add-fields (processor_fields_with_condition.go:43-80):
    the FIRST matching case's ``add_fields`` apply; optionally drop
    rows matching no case. Compiled to chained ``when`` — one pass.

    Case form: ``{"fields": [{"key","value","relation"}...],
    "logical_operator": "and"|"or", "add_fields": {k: v}}``.
    """
    conds = [_case_condition(c) for c in cases]
    new_keys: list[str] = []
    for c in cases:
        for k in c.get("add_fields", {}):
            if k not in new_keys:
                new_keys.append(k)
    out = df
    for k in new_keys:
        # forward when-chain: first matching case wins; a matching case
        # that doesn't set k yields NULL (case actions are exclusive);
        # rows matching NO case keep a pre-existing column value
        # untouched (reference leaves non-matching events unchanged)
        chain = None
        for cond, case in zip(conds, cases):
            v = case.get("add_fields", {}).get(k)
            branch = F.lit(v) if v is not None else F.lit(None).cast("string")
            chain = F.when(cond, branch) if chain is None else chain.when(cond, branch)
        if k in df.columns:
            chain = chain.otherwise(sqltext.col(k))
        out = out.withColumn(k, chain)
    if drop_if_not_match and conds:
        out = out.filter(reduce(operator.or_, conds))
    return out


def rate_limit(
    df: DataFrame,
    fields: list[str],
    limit: int,
    *,
    ts_col: str = "ts",
    window: str = "1 second",
) -> DataFrame:
    """Batch analog of the token-bucket rate limiter
    (processor_rate_limit.go:26-33, token_bucket.go:33-61): keep at most
    *limit* rows per unique value-combo of *fields* per time window —
    deterministic rate-SAMPLE semantics (documented deviation: a batch
    engine sees all data at once, so "first N per window" replaces
    "first N by arrival")."""
    from pyspark.sql import Window as W

    ts = sqltext.col(ts_col)
    w = W.partitionBy(*map(sqltext.col, fields), F.window(ts, window)).orderBy(ts)
    return (
        df.withColumn("__lc_rn", F.row_number().over(w))
        .filter(F.col("__lc_rn") <= limit)
        .drop("__lc_rn")
    )
