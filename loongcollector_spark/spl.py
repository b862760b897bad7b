"""SPL (SLS Processing Language) script compiler → Spark DataFrame plans.

The reference runs SPL scripts against in-flight event groups through an
embedded Velox-based engine with the Presto function dialect
(core/plugin/processor/ProcessorSPL.h:26-48, .cpp:69,122; configured as
``processor_spl`` with a ``Script`` string,
docs/cn/plugins/processor/spl/processor-spl-native.md). The language
surface exercised by the reference's own tests
(core/unittest/spl/spl.txt, SplUnittest.cpp) is::

    <script>   := ( '.let' name '=' <pipeline> ';' | <pipeline> ';' )+
    <pipeline> := ( '*' | '$name' ) ( '|' <cmd> )*
    <cmd>      := where <expr>
                | extend k = <expr> [, k = <expr>]*
                | project <item> [, <item>]*        item := col | new = <expr>
                | project-away col [, col]*
                | project-rename new = old [, new = old]*
                | parse-regexp col, 'regex' [as k1, k2, ...]
                | parse-json [-prefix='p'] [-path='$.x'] col
                | parse-csv [-delim=','] [-quote='"'] [-strict] col as k1, ...
                | parse-kv [-delims='=,'] [-kv-sep='='] [-prefix='p']
                           [-mode='overwrite'|'preserve'] col
                | stats agg [as name] [, ...] [by col [, col]*]
                | pack-fields [-include='rx'] [-exclude='rx'] [-keep] dest
                | limit n | head n
                | sort by col [asc|desc] [, col [asc|desc]]*

This compiler is Spark-first, NOT an engine port: every command becomes a
DataFrame transformation (filter / withColumn / select / drop / unionByName)
and expressions translate token-wise from the Presto dialect into Spark SQL
(``F.expr``), so an entire script stays ONE Catalyst plan — whole-stage
codegen, predicate pushdown, and column pruning all apply across command
boundaries for free (a ``where`` after a ``parse-regexp`` is pushed below
the parse when the predicate doesn't touch parsed columns). No Python runs
per row anywhere: parse-json uses ``get_json_object``/``json_object_keys``,
parse-kv uses ``str_to_map``, parse-regexp uses ``parse_regex``'s
one-``regexp_replace`` kernel (``operators/parse._match_groups``).

Dialect notes (documented deviations, all driver-testable):

* String literals: Presto treats backslash as a literal character and
  doubles quotes (``''``); Spark SQL strings are backslash-escaped. The
  tokenizer decodes with Presto rules and re-emits with Spark escaping, so
  regexes like ``'(\\S+)'`` survive translation byte-exact.
* ``"quoted identifiers"`` become backtick identifiers.
* Presto array subscripts are 1-based; ``a[i]`` rewrites to
  ``element_at(a, i)`` (also correct for maps).
* ``md5``/``sha1``/``sha256``/``sha512`` return hex strings (Spark), not
  VARBINARY; ``xxhash64`` returns BIGINT.
* parse-json / parse-kv produce dynamic columns. The key set is discovered
  with one bounded JVM aggregation over ``json_object_keys`` / ``map_keys``
  (the same cost class as ``spark.read.json`` schema inference) unless the
  caller passes ``known_keys`` — the static-schema fast path a production
  config should use at 10^12-turn scale.
* Functions with no JVM equivalent (hmac_*, spooky_hash_*, approx-set
  constructors, combinations, strrpos, ...) raise
  :class:`SPLUnsupportedError` naming the function, never silently skip.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from functools import reduce as _freduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .functions import sqltext
from .operators.parse import _M, _P, _match_groups

__all__ = [
    "SPLError",
    "SPLUnsupportedError",
    "compile_spl",
    "translate_expr",
]


class SPLError(ValueError):
    """Malformed SPL script."""


class SPLUnsupportedError(SPLError):
    """SPL construct with no Spark equivalent in this compiler."""


# --------------------------------------------------------------------------
# expression tokenizer (Presto lexical rules)
# --------------------------------------------------------------------------

_NUM_RE = re.compile(r"\d+(?:\.\d+)?(?:[eE][+-]?\d+)?")
_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
# longest-first operator table
_OPS = (
    "->", "||", "<=", ">=", "!=", "<>",
    "(", ")", "[", "]", ",", "=", "<", ">", "+", "-", "*", "/", "%",
    "&", "|", "^", "~", ".",
)


def _tokenize(s: str) -> list[tuple[str, str]]:
    """Tokens: (kind, value); kinds str/num/ident/qident/op."""
    toks: list[tuple[str, str]] = []
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if c.isspace():
            i += 1
            continue
        if c == "'":
            j, buf = i + 1, []
            while j < n:
                if s[j] == "'":
                    if j + 1 < n and s[j + 1] == "'":  # '' escape
                        buf.append("'")
                        j += 2
                        continue
                    break
                buf.append(s[j])
                j += 1
            else:
                raise SPLError(f"unterminated string literal in: {s!r}")
            toks.append(("str", "".join(buf)))
            i = j + 1
            continue
        if c == '"':
            j = s.find('"', i + 1)
            if j < 0:
                raise SPLError(f"unterminated quoted identifier in: {s!r}")
            toks.append(("qident", s[i + 1 : j]))
            i = j + 1
            continue
        m = _NUM_RE.match(s, i)
        if m:
            toks.append(("num", m.group(0)))
            i = m.end()
            continue
        m = _IDENT_RE.match(s, i)
        if m:
            toks.append(("ident", m.group(0)))
            i = m.end()
            continue
        for op in _OPS:
            if s.startswith(op, i):
                toks.append(("op", op))
                i += len(op)
                break
        else:
            raise SPLError(f"unexpected character {c!r} in expression: {s!r}")
    return toks


def _spark_str(value: str) -> str:
    """Re-emit a decoded string value as a Spark SQL literal."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _java_rx_escape(value: str) -> str:
    """Escape a literal string for use inside a Java regex."""
    return "".join(c if c.isalnum() else "\\" + c for c in value)


# --------------------------------------------------------------------------
# MySQL-style %-format → Java datetime format (date_parse / date_format)
# --------------------------------------------------------------------------

_MYSQL_TO_JAVA = {
    "Y": "yyyy", "y": "yy", "m": "MM", "c": "M", "d": "dd", "e": "d",
    "H": "HH", "k": "H", "h": "hh", "I": "hh", "l": "h",
    "i": "mm", "s": "ss", "S": "ss", "f": "SSSSSS",
    "p": "a", "W": "EEEE", "a": "EEE", "b": "MMM", "M": "MMMM",
    "j": "DDD", "T": "HH:mm:ss", "r": "hh:mm:ss a", "v": "ww",
}


def mysql_datetime_to_java(fmt: str) -> str:
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if not lit:
            return
        s = "".join(lit)
        if any(ch.isalpha() for ch in s) or "'" in s:
            out.append("'" + s.replace("'", "''") + "'")
        else:
            out.append(s)
        lit.clear()

    i = 0
    while i < len(fmt):
        c = fmt[i]
        if c == "%" and i + 1 < len(fmt):
            nxt = fmt[i + 1]
            if nxt == "%":
                lit.append("%")
            elif nxt in _MYSQL_TO_JAVA:
                flush()
                out.append(_MYSQL_TO_JAVA[nxt])
            else:
                lit.append(nxt)
            i += 2
            continue
        lit.append(c)
        i += 1
    flush()
    return "".join(out)


# --------------------------------------------------------------------------
# Presto → Spark function translation
# --------------------------------------------------------------------------

# straight renames (same argument shapes)
_RENAME = {
    "chr": "char",
    "codepoint": "ascii",
    "json_extract_scalar": "get_json_object",
    "json_extract": "get_json_object",
    "to_base64": "base64",
    "from_base64": "unbase64",
    "to_hex": "hex",
    "from_hex": "unhex",
    "day_of_month": "dayofmonth",
    "day_of_year": "dayofyear",
    "doy": "dayofyear",
    "week": "weekofyear",
    "week_of_year": "weekofyear",
    "is_nan": "isnan",
    "random": "rand",
    "contains": "array_contains",
    "zip": "arrays_zip",
    "all_match": "forall",
    "any_match": "exists",
    "reduce": "aggregate",
    "bitwise_left_shift": "shiftleft",
    "bitwise_shift_left": "shiftleft",
    "bitwise_right_shift": "shiftrightunsigned",
    "bitwise_arithmetic_shift_right": "shiftright",
    "bitwise_right_shift_arithmetic": "shiftright",
    "date": "to_date",
    "approx_distinct": "approx_count_distinct",
    "arbitrary": "any_value",
}

_UNSUPPORTED = {
    "hmac_md5", "hmac_sha1", "hmac_sha256", "hmac_sha512",
    "spooky_hash_v2_32", "spooky_hash_v2_64",
    "empty_approx_set", "approx_set", "merge_hll",
    "combinations", "strrpos", "bit_count",
    "bitwise_logical_shift_right",
    "array_normalize", "json_size",
}

_TYPE_MAP = {
    "varbinary": "binary",
    "varchar": "string",
    "integer": "int",
    "real": "float",
}

_TS_UNITS = {
    "millisecond", "second", "minute", "hour", "day", "week",
    "month", "quarter", "year",
}


def _lit_of(slice_: list[tuple[str, str]]) -> str | None:
    """Literal string value of an arg token slice, or None."""
    if len(slice_) == 1 and slice_[0][0] == "str":
        return slice_[0][1]
    return None


def _unit_arg(args: list[str], slices: list[list[tuple[str, str]]], fn: str) -> str:
    unit = _lit_of(slices[0])
    if unit is None or unit.lower() not in _TS_UNITS:
        raise SPLUnsupportedError(
            f"{fn}: unit must be a literal in {sorted(_TS_UNITS)}, got {args[0]}"
        )
    return unit.upper()


def _m_strpos(args, slices):
    if len(args) != 2:
        raise SPLUnsupportedError("strpos with an instance argument")
    return f"locate({args[1]}, {args[0]})"


def _m_split(args, slices):
    # Presto split() delimiter is a LITERAL; Spark's is a regex — escape.
    lit = _lit_of(slices[1])
    delim = _spark_str(_java_rx_escape(lit)) if lit is not None else args[1]
    rest = ", " + ", ".join(args[2:]) if len(args) > 2 else ""
    return f"split({args[0]}, {delim}{rest})"


def _m_date_parse(args, slices):
    fmt = _lit_of(slices[1])
    if fmt is None:
        raise SPLUnsupportedError("date_parse with a non-literal format")
    return f"to_timestamp({args[0]}, {_spark_str(mysql_datetime_to_java(fmt))})"


def _m_date_format(args, slices):
    fmt = _lit_of(slices[1])
    if fmt is not None and "%" in fmt:
        return f"date_format({args[0]}, {_spark_str(mysql_datetime_to_java(fmt))})"
    return f"date_format({args[0]}, {args[1]})"


def _m_from_unixtime(args, slices):
    base = f"timestamp_seconds({args[0]})"
    if len(args) == 2:
        return f"from_utc_timestamp({base}, {args[1]})"
    if len(args) == 3:
        # Presto from_unixtime(unixtime, hours, minutes): wall clock
        # at the ±hh:mm offset = UTC + offset (negative args negate
        # the interval, matching Presto's signed offset fields)
        return (
            f"({base} + make_interval(0, 0, 0, 0, {args[1]}, {args[2]}, 0))"
        )
    if len(args) != 1:
        raise SPLUnsupportedError(
            f"from_unixtime() with {len(args)} arguments"
        )
    return base


def _m_truncate(args, slices):
    a = args[0]
    if len(args) == 1:
        return f"(sign({a}) * floor(abs({a})))"
    n = args[1]
    return f"(sign({a}) * floor(abs({a}) * pow(10, {n})) / pow(10, {n}))"


def _m_map(args, slices):
    if len(args) == 0:
        return "map()"
    if len(args) == 2:
        return f"map_from_arrays({args[0]}, {args[1]})"
    raise SPLUnsupportedError(f"map() with {len(args)} arguments")


def _m_width_bucket(args, slices):
    if len(args) != 4:
        raise SPLUnsupportedError("width_bucket with a bins-array argument")
    return f"width_bucket({', '.join(args)})"


def _m_regexp_extract(args, slices):
    # Presto 2-arg form returns the WHOLE match (group 0); Spark defaults 1.
    if len(args) == 2:
        return f"regexp_extract({args[0]}, {args[1]}, 0)"
    return f"regexp_extract({', '.join(args)})"


def _m_regexp_extract_all(args, slices):
    if len(args) == 2:
        return f"regexp_extract_all({args[0]}, {args[1]}, 0)"
    return f"regexp_extract_all({', '.join(args)})"


def _m_regexp_replace(args, slices):
    if len(args) == 2:
        return f"regexp_replace({args[0]}, {args[1]}, '')"
    return f"regexp_replace({', '.join(args)})"


_URL_PART = {
    "url_extract_host": "HOST",
    "url_extract_path": "PATH",
    "url_extract_query": "QUERY",
    "url_extract_fragment": "REF",
    "url_extract_protocol": "PROTOCOL",
}

_MACROS: dict[str, Callable[[list[str], list[list[tuple[str, str]]]], str]] = {
    "strpos": _m_strpos,
    "split": _m_split,
    "to_utf8": lambda a, s: f"encode({a[0]}, 'UTF-8')",
    "from_utf8": lambda a, s: f"decode({a[0]}, 'UTF-8')",
    "sha256": lambda a, s: f"sha2({a[0]}, 256)",
    "sha512": lambda a, s: f"sha2({a[0]}, 512)",
    "json_parse": lambda a, s: f"({a[0]})",
    "json_format": lambda a, s: f"({a[0]})",
    "is_json_scalar": lambda a, s: (
        f"({a[0]} rlike '^\\\\s*(\".*\"|-?[0-9][0-9.eE+-]*|true|false|null)\\\\s*$')"
    ),
    "json_array_contains": lambda a, s: (
        f"exists(from_json({a[0]}, 'array<string>'), e -> e = cast({a[1]} as string))"
    ),
    "to_unixtime": lambda a, s: (
        f"(cast(unix_micros(cast({a[0]} as timestamp)) as double) / 1000000.0)"
    ),
    "from_unixtime": _m_from_unixtime,
    "date_parse": _m_date_parse,
    "parse_datetime": _m_date_parse,
    "date_format": _m_date_format,
    "format_datetime": lambda a, s: f"date_format({a[0]}, {a[1]})",
    "date_add": lambda a, s: (
        f"timestampadd({_unit_arg(a, s, 'date_add')}, {a[1]}, {a[2]})"
    ),
    "date_diff": lambda a, s: (
        f"timestampdiff({_unit_arg(a, s, 'date_diff')}, {a[1]}, {a[2]})"
    ),
    "day_of_week": lambda a, s: f"(weekday({a[0]}) + 1)",
    "dow": lambda a, s: f"(weekday({a[0]}) + 1)",
    "year_of_week": lambda a, s: f"extract(YEAROFWEEK FROM {a[0]})",
    "yow": lambda a, s: f"extract(YEAROFWEEK FROM {a[0]})",
    "millisecond": lambda a, s: f"cast(date_format({a[0]}, 'SSS') as int)",
    "array_sum": lambda a, s: (
        f"aggregate(filter({a[0]}, x -> x is not null), cast(0 as double), (s, x) -> s + x)"
    ),
    "array_average": lambda a, s: (
        f"try_divide(aggregate(filter({a[0]}, x -> x is not null), cast(0 as double),"
        f" (s, x) -> s + x), size(filter({a[0]}, x -> x is not null)))"
    ),
    "none_match": lambda a, s: f"(NOT exists({a[0]}, {a[1]}))",
    "map": _m_map,
    "width_bucket": _m_width_bucket,
    "regexp_extract": _m_regexp_extract,
    "regexp_extract_all": _m_regexp_extract_all,
    "regexp_replace": _m_regexp_replace,
    "truncate": _m_truncate,
    "from_base": lambda a, s: f"cast(conv({a[0]}, {a[1]}, 10) as bigint)",
    "to_base": lambda a, s: f"lower(conv(cast({a[0]} as string), 10, {a[1]}))",
    "infinity": lambda a, s: "double('Infinity')",
    "nan": lambda a, s: "double('NaN')",
    "is_finite": lambda a, s: (
        f"(NOT isnan(cast({a[0]} as double))"
        f" AND abs(cast({a[0]} as double)) != double('Infinity'))"
    ),
    "is_infinite": lambda a, s: f"(abs(cast({a[0]} as double)) = double('Infinity'))",
    "bitwise_and": lambda a, s: f"({a[0]} & {a[1]})",
    "bitwise_or": lambda a, s: f"({a[0]} | {a[1]})",
    "bitwise_xor": lambda a, s: f"({a[0]} ^ {a[1]})",
    "bitwise_not": lambda a, s: f"(~{a[0]})",
    "url_extract_parameter": lambda a, s: f"parse_url({a[0]}, 'QUERY', {a[1]})",
    "url_extract_port": lambda a, s: (
        f"cast(nullif(regexp_extract(parse_url({a[0]}, 'AUTHORITY'),"
        f" ':([0-9]+)$', 1), '') as bigint)"
    ),
}
for _fn, _part in _URL_PART.items():
    _MACROS[_fn] = (
        lambda a, s, _p=_part: f"parse_url({a[0]}, '{_p}')"
    )


def _match_close(toks: list[tuple[str, str]], i: int) -> int:
    """Index of the closer matching the opener at *i* (token level)."""
    opener = toks[i][1]
    closer = {"(": ")", "[": "]"}[opener]
    depth = 0
    for j in range(i, len(toks)):
        if toks[j][0] == "op":
            if toks[j][1] in ("(", "["):
                depth += 1
            elif toks[j][1] in (")", "]"):
                depth -= 1
                if depth == 0:
                    if toks[j][1] != closer:
                        raise SPLError("mismatched brackets in expression")
                    return j
    raise SPLError("unbalanced brackets in expression")


def _split_top(toks: list[tuple[str, str]], sep: str = ",") -> list[list[tuple[str, str]]]:
    """Split a token slice on top-level *sep* operators."""
    parts: list[list[tuple[str, str]]] = [[]]
    depth = 0
    for t in toks:
        if t[0] == "op":
            if t[1] in ("(", "["):
                depth += 1
            elif t[1] in (")", "]"):
                depth -= 1
            elif t[1] == sep and depth == 0:
                parts.append([])
                continue
        parts[-1].append(t)
    return parts


_VALUE_END = ("ident", "qident", "num", "str")


def _translate_tokens(toks: list[tuple[str, str]]) -> str:
    out: list[str] = []
    # tracks whether the previous emitted token can end a value (for [ ])
    prev_kind: str | None = None
    i = 0
    while i < len(toks):
        kind, val = toks[i]
        if kind == "ident":
            low = val.lower()
            nxt = toks[i + 1] if i + 1 < len(toks) else None
            if low == "array" and nxt == ("op", "["):
                j = _match_close(toks, i + 1)
                inner = ", ".join(
                    _translate_tokens(p) for p in _split_top(toks[i + 2 : j]) if p
                )
                out.append(f"array({inner})")
                prev_kind = "value"
                i = j + 1
                continue
            if nxt == ("op", "("):
                j = _match_close(toks, i + 1)
                slices = [p for p in _split_top(toks[i + 2 : j])]
                if slices == [[]]:
                    slices = []
                args = [_translate_tokens(p) for p in slices]
                if low in _UNSUPPORTED:
                    raise SPLUnsupportedError(
                        f"SPL function {val!r} has no Spark equivalent here"
                    )
                if low in _MACROS:
                    out.append(_MACROS[low](args, slices))
                elif low in _RENAME:
                    out.append(f"{_RENAME[low]}({', '.join(args)})")
                else:
                    out.append(f"{val}({', '.join(args)})")
                prev_kind = "value"
                i = j + 1
                continue
            if (
                low in _TYPE_MAP
                and out
                and out[-1].lower() == "as"
            ):
                out.append(_TYPE_MAP[low])
                prev_kind = "value"
                i += 1
                continue
            out.append(val)
            prev_kind = "value"
            i += 1
            continue
        if kind == "str":
            out.append(_spark_str(val))
            prev_kind = "value"
            i += 1
            continue
        if kind == "qident":
            out.append(sqltext.quote(val))
            prev_kind = "value"
            i += 1
            continue
        if kind == "num":
            out.append(val)
            prev_kind = "value"
            i += 1
            continue
        # operators
        if val == "(":
            j = _match_close(toks, i)
            parts = _split_top(toks[i + 1 : j])
            inner = ", ".join(_translate_tokens(p) for p in parts if p)
            out.append(f"({inner})")
            prev_kind = "value"
            i = j + 1
            continue
        if val == "[":
            j = _match_close(toks, i)
            inner = _translate_tokens(toks[i + 1 : j])
            if prev_kind == "value" and out:
                base = out.pop()
                # Presto subscripts are 1-based on arrays; element_at
                # matches that and also works on maps.
                out.append(f"element_at({base}, {inner})")
            else:
                out.append(f"array({inner})")
            prev_kind = "value"
            i = j + 1
            continue
        out.append(val)
        prev_kind = "op"
        i += 1
        continue
    # join with dot-tight spacing
    buf: list[str] = []
    for tok in out:
        if tok == "." and buf:
            buf[-1] = buf[-1] + "."
            continue
        if buf and buf[-1].endswith("."):
            buf[-1] = buf[-1] + tok
            continue
        buf.append(tok)
    return " ".join(buf)


def translate_expr(expr: str) -> str:
    """Translate one Presto-dialect SPL expression into Spark SQL text."""
    return _translate_tokens(_tokenize(expr))


def _expr_col(expr: str) -> Column:
    return F.expr(translate_expr(expr))


# --------------------------------------------------------------------------
# script / pipeline parsing
# --------------------------------------------------------------------------


def _split_script(s: str, sep: str) -> list[str]:
    """Split on *sep* outside string/identifier quotes ('||' never splits)."""
    parts: list[str] = []
    buf: list[str] = []
    i, n = 0, len(s)
    in_sq = in_dq = False
    while i < n:
        c = s[i]
        if in_sq:
            if c == "'":
                if i + 1 < n and s[i + 1] == "'":
                    buf.append("''")
                    i += 2
                    continue
                in_sq = False
            buf.append(c)
            i += 1
            continue
        if in_dq:
            if c == '"':
                in_dq = False
            buf.append(c)
            i += 1
            continue
        if c == "'":
            in_sq = True
            buf.append(c)
            i += 1
            continue
        if c == '"':
            in_dq = True
            buf.append(c)
            i += 1
            continue
        if c == sep:
            if sep == "|" and i + 1 < n and s[i + 1] == "|":
                buf.append("||")
                i += 2
                continue
            parts.append("".join(buf))
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    parts.append("".join(buf))
    return parts


_FLAG_RE = re.compile(
    r"^\s*-([A-Za-z][A-Za-z0-9-]*)"
    r"(?:\s*=\s*('(?:[^']|'')*'|[^\s]+))?"
)

# NB no "0" entry: octal escapes own every [0-7]-led sequence, so
# \0 decodes through the octal branch (chr(0o0) == NUL) and \011 is
# tab, not NUL + "11"
_ESCAPES = {"t": "\t", "n": "\n", "r": "\r", "\\": "\\"}


def _decode_flag_value(raw: str) -> str:
    """Decode a flag value: strip quotes, apply \\xNN / \\NNN / \\t escapes
    (the reference's CSV tests use -delim='\\x09', '\\11', '\\t')."""
    if raw.startswith("'") and raw.endswith("'") and len(raw) >= 2:
        raw = raw[1:-1].replace("''", "'")
    out: list[str] = []
    i = 0
    while i < len(raw):
        c = raw[i]
        if c == "\\" and i + 1 < len(raw):
            nxt = raw[i + 1]
            if nxt == "x" and i + 3 < len(raw) + 1:
                hexpart = raw[i + 2 : i + 4]
                if re.fullmatch(r"[0-9a-fA-F]{1,2}", hexpart):
                    out.append(chr(int(hexpart, 16)))
                    i += 2 + len(hexpart)
                    continue
            m = re.match(r"[0-7]{1,3}", raw[i + 1 :])
            if m:
                out.append(chr(int(m.group(0), 8)))
                i += 1 + len(m.group(0))
                continue
            if nxt in _ESCAPES:
                out.append(_ESCAPES[nxt])
                i += 2
                continue
        out.append(c)
        i += 1
    return "".join(out)


def _parse_flags(rest: str) -> tuple[dict[str, str | bool], str]:
    flags: dict[str, str | bool] = {}
    while True:
        m = _FLAG_RE.match(rest)
        if not m:
            break
        name = m.group(1).lower()
        raw = m.group(2)
        flags[name] = True if raw is None else _decode_flag_value(raw)
        rest = rest[m.end() :]
    return flags, rest.strip()


def _ident_of(item: str) -> str:
    item = item.strip()
    if item.startswith('"') and item.endswith('"'):
        return item[1:-1]
    if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_:.]*", item):
        raise SPLError(f"expected a column name, got {item!r}")
    return item


_ASSIGN_RE = re.compile(
    r'^\s*("(?:[^"]*)"|[A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.+)$', re.DOTALL
)


def _split_assign(item: str) -> tuple[str, str]:
    m = _ASSIGN_RE.match(item)
    if not m:
        raise SPLError(f"expected name = expression, got {item!r}")
    name = m.group(1)
    if name.startswith('"'):
        name = name[1:-1]
    return name, m.group(2).strip()


def _split_keyword(rest: str, kw: str) -> tuple[str, str | None]:
    """Split on the LAST top-level *kw* keyword (quote- AND paren-aware,
    so ``cast(x as integer)`` never splits a ``stats ... as alias``)."""
    in_sq = in_dq = False
    depth = 0
    i, n, klen = 0, len(rest), len(kw)
    found = None
    while i < n:
        c = rest[i]
        if in_sq:
            if c == "'":
                if i + 1 < n and rest[i + 1] == "'":
                    i += 2
                    continue
                in_sq = False
        elif in_dq:
            if c == '"':
                in_dq = False
        elif c == "'":
            in_sq = True
        elif c == '"':
            in_dq = True
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif (
            depth == 0
            and rest[i : i + klen].lower() == kw
            and (i == 0 or not (rest[i - 1].isalnum() or rest[i - 1] == "_"))
            and (
                i + klen >= n
                or not (rest[i + klen].isalnum() or rest[i + klen] == "_")
            )
        ):
            found = i
        i += 1
    if found is None:
        return rest, None
    return rest[:found].rstrip(), rest[found + klen :].strip()


def _split_as(rest: str) -> tuple[str, str | None]:
    """Split 'args AS k1, k2' on a top-level AS keyword (quote-aware)."""
    in_sq = in_dq = False
    i, n = 0, len(rest)
    while i < n:
        c = rest[i]
        if in_sq:
            if c == "'":
                if i + 1 < n and rest[i + 1] == "'":
                    i += 2
                    continue
                in_sq = False
        elif in_dq:
            if c == '"':
                in_dq = False
        elif c == "'":
            in_sq = True
        elif c == '"':
            in_dq = True
        elif (
            (c in "aA")
            and rest[i : i + 2].lower() == "as"
            and (i == 0 or not (rest[i - 1].isalnum() or rest[i - 1] == "_"))
            and (i + 2 >= n or not (rest[i + 2].isalnum() or rest[i + 2] == "_"))
        ):
            return rest[:i].rstrip(), rest[i + 2 :].strip()
        i += 1
    return rest, None


@dataclass
class _Ctx:
    known_keys: dict[str, list[str]] = field(default_factory=dict)
    infer_limit: int = 1000


def _discover_keys(df: DataFrame, keys_col: Column, ctx: _Ctx, what: str) -> list[str]:
    """Bounded JVM key discovery (schema inference; one small job)."""
    if df.isStreaming:
        raise SPLError(
            f"{what}: key inference needs a batch input — pass known_keys "
            "for streaming frames (the static-schema fast path)"
        )
    rows = (
        df.select(F.explode(keys_col).alias("k"))
        .where(F.col("k").isNotNull())
        .distinct()
        .limit(ctx.infer_limit + 1)
        .collect()
    )
    keys = sorted(r["k"] for r in rows)
    if len(keys) > ctx.infer_limit:
        raise SPLError(
            f"{what}: over {ctx.infer_limit} distinct keys; pass known_keys "
            "(the static-schema fast path) for this column"
        )
    return keys


def _assign_parsed(
    df: DataFrame,
    targets: list[tuple[str, Column, Column]],
    mode: str,
) -> DataFrame:
    """Land (name, value, present) parsed fields as columns.

    ``overwrite`` (reference default): a row's existing value survives only
    where the parse didn't produce the key; ``preserve``: existing non-null
    values win.
    """
    for name, value, present in targets:
        if name in df.columns:
            old = sqltext.col(name)
            if mode == "preserve":
                col = F.when(old.isNotNull(), old).otherwise(value)
            else:
                col = F.when(present, value).otherwise(old)
        else:
            col = F.when(present, value)
        df = df.withColumn(name, col)
    return df


# ---- command implementations ---------------------------------------------


def _cmd_where(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    return df.filter(_expr_col(rest))


def _cmd_extend(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    # assignments apply left-to-right, so later ones can read earlier ones
    for part in _split_top_text(rest):
        name, expr = _split_assign(part)
        df = df.withColumn(name, _expr_col(expr))
    return df


def _split_top_text(s: str) -> list[str]:
    """Split raw text on top-level commas (quotes + parens + brackets)."""
    parts: list[str] = []
    buf: list[str] = []
    depth = 0
    in_sq = in_dq = False
    i, n = 0, len(s)
    while i < n:
        c = s[i]
        if in_sq:
            if c == "'":
                if i + 1 < n and s[i + 1] == "'":
                    buf.append("''")
                    i += 2
                    continue
                in_sq = False
        elif in_dq:
            if c == '"':
                in_dq = False
        elif c == "'":
            in_sq = True
        elif c == '"':
            in_dq = True
        elif c in "([":
            depth += 1
        elif c in ")]":
            depth -= 1
        elif c == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
            i += 1
            continue
        buf.append(c)
        i += 1
    tail = "".join(buf).strip()
    if tail:
        parts.append(tail)
    return parts


def _cmd_project(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    cols: list[Column] = []
    for item in _split_top_text(rest):
        if _ASSIGN_RE.match(item) and "=" in item:
            # new = expr (also covers plain renames: new = old)
            name, expr = _split_assign(item)
            cols.append(_expr_col(expr).alias(name))
        else:
            cols.append(sqltext.col(_ident_of(item)))
    return df.select(*cols)


def _cmd_project_away(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    return df.drop(*[_ident_of(c) for c in _split_top_text(rest)])


def _cmd_project_rename(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    for item in _split_top_text(rest):
        new, old = _split_assign(item)
        df = df.withColumnRenamed(_ident_of(old), new)
    return df


def _cmd_limit(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    try:
        n = int(rest.strip())
    except ValueError as exc:
        raise SPLError(f"limit expects an integer, got {rest!r}") from exc
    return df.limit(n)


def _cmd_pack_fields(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    """``pack-fields [-include='rx'] [-exclude='rx'] dest`` — pack the
    matching columns into one JSON-object column (the SPL counterpart
    of processor_packjson; same semantics as enrich.pack_json). Packed
    source columns are dropped unless ``-keep`` is given."""
    flags, rest = _parse_flags(rest)
    dest = _ident_of(rest)
    inc = re.compile(str(flags["include"])) if "include" in flags else None
    exc = re.compile(str(flags["exclude"])) if "exclude" in flags else None
    cols = [
        c
        for c in df.columns
        if c != dest
        and (inc is None or inc.search(c))
        and (exc is None or not exc.search(c))
    ]
    if not cols:
        raise SPLError("pack-fields selected no columns")
    out = df.withColumn(
        dest, F.to_json(F.struct(*map(sqltext.col, cols)))
    )
    if not flags.get("keep"):
        out = out.drop(*cols)
    return out


def _cmd_stats(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    """``stats agg [as name][, ...] [by col[, col...]]`` — the SPL
    aggregation instruction (public SLS SPL instruction set; the
    reference's embedded engine evaluates the same language). Aggregates
    translate through the Presto dialect (count(*)/sum/avg/min/max/
    approx_distinct→approx_count_distinct/...)."""
    head, by_part = _split_keyword(rest, "by")
    aggs: list[Column] = []
    for item in _split_top_text(head):
        expr, alias = _split_keyword(item, "as")
        col = _expr_col(expr)
        if alias is not None:
            col = col.alias(_ident_of(alias))
        aggs.append(col)
    if not aggs:
        raise SPLError("stats needs at least one aggregate expression")
    if by_part:
        keys = [sqltext.col(_ident_of(c)) for c in _split_top_text(by_part)]
        return df.groupBy(*keys).agg(*aggs)
    return df.agg(*aggs)


def _cmd_sort(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    rest = re.sub(r"^\s*by\b", "", rest, flags=re.IGNORECASE).strip()
    order: list[Column] = []
    for item in _split_top_text(rest):
        m = re.match(r"^(.*?)\s+(asc|desc)\s*$", item, re.IGNORECASE)
        if m:
            col = _expr_col(m.group(1))
            order.append(col.desc() if m.group(2).lower() == "desc" else col.asc())
        else:
            order.append(_expr_col(item))
    return df.orderBy(*order)


def _capture_groups(pattern: str) -> tuple[int, dict[str, int]]:
    """``(n_capturing_groups, {name: ordinal})`` for a Java-flavor
    regex. Python's own parser is exact when it accepts the pattern
    (after folding ``(?<name>`` to its ``(?P<name>`` spelling); for
    Java-only constructs it falls back to a manual scan that honors
    escapes, character classes, and ``(?...)`` non-capturing /
    lookaround forms — a bare count of ``(`` would misnumber mixed
    named/unnamed patterns and count lookbehinds."""
    py = re.sub(r"\(\?<([A-Za-z][A-Za-z0-9]*)>", r"(?P<\1>", pattern)
    try:
        c = re.compile(py)
        return c.groups, dict(c.groupindex)
    except re.error:
        pass
    n, names = 0, {}
    i, in_class = 0, False
    while i < len(pattern):
        ch = pattern[i]
        if ch == "\\":
            i += 2
            continue
        if in_class:
            if ch == "]":
                in_class = False
            i += 1
            continue
        if ch == "[":
            in_class = True
            i += 1
            continue
        if ch == "(":
            m = re.match(r"\(\?P?<([A-Za-z][A-Za-z0-9]*)>", pattern[i:])
            if m:
                n += 1
                names[m.group(1)] = n
            elif not pattern.startswith("(?", i):
                n += 1
        i += 1
    return n, names


def _cmd_parse_regexp(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    head, as_part = _split_as(rest)
    pieces = _split_top_text(head)
    if len(pieces) != 2:
        raise SPLError(f"parse-regexp expects 'col, pattern', got {rest!r}")
    src = _ident_of(pieces[0])
    pat_toks = _tokenize(pieces[1])
    pattern = _lit_of(pat_toks)
    if pattern is None:
        raise SPLError("parse-regexp pattern must be a string literal")
    # (?P<name>...) → Java named groups; collect group names in order
    java_pat = pattern.replace("(?P<", "(?<")
    n_groups, name_ordinals = _capture_groups(pattern)
    group_names = re.findall(r"\(\?P?<([A-Za-z][A-Za-z0-9]*)>", pattern)
    if as_part is not None:
        keys = [_ident_of(k) for k in _split_top_text(as_part)]
    elif group_names:
        keys = group_names
    else:
        raise SPLError("parse-regexp needs an 'as' key list or named groups")
    # group numbering: with an `as` list the keys bind to groups 1..n;
    # named patterns bind each name to its ACTUAL capture-group
    # ordinal (unnamed groups before a named one shift it).
    if as_part is not None:
        if len(keys) > n_groups:
            raise SPLError(
                f"parse-regexp: {len(keys)} 'as' keys but the pattern "
                f"has only {n_groups} capture group(s)"
            )
        ordinals = list(range(1, len(keys) + 1))
    else:
        ordinals = [name_ordinals.get(k, 0) for k in keys]
        if 0 in ordinals:
            # fallback scan missed a name (exotic Java-only syntax):
            # fail loudly rather than bind a wrong ordinal
            raise SPLError(
                f"parse-regexp: cannot number named groups in {pattern!r}"
            )
    # one regexp_replace per row for every key and the match flag
    out = _match_groups(df, src, java_pat, ordinals, full_match=False)
    matched = F.expr(_M)
    targets = [(k, F.expr(f"{_P}[{i}]"), matched) for i, k in enumerate(keys)]
    return _assign_parsed(out, targets, "overwrite").drop(_P, _M)


def _cmd_parse_json(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    flags, rest = _parse_flags(rest)
    src = _ident_of(rest)
    prefix = str(flags.get("prefix", ""))
    path = flags.get("path")
    base = sqltext.col(src)
    base = F.get_json_object(base, str(path)) if path else base
    keys = ctx.known_keys.get(src) or _discover_keys(
        df, F.json_object_keys(base), ctx, f"parse-json {src}"
    )
    # ONE from_json parse shared by every key (codegen subexpression
    # elimination collapses the K field extractions onto a single
    # JsonToStructs evaluation) instead of K independent
    # get_json_object calls each re-parsing the full document — the
    # difference between O(len) and O(K·len) per row on the hot path.
    # Verified equivalent to the JsonPath form on well-formed input
    # (missing key → NULL, scalars → their literal text, nested
    # objects/arrays → their JSON text, corrupt document → all NULL);
    # the one divergence is duplicate keys in a single object (first
    # vs last value wins), which JSON leaves undefined.
    from pyspark.sql.types import StringType, StructField, StructType

    uniq = list(dict.fromkeys(keys))
    parsed = F.from_json(
        base, StructType([StructField(k, StringType()) for k in uniq])
    )
    targets = []
    for k in uniq:
        val = parsed.getItem(k)
        targets.append((prefix + k, val, val.isNotNull()))
    return _assign_parsed(df, targets, str(flags.get("mode", "overwrite")))


def _cmd_parse_kv(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    flags, rest = _parse_flags(rest)
    src = _ident_of(rest)
    delims = str(flags.get("delims", "\t "))
    kv_sep = str(flags.get("kv-sep", "="))
    prefix = str(flags.get("prefix", ""))
    mode = str(flags.get("mode", "overwrite"))
    pair_rx = "[" + "".join(_java_rx_escape(c) for c in delims) + "]"
    kv_rx = _java_rx_escape(kv_sep)
    parsed = F.str_to_map(sqltext.col(src), F.lit(pair_rx), F.lit(kv_rx))
    keys = ctx.known_keys.get(src) or _discover_keys(
        df.select(parsed.alias("__m")), F.map_keys(F.col("__m")), ctx,
        f"parse-kv {src}",
    )
    targets = [
        (prefix + k, parsed.getItem(k), F.map_contains_key(parsed, k))
        for k in keys
    ]
    return _assign_parsed(df, targets, mode)


def _cmd_parse_csv(df: DataFrame, rest: str, ctx: _Ctx) -> DataFrame:
    flags, rest = _parse_flags(rest)
    head, as_part = _split_as(rest)
    if as_part is None:
        raise SPLError("parse-csv needs an 'as' key list")
    src = _ident_of(head)
    keys = [_ident_of(k) for k in _split_top_text(as_part)]
    delim = str(flags.get("delim", ","))
    strict = bool(flags.get("strict", False))
    quote = flags.get("quote")
    if quote:
        schema = ", ".join(f"{sqltext.quote(k)} string" for k in keys)
        parsed = F.from_csv(
            sqltext.col(src), F.lit(schema), {"sep": delim, "quote": str(quote)}
        )
        targets = [
            (k, parsed.getField(k), parsed.isNotNull()) for k in keys
        ]
        return _assign_parsed(df, targets, "overwrite")
    parts = F.split(sqltext.col(src), _java_rx_escape(delim))
    n = len(keys)
    if strict:
        ok = F.size(parts) == n
    else:
        ok = F.size(parts) >= F.lit(1)
    targets = [
        (k, F.get(parts, i), ok & F.get(parts, i).isNotNull())
        for i, k in enumerate(keys)
    ]
    return _assign_parsed(df, targets, "overwrite")


_COMMANDS: dict[str, Callable[[DataFrame, str, _Ctx], DataFrame]] = {
    "where": _cmd_where,
    "extend": _cmd_extend,
    "project": _cmd_project,
    "project-away": _cmd_project_away,
    "project-rename": _cmd_project_rename,
    "parse-regexp": _cmd_parse_regexp,
    "parse-json": _cmd_parse_json,
    "parse-kv": _cmd_parse_kv,
    "parse-csv": _cmd_parse_csv,
    "stats": _cmd_stats,
    "pack-fields": _cmd_pack_fields,
    "limit": _cmd_limit,
    "head": _cmd_limit,
    "sort": _cmd_sort,
}

_CMD_RE = re.compile(r"^\s*([A-Za-z][A-Za-z-]*)\b(.*)$", re.DOTALL)


def _run_pipeline(
    source: DataFrame, segments: list[str], ctx: _Ctx
) -> DataFrame:
    df = source
    for seg in segments:
        m = _CMD_RE.match(seg)
        if not m:
            raise SPLError(f"cannot parse SPL command: {seg!r}")
        name = m.group(1).lower()
        if name not in _COMMANDS:
            raise SPLUnsupportedError(f"unsupported SPL command {name!r}")
        df = _COMMANDS[name](df, m.group(2).strip(), ctx)
    return df


_LET_RE = re.compile(r"^\s*\.let\s+([A-Za-z_][A-Za-z0-9_]*)\s*=\s*(.*)$", re.DOTALL)


def compile_spl(
    df: DataFrame,
    script: str,
    *,
    known_keys: dict[str, list[str]] | None = None,
    infer_limit: int = 1000,
) -> DataFrame:
    """Compile an SPL *script* against input *df* into one DataFrame.

    ``.let name = <pipeline>;`` binds intermediate datasets; each bare
    pipeline (or ``$name;``) EMITS a dataset; multiple emissions union by
    column name with missing columns null-filled — the reference's
    multi-output group semantics (SplUnittest.cpp TestMultiParse emits
    ``$ds1; $ds2;`` as separate event groups on one stream).

    *known_keys* maps a source column name to its parse-json / parse-kv
    key list, skipping runtime key inference — the production path.
    """
    ctx = _Ctx(known_keys=known_keys or {}, infer_limit=infer_limit)
    bindings: dict[str, DataFrame] = {}
    emitted: list[DataFrame] = []

    statements = [s.strip() for s in _split_script(script, ";")]
    statements = [s for s in statements if s]
    if not statements:
        raise SPLError("empty SPL script")

    for stmt in statements:
        let = _LET_RE.match(stmt)
        if let:
            name, body = let.group(1), let.group(2)
            bindings[name] = _compile_pipeline(df, body, bindings, ctx)
            continue
        emitted.append(_compile_pipeline(df, stmt, bindings, ctx))

    if not emitted:
        raise SPLError("SPL script has no output pipeline (only .let bindings)")
    return _freduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), emitted
    )


def _compile_pipeline(
    df: DataFrame, body: str, bindings: dict[str, DataFrame], ctx: _Ctx
) -> DataFrame:
    segments = [s.strip() for s in _split_script(body, "|")]
    segments = [s for s in segments if s]
    if not segments:
        raise SPLError(f"empty pipeline in SPL script: {body!r}")
    src_txt = segments[0]
    if src_txt == "*":
        source = df
    elif src_txt.startswith("$"):
        name = src_txt[1:].strip()
        if name not in bindings:
            raise SPLError(f"unknown dataset ${name} (no .let binding)")
        source = bindings[name]
    else:
        raise SPLError(f"pipeline must start with '*' or '$name', got {src_txt!r}")
    return _run_pipeline(source, segments[1:], ctx)
