"""JSON flattening with the reference dialect's semantics.

Mirrors plugins/processor/json/processor_json.go:141-201 (behavior
re-derived from its config surface and tests, not translated code):

* nested objects flatten with a connector-joined key
  (``ExpandConnector``, default ``_``), up to ``ExpandDepth``
  (0 = unlimited);
* arrays expand to ``key[0], key[1], ...`` when ``expand_array``,
  else are re-serialized as a JSON string;
* all leaf scalars become strings (the reference's event model is
  all-strings, sls_logs.proto:13-14; the C++ twin re-serializes
  non-string scalars, ProcessorParseJsonNative.cpp:30-56) — booleans
  as ``true/false``, integers without decimal point;
* an optional ``prefix`` is prepended to every produced key.

This is plain Python operating on one parsed object — it is only ever
called from inside an Arrow-batched pandas UDF (operators/parse.py),
never per-row from the driver.
"""

from __future__ import annotations

import json
import math
from typing import Any


def _scalar_to_str(v: Any) -> str:
    # byte-identical to json.dumps for every scalar json.loads yields,
    # without its per-call encoder set-up: json.dumps writes ints with
    # int.__repr__ and finite floats with float.__repr__ (2.0 stays
    # "2.0", keeping round-trips faithful — the Go impl prints via
    # jsoniter, which keeps the source lexeme); NaN and ±Infinity keep
    # json.dumps' spelling
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return int.__repr__(v)
    if isinstance(v, float):
        return float.__repr__(v) if math.isfinite(v) else json.dumps(v)
    return str(v)


def flatten_json(
    obj: Any,
    depth: int = 0,
    connector: str = "_",
    prefix: str = "",
    expand_array: bool = False,
) -> dict[str, str]:
    """Flatten a parsed JSON value into a flat ``{key: string}`` dict."""
    out: dict[str, str] = {}

    def walk(key: str, v: Any, level: int) -> None:
        exhausted = depth > 0 and level >= depth
        if isinstance(v, dict) and not exhausted:
            if not v:
                out[key] = "{}"
                return
            for k2, v2 in v.items():
                walk(f"{key}{connector}{k2}" if key else str(k2), v2, level + 1)
        elif isinstance(v, list) and expand_array and not exhausted:
            if not v:
                out[key] = "[]"
                return
            for i, v2 in enumerate(v):
                walk(f"{key}[{i}]", v2, level + 1)
        elif isinstance(v, (dict, list)):
            out[key] = json.dumps(v, separators=(",", ":"))
        else:
            out[key] = _scalar_to_str(v)

    if isinstance(obj, dict):
        for k, v in obj.items():
            walk(f"{prefix}{k}", v, 1)
    else:
        walk(prefix or "value", obj, 1)
    return out


def parse_and_flatten(
    s: str | None,
    depth: int = 0,
    connector: str = "_",
    prefix: str = "",
    expand_array: bool = False,
) -> dict[str, str] | None:
    """json.loads + flatten; None on parse failure (caller applies
    keep/discard-source policy, CommonParserOptions.h:27-40)."""
    if s is None:
        return None
    try:
        obj = json.loads(s)
    except (ValueError, TypeError):
        return None
    if not isinstance(obj, dict):
        return None
    return flatten_json(
        obj, depth=depth, connector=connector, prefix=prefix, expand_array=expand_array
    )
