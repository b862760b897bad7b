"""The two workloads: pipeline specs, layer chains and DuckDB oracles.

Each workload is a ``Pipeline`` spec (processors + router) over one
generated input, a sink (``write_blackhole`` or ``run_with_checkpoint``),
the plan operators its timed runs must keep, and a DuckDB query that
computes the expected output rows from the same input parquet.

``spine_regex`` is the reference's own benchmark shape; the native regex
parse does most of its work. ``json_checkpoint`` carries every other
layer: the Python worker (``parse_json``), the filter, the shuffle and the
skewed per-conversation window (``stable_order`` over the generator's hot
conversations) and real writes with lineage commits. Python, window and
writes share one workload, not one each, because an invocation spends
~40 s on a 4-core host starting the JVM, writing the input, warming up
and checking the output, so every workload adds over a quarter of an
hour to a two-set, ten-seed spread measurement.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

# BENCHMARK.json: the workload and metric names, units and directions
with open(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                       "BENCHMARK.json")) as _fh:
    CONTRACT = json.load(_fh)

NGINX_REGEX = (
    r'(\S+) - - \[([^\]]+)\] "(\S+) (\S+) (\S+)" (\d+) (\d+) '
    r'"([^"]*)" "([^"]*)" logNo=(\d+)'
)
NGINX_KEYS = [
    "ip", "time_local", "method", "path", "protocol",
    "status", "body_bytes", "referer", "agent", "log_no",
]
ROLE_DIM = [
    ("user", "human", 1),
    ("assistant", "model", 2),
    ("system", "infra", 3),
    ("tool", "infra", 3),
]
ROUTER = {
    "source_key": "role",
    "rules": [
        {"regex": "assistant", "sink": "sink_assistant"},
        {"regex": "tool", "sink": "sink_tool"},
        {"regex": "user|system", "sink": "sink_human"},
    ],
    "default_sink": "sink_default",
}
SINKS = [r["sink"] for r in ROUTER["rules"]] + [ROUTER["default_sink"]]
JSON_KEYS = ["level", "msg", "ctx_k", "logNo"]

# processor type -> the module-named layer it belongs to
LAYER_OF = {
    "parse_regex": "operators.parse",
    "parse_json": "operators.parse",
    "dict_map": "operators.enrich",
    "filter_regex": "operators.filter",
    "stable_order": "operators.aggregate",
}

# -- DuckDB renderings of the spine's semantics ------------------------------

_ROUTE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN regexp_full_match(role, '{r['regex']}') THEN '{r['sink']}'"
        for r in ROUTER["rules"]
    )
    + f" ELSE '{ROUTER['default_sink']}' END AS sink"
)
_ROLE_CLASS_SQL = (
    "CASE role "
    + " ".join(f"WHEN '{r}' THEN '{c}'" for r, c, _ in ROLE_DIM)
    + " ELSE 'Unknown' END AS role_class"
)
_SRC_COLS = "conv_id, turn_idx, role, text, tool, ts"
_KEY_LIST = "[" + ", ".join(f"'{k}'" for k in NGINX_KEYS) + "]"

SPINE_REGEX_SQL = f"""
WITH p AS (
    SELECT *, regexp_full_match(text, '{NGINX_REGEX}') AS __m,
           regexp_extract(text, '^(?:{NGINX_REGEX})$', {_KEY_LIST}) AS __g
    FROM src
)
SELECT {_SRC_COLS},
       {", ".join(f"CASE WHEN __m THEN __g.{k} END AS {k}" for k in NGINX_KEYS)},
       {_ROLE_CLASS_SQL}, {_ROUTE_SQL}
FROM p
"""

# The generator's JSON branch is {"level","msg","ctx":{"k","arr":[a,b]},"logNo"};
# flattened with expand_array that is six string leaves. A map column is
# compared through its size and summed value lengths (`<col>__size`,
# `<col>__len`), which both engines compute the same way. `seq` numbers
# the turns a conversation keeps after the level filter.
_JSON_LEAVES = ["$.level", "$.msg", "$.ctx.k", "$.ctx.arr[0]", "$.ctx.arr[1]", "$.logNo"]
JSON_CHECKPOINT_SQL = f"""
WITH p AS (
    SELECT *,
           json_extract_string(text, '$.level') AS level,
           json_extract_string(text, '$.msg') AS msg,
           json_extract_string(text, '$.ctx.k') AS ctx_k,
           json_extract_string(text, '$.logNo') AS logNo,
           {" + ".join(f"length(json_extract_string(text, '{p}'))" for p in _JSON_LEAVES)}
               AS parsed__len
    FROM src
)
SELECT {_SRC_COLS}, {len(_JSON_LEAVES)} AS parsed__size, parsed__len,
       level, msg, ctx_k, logNo,
       CAST(row_number() OVER (PARTITION BY conv_id ORDER BY turn_idx) - 1 AS INTEGER)
           AS seq,
       {_ROUTE_SQL}
FROM p
WHERE regexp_matches(level, '^(ERROR|WARN)$')
"""


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    input_kind: str  # loadgen generator
    turns_per_core: int
    processors: list[dict]
    sink: str  # "blackhole" | "checkpoint"
    # (plan node name, text its description must contain) pairs that a
    # timed run's executed plan must keep; "" matches any description
    stress: list[tuple[str, str]]
    oracle_sql: str
    # string output columns holding integers: summed as numbers too
    numeric: list[str] = field(default_factory=list)
    # per-layer Observation expressions (Spark SQL) beyond the row count
    observe: dict[str, dict[str, str]] = field(default_factory=dict)
    # full runs before the first timed one: on a 4-core host the JIT kept
    # making spine_regex runs faster (CPU 3.5 s -> 2.2 s) for ~8 runs,
    # json_checkpoint runs, which wait mostly on Python, for ~4
    warmups: int = 4

    def spec(self, n_processors: int | None = None, router: bool = True) -> dict:
        procs = self.processors[: n_processors if n_processors is not None else None]
        spec: dict = {"processors": [dict(p) for p in procs]}
        if router:
            spec["router"] = ROUTER
        return spec


WORKLOADS = {
    w.name: w
    for w in [
        Workload(
            name="spine_regex",
            why="nginx regex parse, role dict_map and router into the blackhole "
            "flusher: the reference's own benchmark shape, native regex bound",
            input_kind="mixed",
            turns_per_core=30_000,
            processors=[
                {"type": "parse_regex", "source_key": "text",
                 "regex": NGINX_REGEX, "keys": NGINX_KEYS},
                {"type": "dict_map", "dim": "role_dim", "source_key": "role",
                 "dest_key": "role_class", "handle_missing": True,
                 "missing": "Unknown"},
            ],
            sink="blackhole",
            stress=[("Project", "regexp_replace")],
            warmups=8,
            oracle_sql=SPINE_REGEX_SQL,
            numeric=["status", "body_bytes", "log_no"],
            observe={
                "operators.parse": {"matched": "count(ip)"},
                "operators.enrich": {"missing": "count_if(role_class = 'Unknown')"},
            },
        ),
        Workload(
            name="json_checkpoint",
            why="JSON-only transcripts with hot conversations through parse_json, a "
            "level filter and stable_order into run_with_checkpoint: Python worker, "
            "shuffle, skewed window, real writes",
            input_kind="json",
            turns_per_core=5_000,
            processors=[
                {"type": "parse_json", "source_key": "text",
                 "expand_array": True, "keys": JSON_KEYS},
                {"type": "filter_regex", "include": {"level": "^(ERROR|WARN)$"}},
                {"type": "stable_order"},
            ],
            sink="checkpoint",
            stress=[("ArrowEvalPython", ""), ("Window", ""), ("Exchange", "")],
            oracle_sql=JSON_CHECKPOINT_SQL,
            numeric=["ctx_k", "logNo"],
            observe={"operators.parse": {"matched": "count(parsed)"}},
        ),
    ]
}
