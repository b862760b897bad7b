"""Named queries with paired DuckDB oracles (the driver's correctness gate).

Each query is ``fn(spark, sf_dir) -> DataFrame``, registered once in
its family module by ``@query(*tables, oracle=...)`` (see
:mod:`.registry`). :data:`QUERIES` and :data:`ORACLES` are views of
that registry in registration order: the oracle is DuckDB SQL over
views of the fixture tables the query declares (``events``,
``documents``, ``embeddings``). Column names are aliased identically
on both sides (the driver compares by sorted column name + value
hash). ``__spark_entry__.queries()`` derives the checking order from
the recorded correctness rounds.

The transcript queries all derive their input through the canonical
cross-engine transcripts CTE (sources/transcripts.py), so both engines
compute over byte-identical input rows.
"""

from __future__ import annotations

from . import (  # noqa: F401  (importing a family registers its queries)
    processors,
    dedup,
    quality,
    corpus,
    analytics,
    embeddings,
    sampling,
    wire,
    dialogue,
    agents,
)
from .common import (  # noqa: F401  (re-exported for the spine's callers)
    DEFAULT_SINK,
    NGINX_KEYS,
    NGINX_REGEX,
    ROLE_DIM,
    ROUTER_RULES,
)
from .processors import ENCRYPT_GOLDEN, ENCRYPT_KEY_HEX  # noqa: F401
from .registry import REGISTRY

QUERIES = {name: q.fn for name, q in REGISTRY.items()}
ORACLES = {name: q.oracle for name, q in REGISTRY.items()}
