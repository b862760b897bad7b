"""Config-driven pipeline assembly (the reference's YAML pipeline).

A pipeline spec is a dict — the analog of the reference's declarative
YAML config (example_config/data_pipelines/nginx-regex.yaml:25-50),
which is its logical plan::

    {
      "processors": [
        {"type": "parse_regex", "source_key": "text", "regex": ..., "keys": [...]},
        {"type": "dict_map", "dim": <name>, "source_key": "role", ...},
        {"type": "filter_regex", "include": {...}},
        ...
      ],
      "router": {"source_key": "role",
                 "rules": [{"regex": "assistant", "sink": "sink_a"}, ...],
                 "default_sink": "sink_default", "drop_dismatch": false},
      "aggregates": [{"type": "group_count", "keys": ["sink"]}],
    }

A registry maps processor type names to DataFrame transforms —
mirroring the reference's global plugin factory maps
(plugins/processor/regex/regex.go:131-139, C++ PluginRegistry); a
custom processor is registered by adding it to ``PROCESSORS``. The
assembled object is ONE Catalyst logical plan: Spark fuses the whole
processor chain into as few stages as the shuffles require, which is
the performance story the reference builds by hand with thread pools
and queues (SURVEY.md §3).
"""

from __future__ import annotations

import time
from functools import partial
from typing import Any, Callable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .functions import sqltext
from .operators import aggregate as agg_ops
from .operators import enrich, filter as flt, geo, otel, parse, route as rt
from .plans.metrics import MetricsCollector, observe_rows
from .spl import compile_spl as _spl_compile

ProcessorFn = Callable[..., DataFrame]
Step = Callable[[DataFrame], DataFrame]

# name → callable(df, **params). Mirrors pipeline.Processors registry.
PROCESSORS: dict[str, ProcessorFn] = {
    # processor_default: the identity pass-through; ignores any config
    # params like the reference
    # (plugins/processor/defaultone/processor_default.go:15-20)
    "default": lambda df, **_: df,
    # processor_spl (core/plugin/processor/ProcessorSPL.h:26-48): run an
    # SPL script against the in-flight event group. `script` (the
    # reference's `Script` param) goes through the SPL compiler (spl.py:
    # pipe commands + Presto-dialect expressions → one Catalyst plan)
    "spl": _spl_compile,
    "parse_regex": parse.parse_regex,
    "parse_grok": parse.parse_grok,
    "parse_json": parse.parse_json,
    "parse_delimiter": parse.parse_delimiter,
    "parse_keyvalue": parse.parse_keyvalue,
    "split_log_string": parse.split_log_string,
    "split_log_regex": parse.split_log_regex,
    "merge_multiline": parse.merge_multiline,
    "parse_timestamp": parse.parse_timestamp,
    "parse_gotime": parse.parse_gotime,
    "parse_otel_trace": otel.parse_otel_trace,
    "parse_otel_metric": otel.parse_otel_metric,
    "parse_otel_log": otel.parse_otel_log,
    "parse_anchor": parse.parse_anchor,
    "parse_apsara": parse.parse_apsara,
    "parse_json_typed": parse.parse_json_typed,
    "add_fields": enrich.add_fields,
    "add_tags": enrich.add_tags,
    "rename": enrich.rename,
    "string_replace": enrich.string_replace,
    "desensitize": enrich.desensitize,
    "md5": enrich.md5_field,
    "base64_encode": enrich.base64_encode,
    "base64_decode": enrich.base64_decode,
    "pack_json": enrich.pack_json,
    "appender": enrich.appender,
    "drop": enrich.drop_keys,
    "drop_last_key": enrich.drop_last_key,
    "pick": enrich.pick_keys,
    "encrypt": enrich.encrypt_fields,
    "decrypt": enrich.decrypt_fields,
    "log_to_metric": enrich.log_to_metric,
    "cloud_meta": geo.cloud_meta_tags,
    "filter_regex": flt.filter_regex,
    "filter_key_regex": flt.filter_key_regex,
    "filter_expression": flt.filter_expression,
    "fields_with_condition": flt.fields_with_condition,
    "rate_limit": flt.rate_limit,
    "stable_order": agg_ops.stable_order,
    "pack_groups": agg_ops.pack_groups,
    "shard_repartition": agg_ops.shard_repartition,
}

# curation-stage processors (SURVEY §2.11 additions): the text-quality
# ops whose signatures are (df, **params) compose into specs the same
# way the log processors do — a config-driven pipeline can score,
# redact, and tag documents inline with parsing/routing.
def _register_curation() -> None:
    from .operators import text as _text

    PROCESSORS.update(
        {
            "token_stats": _text.token_stats,
            "quality_signals": _text.quality_signals,
            "quality_score": _text.quality_classifier_score,
            "language_id": _text.language_id,
            "fingerprint": _text.fingerprint,
            "pii_redact": _text.pii_redact,
        }
    )


_register_curation()


def _sessionize_counts(
    df: DataFrame, key_cols: Sequence[str] = ("conv_id",), **params
) -> DataFrame:
    keys = list(key_cols)
    s = agg_ops.sessionize(df, keys, **params)
    by = [*map(sqltext.col, keys), "session_id"]
    return s.groupBy(*by).agg(F.count("*").alias("n_events"))


# name → callable(routed, **params): the spec's ``aggregates`` types
_AGGREGATES: dict[str, ProcessorFn] = {
    "group_count": agg_ops.group_count,
    "per_conversation_stats": agg_ops.per_conversation_stats,
    "sessionize_counts": _sessionize_counts,
}


class Pipeline:
    """A spec bound once into DataFrame → DataFrame steps, the way the
    reference builds its processor chain in ``CollectionPipeline::Init``
    and only runs it in ``Process``.

    Construction checks the whole spec and raises before any run: an
    unknown processor or aggregate type (``KeyError``), a ``dict_map``
    or ``geoip`` step whose ``dim`` is not among *dims*, a duplicate
    aggregate name, and ``dict_map``'s mode, type and conflicting-key
    checks (``ValueError``). It also reads each ``dict_map`` dimension,
    once (:func:`enrich.dictionary`): the dictionary is a snapshot taken
    when the ``Pipeline`` is built, so reloading a dimension means
    building a new ``Pipeline``. The spec is read only here, and not
    modified. Every key it names is a flat, literal column name
    (``functions/sqltext.py``): ``host.name`` is one column, not a
    struct field, in every processor, the router and the aggregates.

    :meth:`run` only applies the bound steps, processors then router,
    and starts no Spark job of its own; each step still builds its
    expressions against the input's columns.
    """

    def __init__(
        self,
        spec: dict[str, Any],
        dims: dict[str, DataFrame] | None = None,
    ):
        dims = dims or {}
        self._steps: list[Step] = [
            _bind(dict(p), dims) for p in spec.get("processors", [])
        ]
        r = spec.get("router")
        if r:
            cfg = rt.RouterConfig(
                source_key=r["source_key"],
                rules=[rt.RouterRule(x["regex"], x["sink"]) for x in r.get("rules", [])],
                default_sink=r.get("default_sink", "sink_default"),
                drop_dismatch=r.get("drop_dismatch", False),
                unconditional_sinks=r.get("unconditional_sinks", []),
                tag_copy_sinks=[tuple(t) for t in r.get("tag_copy_sinks", [])],
            )
            self._steps.append(partial(rt.route, cfg=cfg))
        self._aggregates: dict[str, Step] = {}
        for a in spec.get("aggregates", []):
            a = dict(a)
            typ = a.pop("type")
            name = a.pop("name", typ)
            if name in self._aggregates:
                # two unnamed entries of one type would silently
                # overwrite each other (name defaults to the type)
                raise ValueError(
                    f"duplicate aggregate name {name!r}; give each "
                    "same-type entry an explicit 'name'"
                )
            if typ not in _AGGREGATES:
                raise KeyError(f"unknown aggregate type {typ!r}")
            self._aggregates[name] = partial(_AGGREGATES[typ], **a)

    def run(self, df: DataFrame) -> DataFrame:
        """processors → router; returns the routed DataFrame (one
        logical plan, no actions)."""
        for step in self._steps:
            df = step(df)
        return df

    def aggregates(self, routed: DataFrame) -> dict[str, DataFrame]:
        """Build the spec's ``aggregates`` section over the routed
        output: ``[{"name": ..., "type": "group_count"|"per_conversation_stats"|
        "sessionize_counts", ...params}]`` → named aggregate DataFrames
        (the derived verification aggregates of SURVEY.md §2.6)."""
        return {name: build(routed) for name, build in self._aggregates.items()}

    def run_and_write(
        self,
        df: DataFrame,
        write: Callable[[DataFrame], None],
        metrics: MetricsCollector,
        metrics_path: str | None = None,
    ) -> DataFrame:
        """Run the pipeline into *write* — the one metered write path.

        ``write(routed)`` runs one action (``rt.fanout_write``,
        ``write_blackhole``, a wire-payload writer, ...). Rows in and
        rows out are counted during that action (``observe_rows``), not
        by extra ``count()`` jobs that would re-execute the whole
        pipeline; one ``metrics.add("pipeline", rows_in, rows_out,
        write_sec)`` records them, written to *metrics_path* if given.
        Returns the routed frame (with the counters attached).

        A checkpointed run (``plans.checkpoint.run_with_checkpoint``)
        does not come through here: ``run_pipeline.py --lineage``
        observes its input itself, so its ``rows_in`` is the input rows
        scanned, or 0 on a rerun with every unit already committed
        (no action runs; see ``plans.metrics.observe_rows``).
        """
        df, obs_in = observe_rows(df)
        routed, obs_out = observe_rows(self.run(df))
        t0 = time.monotonic()
        write(routed)
        metrics.add(
            "pipeline",
            obs_in.get["n"],
            obs_out.get["n"],
            round(time.monotonic() - t0, 3),
        )
        if metrics_path:
            metrics.write(df.sparkSession, metrics_path)
        return routed


def _bind(step: dict[str, Any], dims: dict[str, DataFrame]) -> Step:
    """The transform of one processor *step* (a copy; consumed)."""
    typ = step.pop("type")
    if typ == "dict_map":
        return enrich.dictionary(_dim(typ, step, dims), **step)
    if typ == "geoip":
        # dim-requiring like dict_map: the geo range table is a named
        # dim (processor_geoip's mmdb analog, geo.py)
        return partial(geo.geoip_enrich, geo_dim=_dim(typ, step, dims), **step)
    if typ not in PROCESSORS:
        raise KeyError(f"unknown processor type {typ!r}")
    return partial(PROCESSORS[typ], **step)


def _dim(typ: str, step: dict[str, Any], dims: dict[str, DataFrame]) -> DataFrame:
    """Pop the dimension *step* names from the loaded *dims*."""
    name = step.pop("dim", None)
    if name not in dims:
        raise ValueError(
            f"{typ} step names dimension {name!r}, but the loaded "
            f"dimensions are {sorted(dims)}"
        )
    return dims[name]
