"""One engine per operator: no public operator takes an option that
picks between implementations. A second engine needs its own A/B
measurement and the loser's deletion, not a keyword."""

import importlib
import inspect
import pkgutil

import pytest

import loongcollector_spark.operators as operators

_MODULES = [
    f"loongcollector_spark.operators.{m.name}"
    for m in pkgutil.iter_modules(operators.__path__)
] + ["loongcollector_spark.streaming.stream", "loongcollector_spark.spl"]

_ENGINE_PARAMS = {"engine", "impl", "gram_engine"}


def _public_functions(module_name):
    mod = importlib.import_module(module_name)
    for name, obj in vars(mod).items():
        # modules without __all__ re-export imports: keep only the
        # functions this module defines
        if (
            not name.startswith("_")
            and inspect.isfunction(obj)
            and obj.__module__ == module_name
        ):
            yield name, obj


@pytest.mark.parametrize("module_name", _MODULES)
def test_no_engine_selector_parameters(module_name):
    funcs = dict(_public_functions(module_name))
    assert funcs, f"{module_name} defines no public function"
    forks = {
        name: sorted(_ENGINE_PARAMS & set(inspect.signature(fn).parameters))
        for name, fn in funcs.items()
    }
    assert {n: p for n, p in forks.items() if p} == {}


def test_equality_key_fingerprints_take_no_hash_mode():
    """A fingerprint used only to group, join or compare cannot change
    the output, so these operators hash with xxhash64 and take no
    kernel option."""
    from loongcollector_spark.operators import aggregate, dedup, delta, trajectory

    funcs = [
        aggregate.self_repetition,
        dedup.duplicate_spans,
        dedup.remove_duplicate_spans,
        dedup.split_leakage,
        delta.corpus_delta,
        delta.delta_summary,
        trajectory.agent_loops,
    ]
    assert [
        fn.__name__ for fn in funcs if "hash_mode" in inspect.signature(fn).parameters
    ] == []


def test_trailing_zscore_takes_no_block_count():
    from loongcollector_spark.operators.timeseries import trailing_zscore

    assert "blocks" not in inspect.signature(trailing_zscore).parameters


def test_one_backtick_quoting_rule():
    """Only ``functions/sqltext.py`` builds a backtick identifier: every
    other source quotes a name through it, so the package has one rule
    for how a key names a column."""
    import pathlib

    import loongcollector_spark

    root = pathlib.Path(loongcollector_spark.__file__).parent
    quoting = sorted(
        str(p.relative_to(root))
        for p in root.rglob("*.py")
        if 'replace("`"' in p.read_text() or "replace('`'" in p.read_text()
    )
    assert quoting == ["functions/sqltext.py"]


def test_benchmark_imports_resolve_with_its_keywords():
    """Every package name ``perfbench/`` imports still resolves and
    accepts the arguments the benchmark passes it, so a refactor of
    these modules cannot turn a benchmark run into a failed one."""
    from loongcollector_spark.config import load_dims
    from loongcollector_spark.pipeline import Pipeline
    from loongcollector_spark.plans.checkpoint import (
        CheckpointedRun,
        run_with_checkpoint,
    )
    from loongcollector_spark.session import get_spark
    from loongcollector_spark.sources.sinks import write_blackhole
    from loongcollector_spark.sources.transcripts import generate_transcripts

    x = object()
    calls = [
        (load_dims, (x, x), {}),
        (Pipeline, (x,), {}),
        (Pipeline, (x, x), {}),
        (CheckpointedRun, (x, x, x), {}),
        (CheckpointedRun.committed_units, (x,), {}),
        (
            run_with_checkpoint,
            (x, x, x),
            dict(out_dir=x, lineage_dir=x, job_id=x, n_units=x),
        ),
        (write_blackhole, (x,), {}),
        (generate_transcripts, (x, x), dict(n_convs=x, partitions=x)),
        (get_spark, ("perfbench",), dict(cores=x, extra_conf=x)),
    ]
    for fn, args, kwargs in calls:
        inspect.signature(fn).bind(*args, **kwargs)  # TypeError if not
