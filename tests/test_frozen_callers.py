"""The benchmark scripts (``bench.py``, ``__spark_entry__.py``) are frozen:
they are never edited, so the program's entry points must keep accepting
exactly the calls they make. This test parses both files and binds every
call of the listed entry points against the current signature, so a
refactor that drops a keyword they pass fails here, not in a benchmark
run."""

from __future__ import annotations

import ast
import inspect
import os

import pytest

from gazetteer_search_spark.index import builder, codec, reindex, segments
from gazetteer_search_spark.operators import negatives
from gazetteer_search_spark.search import engine, fastpath

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FROZEN = ("bench.py", "__spark_entry__.py")

# called name (a bare name or the attribute of a module alias) -> callee
ENTRY_POINTS = {
    "build_index": builder.build_index,
    "add_segment": segments.add_segment,
    "compact": segments.compact,
    "reindex": reindex.reindex,
    "open_multi_search": segments.open_multi_search,
    "SearchEngine": engine.SearchEngine,
    "LocalExecutor": fastpath.LocalExecutor,
    "MultiExecutor": segments.MultiExecutor,
    "mine_hard_negatives": negatives.mine_hard_negatives,
}


def _calls(path: str):
    tree = ast.parse(open(path).read(), filename=path)
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        fn = node.func
        name = (
            fn.id if isinstance(fn, ast.Name)
            else fn.attr if isinstance(fn, ast.Attribute)
            else None
        )
        if name in ENTRY_POINTS:
            yield name, node


def _executor_calls(path: str):
    """``<engine>._local.<method>(...)`` calls: the engine's serving
    executor is a LocalExecutor on every index the benchmark builds."""
    tree = ast.parse(open(path).read(), filename=path)
    for node in ast.walk(tree):
        fn = node.func if isinstance(node, ast.Call) else None
        if (
            isinstance(fn, ast.Attribute)
            and isinstance(fn.value, ast.Attribute)
            and fn.value.attr == "_local"
        ):
            yield fn.attr, node


def _bind(fname, label, fn, call, self_arg=()):
    sig = inspect.signature(fn)
    starred = any(isinstance(a, ast.Starred) for a in call.args)
    kwargs = {k.arg: None for k in call.keywords if k.arg is not None}
    open_kw = any(k.arg is None for k in call.keywords)
    args = [*self_arg, *[None] * (0 if starred else len(call.args))]
    bind = sig.bind_partial if (starred or open_kw) else sig.bind
    try:
        bind(*args, **kwargs)
    except TypeError as e:
        pytest.fail(f"{fname}:{call.lineno} {label}(...) no longer binds: {e}")


@pytest.mark.parametrize("fname", FROZEN)
def test_frozen_calls_bind(fname):
    n_checked = 0
    for name, call in _calls(os.path.join(ROOT, fname)):
        _bind(fname, name, ENTRY_POINTS[name], call)
        n_checked += 1
    assert n_checked > 0


def test_frozen_executor_calls_bind():
    """bench.py calls the serving executor's methods directly; each call
    binds against the LocalExecutor method (inherited or its own)."""
    seen = set()
    for meth, call in _executor_calls(os.path.join(ROOT, "bench.py")):
        fn = getattr(fastpath.LocalExecutor, meth, None)
        if fn is None:
            pytest.fail(f"bench.py:{call.lineno} LocalExecutor.{meth} is gone")
        _bind("bench.py", f"LocalExecutor.{meth}", fn, call, self_arg=(None,))
        seen.add(meth)
    assert seen >= {
        "facet_rows", "search_sorted_rows", "explain_rung",
        "search_allowed", "search_rung",
    }


def test_codec_decoders_take_n_second():
    """perfbench/trace.py reads the decoded posting count from the second
    positional argument of the wrapped decoders."""
    for fn in (codec.ids_decode, codec.tfs_decode):
        assert list(inspect.signature(fn).parameters)[1] == "n", fn.__name__
