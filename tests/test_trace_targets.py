"""The benchmark's traced pass wraps each ``(module, attr)`` serving hook in
``perfbench.trace.SERVING_TARGETS``; a refactor that renames or removes one
breaks that pass, so each must resolve to a callable."""

from __future__ import annotations

import importlib
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.trace import SERVING_TARGETS  # noqa: E402


@pytest.mark.parametrize("mod_name,attr,span", SERVING_TARGETS)
def test_serving_trace_target_resolves(mod_name, attr, span):
    obj = importlib.import_module(mod_name)
    for part in attr.split("."):
        obj = getattr(obj, part)
    assert callable(obj), (mod_name, attr)
