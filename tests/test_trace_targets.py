"""Every function the API benchmark's ``--trace 1`` run wraps still exists
where the tracer looks it up, so a refactor that drops or moves a traced
name fails here instead of in a traced benchmark run. Needs no Spark
session: it only imports modules and reads their namespaces."""

import importlib

import pytest

from perfbench.tracing import TARGETS


@pytest.mark.parametrize(
    "module_name, attr_path",
    [(m, a) for m, a, _ in TARGETS],
    ids=[f"{m}:{a}" for m, a, _ in TARGETS],
)
def test_trace_target_resolves(module_name, attr_path):
    owner = importlib.import_module(module_name)
    *owner_path, attr = attr_path.split(".")
    for part in owner_path:
        owner = getattr(owner, part)
    assert attr in owner.__dict__, f"{module_name}.{attr_path} is not defined on its owner"
