"""perfbench's ``--trace 1`` wraps engine functions by ``(module,
attribute)``. A refactor that drops or renames one of those bindings
fails here, in pytest, instead of crashing only the traced runs."""

from __future__ import annotations

import importlib.util
from pathlib import Path

METRICS = Path(__file__).resolve().parents[1] / "perfbench" / "metrics.py"


def test_every_wrapped_engine_name_is_bound():
    spec = importlib.util.spec_from_file_location("perfbench_metrics", METRICS)
    metrics = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(metrics)

    wrapped = []

    class Tracer:
        def wrap(self, module, attr, name):
            assert callable(getattr(module, attr, None)), f"{module.__name__}.{attr} ({name})"
            wrapped.append((module.__name__, attr))

    metrics.instrument(Tracer())
    assert ("memfuse_spark.operators.graph", "contextual_retrieval") in wrapped
    assert ("memfuse_spark.plans.pipeline", "rrf_fusion") in wrapped
