"""The benchmark's ``--trace 1`` contract with the pipeline modules.

``perfbench/tracing.py`` wraps layer functions by name on each pipeline
module and, for the ``write`` and ``source_arg`` roles, forces the
argument at a fixed position. A rename or a reordered signature would
only break a traced run, which no other test starts; this pins both
without a JVM.
"""

from __future__ import annotations

import importlib.util
import inspect
import pathlib
import sys

from pyspark.sql import DataFrame

TRACING = pathlib.Path(__file__).resolve().parent.parent / "perfbench" / "tracing.py"


def _layer_calls() -> dict:
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    module = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = module  # its dataclasses resolve through it
    spec.loader.exec_module(module)
    return module.LAYER_CALLS


def test_every_traced_layer_call_resolves_on_its_pipeline_module():
    for module, calls in _layer_calls().items():
        for name in calls:
            assert callable(getattr(module, name, None)), f"{module.__name__}.{name}"


def test_forced_argument_index_names_the_dataframe_parameter():
    checked = 0
    for module, calls in _layer_calls().items():
        for name, (_layer, role, index) in calls.items():
            if role not in ("write", "source_arg"):
                continue
            params = list(inspect.signature(getattr(module, name), eval_str=True).parameters.values())
            assert index < len(params), f"{module.__name__}.{name}"
            assert params[index].annotation is DataFrame, (
                f"{module.__name__}.{name} argument {index} is {params[index].name!r}, not a DataFrame"
            )
            checked += 1
    assert checked >= 4
