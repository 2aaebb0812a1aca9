"""Every function the benchmark's traced run wraps (``perfbench/tracing.py``
``ENTRY_POINTS``) still exists: renaming or deleting one fails here, not
in a ``--trace 1`` benchmark run."""

from __future__ import annotations

import importlib
import importlib.util
import pathlib

import pytest

TRACING = pathlib.Path(__file__).resolve().parents[1] / "perfbench" / "tracing.py"


def _entry_points() -> list[tuple[str, str]]:
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return [target for targets in module.ENTRY_POINTS.values() for target in targets]


@pytest.mark.parametrize("module_name, path", _entry_points())
def test_traced_entry_point_resolves(module_name, path):
    owner = importlib.import_module(module_name)
    for attr in path.split("."):
        owner = getattr(owner, attr)
    assert callable(owner), (module_name, path)
