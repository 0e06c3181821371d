"""The benchmark's traced run (``perfbench/run.py --trace 1``) wraps the
package functions listed in ``perfbench/tracing.ENTRY_POINTS`` by name.
A refactor that renames or deletes one of them would break that run
without failing anything else, so pin every name here."""

from __future__ import annotations

import importlib
import importlib.util
from pathlib import Path

TRACING = Path(__file__).resolve().parent.parent / "perfbench" / "tracing.py"


def _tracing():
    spec = importlib.util.spec_from_file_location("perfbench_tracing", TRACING)
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


def test_every_traced_entry_point_resolves():
    tracing = _tracing()
    assert tracing.ENTRY_POINTS
    missing = []
    for mod_name, fn_name, _span in tracing.ENTRY_POINTS:
        module = importlib.import_module(f"{tracing.PKG}.{mod_name}")
        if not callable(getattr(module, fn_name, None)):
            missing.append(f"{mod_name}.{fn_name}")
    assert not missing, missing
