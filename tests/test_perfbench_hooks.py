"""perfbench's ``--trace 1`` wraps engine functions by module attribute
(``perfbench/run.py`` ``TRACE_TARGETS``). A renamed or removed hook
would break only the traced benchmark run, so this checks, without a
Spark run, that every target still resolves to a callable."""

from __future__ import annotations

import importlib
import importlib.util
import sys
from pathlib import Path

RUN_PY = Path(__file__).resolve().parent.parent / "perfbench" / "run.py"


def test_perfbench_trace_targets_resolve(monkeypatch):
    monkeypatch.setattr(sys, "path", list(sys.path))  # run.py prepends perfbench/
    spec = importlib.util.spec_from_file_location("perfbench_run", RUN_PY)
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    assert run.TRACE_TARGETS
    for mod_name, attr, _span in run.TRACE_TARGETS:
        obj = importlib.import_module(mod_name)
        for part in attr.split("."):
            obj = getattr(obj, part)  # AttributeError names the missing hook
        assert callable(obj), f"{mod_name}.{attr}"
