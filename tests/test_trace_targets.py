"""The benchmark tracer's targets resolve on the engine as it stands.

``lakebench/spans.py`` patches each ``TARGETS`` entry in place, reading a
class's own ``__dict__``: a traced method that moves into a base class
would crash every traced benchmark run. This resolves each entry the way
``Tracer.install()`` does, without a Spark session, so such a move fails
here instead.
"""

from __future__ import annotations

import importlib
import importlib.util
import sys
from pathlib import Path

SPANS = Path(__file__).resolve().parents[1] / "lakebench" / "spans.py"


def _targets():
    spec = importlib.util.spec_from_file_location("lakebench_spans", SPANS)
    mod = importlib.util.module_from_spec(spec)
    sys.modules[spec.name] = mod  # dataclasses resolve their module
    try:
        spec.loader.exec_module(mod)
    finally:
        del sys.modules[spec.name]
    return mod.TARGETS


def test_every_trace_target_resolves_as_the_tracer_installs_it():
    targets = _targets()
    missing = []
    for mod_name, path, _name, _layer in targets:
        owner = importlib.import_module(mod_name)
        *outer, attr = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        if isinstance(owner, type):
            fn = owner.__dict__.get(attr)
        else:
            fn = getattr(owner, attr, None)
        if not callable(fn):
            missing.append(f"{mod_name}.{path}")
    assert not missing, (
        "lakebench/spans.py TARGETS that Tracer.install() cannot patch "
        f"(not defined on the named class itself): {missing}")
    traced = {path for _m, path, _n, _l in targets}
    assert {"MaterializedAgg.refresh",
            "TableReplicationStream.run_available",
            "NativeTable.change_feed"} <= traced
