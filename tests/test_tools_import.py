"""Every script under tools/ imports cleanly and exposes a ``main``;
nothing here runs ``main`` or starts Spark."""

import glob
import importlib.util
import os

TOOLS = os.path.join(os.path.dirname(os.path.dirname(__file__)), "tools")


def _load(path):
    name = "tool_" + os.path.splitext(os.path.basename(path))[0]
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_tools_import_and_expose_main():
    paths = sorted(glob.glob(os.path.join(TOOLS, "*.py")))
    assert paths
    mods = {os.path.basename(p): _load(p) for p in paths}
    for name, mod in mods.items():
        assert callable(getattr(mod, "main", None)), name
    # plan_report's sweep tail reads the newest committed *_sf01 sweep
    assert mods["plan_report.py"].sweep_tail_names()
