"""The maintenance tools stay loadable (Spark-free): every ``tools/``
script, ``bench.py`` and ``scale_probe.py`` byte-compiles, every
``tools`` module imports, and each ``tools/perf.py`` subcommand parses
``--help`` — so deleting a module cannot leave a dangling import."""
import glob
import importlib
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

TOOLS = sorted(glob.glob(os.path.join(REPO, "tools", "*.py")))
SCRIPTS = TOOLS + [os.path.join(REPO, "bench.py"), os.path.join(REPO, "scale_probe.py")]


@pytest.mark.parametrize("path", SCRIPTS, ids=os.path.basename)
def test_script_compiles(path):
    with open(path, encoding="utf-8") as fh:
        compile(fh.read(), path, "exec")


@pytest.mark.parametrize("path", TOOLS, ids=os.path.basename)
def test_tool_imports(path):
    importlib.import_module("tools." + os.path.basename(path)[:-3])


@pytest.mark.parametrize("cmd", ["isolate", "ab", "profile"])
def test_perf_subcommand_help(cmd, capsys):
    from tools import perf

    with pytest.raises(SystemExit) as exc:
        perf.main([cmd, "--help"])
    assert exc.value.code == 0
    assert capsys.readouterr().out.startswith("usage: ")
