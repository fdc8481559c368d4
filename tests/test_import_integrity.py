"""Every ``pyrosm_spark`` import in the repository resolves.

A function-local import of a module or name that no longer exists
fails only when that call runs, so this parses each file and resolves
every ``pyrosm_spark`` import, module-level or nested, without running
the code around it.
"""

import ast
import glob
import importlib
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOTS = ("pyrosm_spark", "scripts", "perfbench", "tests")


def _pyrosm_imports(path):
    """``(line, module, name)`` for each ``pyrosm_spark`` import in the
    file; ``name`` is None for a plain ``import``."""
    with open(path) as f:
        tree = ast.parse(f.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "pyrosm_spark":
                    yield node.lineno, alias.name, None
        elif (isinstance(node, ast.ImportFrom) and node.level == 0
              and (node.module or "").split(".")[0] == "pyrosm_spark"):
            for alias in node.names:
                yield node.lineno, node.module, alias.name


def _unresolved(module, name):
    try:
        mod = importlib.import_module(module)
    except ImportError as e:
        return f"module {module}: {e}"
    if name is None or name == "*" or hasattr(mod, name):
        return None
    try:
        importlib.import_module(f"{module}.{name}")
    except ImportError:
        return f"{module} has no {name}"
    return None


def test_every_pyrosm_spark_import_resolves():
    files = [p for root in ROOTS
             for p in glob.glob(os.path.join(REPO, root, "**", "*.py"),
                                recursive=True)]
    assert any(p.endswith("graph.py") for p in files)
    bad = []
    for path in sorted(files):
        for line, module, name in _pyrosm_imports(path):
            err = _unresolved(module, name)
            if err:
                bad.append(f"{os.path.relpath(path, REPO)}:{line}: {err}")
    assert not bad, "\n".join(bad)
