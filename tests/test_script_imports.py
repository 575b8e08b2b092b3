"""Every first-party name the entry points and scripts import must exist.

Scripts are not imported by any other test, so deleting an operator helper
can leave a script that only fails when someone runs it. This walks the
source of ``scripts/*.py``, ``bench.py`` and ``__spark_entry__.py`` (no
execution, no Spark session) and resolves each
``from timing_explorer_spark... import name`` — including imports nested
inside functions — against the package as it is now.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "timing_explorer_spark"


def _sources() -> list[Path]:
    return sorted(ROOT.glob("scripts/*.py")) + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]


def _resolves(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name == "*" or hasattr(mod, name):
        return True
    # a submodule not yet imported: only packages have them
    return hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}") is not None


def test_script_imports_resolve():
    checked = 0
    missing = []
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level != 0:
                continue
            mod = node.module
            if mod != PACKAGE and not mod.startswith(PACKAGE + "."):
                continue
            for alias in node.names:
                checked += 1
                if not _resolves(mod, alias.name):
                    missing.append(f"{path.name}:{node.lineno}: {mod}.{alias.name}")
    assert checked > 0
    assert not missing, "unresolved imports:\n" + "\n".join(missing)
