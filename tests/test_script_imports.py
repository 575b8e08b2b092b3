"""Every first-party name the entry points and scripts import must exist.

Scripts are not imported by any other test, so deleting an operator helper
can leave a script that only fails when someone runs it. This walks the
source of ``scripts/*.py``, ``perfbench/*.py``, ``bench.py`` and
``__spark_entry__.py`` (no execution, no Spark session) and resolves each
``from timing_explorer_spark... import name`` — including imports nested
inside functions — against the package as it is now. A dotless module
that is not an installed one is a first-party sibling: ``from make_sf1
import make_sf1`` resolves against the top-level definitions of
``make_sf1.py`` next to the importing file or at the repo root (``from bench
import name``), and fails when no such file exists.
"""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "timing_explorer_spark"


def _sources() -> list[Path]:
    return (
        sorted(ROOT.glob("scripts/*.py"))
        + sorted(ROOT.glob("perfbench/*.py"))
        + [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    )


def _top_level_names(path: Path) -> set[str]:
    names = set()
    for node in ast.parse(path.read_text()).body:
        if isinstance(node, (ast.FunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, ast.Assign):
            names.update(t.id for t in node.targets if isinstance(t, ast.Name))
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
    return names


def _resolves(module: str, name: str) -> bool:
    try:
        mod = importlib.import_module(module)
    except ImportError:
        return False
    if name == "*" or hasattr(mod, name):
        return True
    # a submodule not yet imported: only packages have them
    return hasattr(mod, "__path__") and importlib.util.find_spec(f"{module}.{name}") is not None


def _sibling(path: Path, mod: str) -> Path | None:
    """The first-party file ``mod`` names for ``path``: one beside it, or
    one at the repo root (scripts put it on sys.path)."""
    for d in (path.parent, ROOT):
        if (d / f"{mod}.py").exists():
            return d / f"{mod}.py"
    return None


def test_script_imports_resolve():
    checked = 0
    missing = []
    for path in _sources():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, ast.ImportFrom) or node.level != 0:
                continue
            mod = node.module
            names = None  # None: resolve against the package
            if mod != PACKAGE and not mod.startswith(PACKAGE + "."):
                if "." in mod:
                    continue  # stdlib or third party
                sibling = _sibling(path, mod)
                if sibling is None and importlib.util.find_spec(mod) is not None:
                    continue  # stdlib or third party
                names = _top_level_names(sibling) if sibling else set()
            for alias in node.names:
                checked += 1
                ok = _resolves(mod, alias.name) if names is None else alias.name in names
                if not ok:
                    missing.append(f"{path.name}:{node.lineno}: {mod}.{alias.name}")
    assert checked > 0
    assert not missing, "unresolved imports:\n" + "\n".join(missing)
