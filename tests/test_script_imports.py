"""The measurement scripts and ``bench.py`` import engine internals by
name, inside functions as well as at module level, and no test runs
them — so a renamed or deleted engine name would only surface when
someone next runs the script.  This resolves every such import
statically, without executing the scripts."""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "prod_recommendation_pyspark_spark"
FILES = [ROOT / "bench.py", *sorted((ROOT / "scripts").glob("*.py"))]


def _engine_imports(path: Path) -> list[tuple[int, str, str]]:
    out = []
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module or ""
        ).split(".")[0] == PKG:
            out += [(node.lineno, node.module, a.name) for a in node.names]
    return out


def test_script_engine_imports_resolve():
    missing = []
    for path in FILES:
        for lineno, module, name in _engine_imports(path):
            mod = importlib.import_module(module)
            if not hasattr(mod, name):
                try:
                    importlib.import_module(f"{module}.{name}")
                except ModuleNotFoundError:
                    missing.append(f"{path.name}:{lineno}: {module}.{name}")
    assert len(FILES) > 1
    assert not missing, missing
