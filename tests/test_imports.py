"""Import resolution for the entry scripts that no test runs.

``bench.py``, ``bench_extra.py`` and ``scripts/*.py`` import private
helpers from chaos_spark, mostly inside functions, so a deleted or renamed
helper only fails when someone next runs the script. This test parses
each file and checks that every ``from chaos_spark[.<mod>] import <name>``
resolves — no Spark session needed.
"""

from __future__ import annotations

import ast
import importlib
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
FILES = sorted(
    [ROOT / "bench.py", ROOT / "bench_extra.py", *(ROOT / "scripts").glob("*.py")]
)


def _chaos_imports(path: Path):
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0 and (
            node.module == "chaos_spark" or node.module.startswith("chaos_spark.")
        ):
            for alias in node.names:
                yield node.lineno, node.module, alias.name


@pytest.mark.parametrize("path", FILES, ids=lambda p: str(p.relative_to(ROOT)))
def test_chaos_spark_imports_resolve(path):
    missing = []
    for lineno, mod, name in _chaos_imports(path):
        m = importlib.import_module(mod)
        if hasattr(m, name):
            continue
        try:
            importlib.import_module(f"{mod}.{name}")
        except ModuleNotFoundError:
            missing.append(f"{path.name}:{lineno}: {mod}.{name}")
    assert not missing, "unresolved imports:\n" + "\n".join(missing)
