"""Every ``hg64spark`` import in the library, the jobs and the tests resolves:
the module exists and each imported name is an attribute or a submodule of
it.  Imports inside functions count too, so a dangling lazy import fails
here instead of at call time."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from collections.abc import Iterator
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
FILES = sorted(p for d in ("hg64spark", "jobs", "tests") for p in (ROOT / d).rglob("*.py"))


def _hg64spark_imports(path: Path) -> Iterator[tuple[int, str, str | None]]:
    """(line, module, imported name or None) for every hg64spark import."""
    for node in ast.walk(ast.parse(path.read_text(), filename=str(path))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                if alias.name.split(".")[0] == "hg64spark":
                    yield node.lineno, alias.name, None
        elif isinstance(node, ast.ImportFrom):
            assert node.level == 0, f"{path}:{node.lineno}: relative import"
            if node.module and node.module.split(".")[0] == "hg64spark":
                for alias in node.names:
                    yield node.lineno, node.module, alias.name


def test_every_hg64spark_import_resolves():
    seen, broken = 0, []
    for path in FILES:
        for line, module, name in _hg64spark_imports(path):
            seen += 1
            where = f"{path.relative_to(ROOT)}:{line}"
            try:
                mod = importlib.import_module(module)
            except ImportError as e:
                broken.append(f"{where}: {module}: {e}")
                continue
            if name in (None, "*") or hasattr(mod, name):
                continue
            if not hasattr(mod, "__path__") or importlib.util.find_spec(f"{module}.{name}") is None:
                broken.append(f"{where}: {module} has no {name}")
    assert seen > 100, seen
    assert not broken, "\n".join(broken)
