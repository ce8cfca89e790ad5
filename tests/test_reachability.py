"""Every kgflow module is reached by an import from an entry point: a
benchmark workload or generator, the pipeline CLI, the bench harness,
the scaling harness or the driver contract. A module that only tests
import is code no run executes. The walk is static (the AST's import
nodes, including imports inside functions), so it needs no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
ENTRY_POINTS = (
    "perfbench/workloads.py",
    "perfbench/gen.py",
    "run_pipeline.py",
    "bench.py",
    "__spark_entry__.py",
    "BENCH/scaling.py",
)


def _module_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for path in (base.with_suffix(".py"), base / "__init__.py"):
        if path.is_file():
            return path
    return None


def _imported_names(path: Path):
    """Every dotted name an import in ``path`` may load: ``from a import
    b`` loads ``a`` and, when ``b`` is a submodule, ``a.b``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            yield from (alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module and node.level == 0:
            yield node.module
            yield from (f"{node.module}.{alias.name}" for alias in node.names)


def reached_modules() -> set[str]:
    seen: set[str] = set()
    todo = [ROOT / p for p in ENTRY_POINTS]
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # importing a.b.c runs a/__init__.py and a/b/__init__.py too
            for i in range(1, len(parts) + 1):
                module = ".".join(parts[:i])
                path = _module_file(module)
                if path is not None and module not in seen:
                    seen.add(module)
                    todo.append(path)
    return seen


def test_every_kgflow_module_is_reached_from_an_entry_point():
    modules = {
        ".".join(p.relative_to(ROOT).with_suffix("").parts).removesuffix(".__init__")
        for p in (ROOT / "kgflow").rglob("*.py")
    }
    unreached = sorted(modules - reached_modules())
    assert not unreached, f"no entry point imports {unreached}"
