"""Tooling guard: every package name the scripts and the benchmark import
must exist.

``scripts/*.py`` and ``perfbench/*.py`` are not imported by the test
suite, so a refactor that deletes or renames a package symbol would only
surface when someone next runs them. This test parses them with ``ast``
(no Spark, no package import) and checks each ``hadoop_job_analyzer_spark``
import — and each ``module.attr`` use of an imported package module —
against the names the target module defines at top level.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "hadoop_job_analyzer_spark"


def _in_pkg(dotted: str) -> bool:
    return dotted.split(".")[0] == PKG


def _module_path(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _top_level_names(path: Path) -> set[str]:
    """Names bound at module level, including inside top-level if/try
    blocks, but not inside function or class bodies."""
    names: set[str] = set()
    stack: list[ast.AST] = list(ast.parse(path.read_text()).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
            continue
        if isinstance(node, (ast.Import, ast.ImportFrom)):
            names |= {(a.asname or a.name).split(".")[0] for a in node.names}
        elif isinstance(node, (ast.Assign, ast.AnnAssign, ast.AugAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            names |= {
                n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
            }
        stack.extend(c for c in ast.iter_child_nodes(node) if isinstance(c, ast.stmt))
    return names


def _has(module: str, name: str) -> bool:
    if _module_path(f"{module}.{name}") is not None:
        return True
    path = _module_path(module)
    return path is not None and name in _top_level_names(path)


def _missing_names(path: Path) -> list[str]:
    tree = ast.parse(path.read_text())
    missing: list[str] = []
    bound_modules: dict[str, str] = {}  # local alias -> package module
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and _in_pkg(node.module or ""):
            for a in node.names:
                if a.name == "*":
                    continue
                if not _has(node.module, a.name):
                    missing.append(f"{node.module}.{a.name}")
                elif _module_path(f"{node.module}.{a.name}") is not None:
                    bound_modules[a.asname or a.name] = f"{node.module}.{a.name}"
        elif isinstance(node, ast.Import):
            for a in node.names:
                if not _in_pkg(a.name):
                    continue
                if _module_path(a.name) is None:
                    missing.append(a.name)
                elif a.asname:
                    bound_modules[a.asname] = a.name
    for node in ast.walk(tree):
        if (
            isinstance(node, ast.Attribute)
            and isinstance(node.value, ast.Name)
            and node.value.id in bound_modules
        ):
            mod = bound_modules[node.value.id]
            if not _has(mod, node.attr):
                missing.append(f"{mod}.{node.attr}")
    return missing


def test_scripts_and_perfbench_import_only_existing_package_names():
    files = sorted((REPO / "scripts").glob("*.py")) + sorted(
        (REPO / "perfbench").glob("*.py")
    )
    assert files
    missing = {
        str(f.relative_to(REPO)): m for f in files if (m := _missing_names(f))
    }
    assert missing == {}, missing
