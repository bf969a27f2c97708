"""Package-hygiene gates: no module may define the same top-level name
twice (the paste-error class that produced the duplicate
``l_diversity_classes`` in round 6 — VERDICT.md r06 "What's wrong" #1),
and no ``__all__`` list may contain duplicates.

Also: no operator but ``pagerank_fixed_point`` takes a ``collect_max_*``
option.

Pure-AST, no Spark session needed — runs in milliseconds.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

PACKAGE = Path(__file__).resolve().parent.parent / "morphik_core_spark"


def _py_files():
    return sorted(PACKAGE.rglob("*.py"))


def test_no_duplicate_toplevel_definitions():
    offenders: list[str] = []
    for path in _py_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        names = Counter()
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names[node.name] += 1
        # Deliberate redefinition patterns (try/except import fallbacks)
        # live inside Try bodies, not module body, so any module-body
        # duplicate is a paste error.
        for name, n in names.items():
            if n > 1:
                offenders.append(f"{path.relative_to(PACKAGE.parent)}: {name} defined {n}x")
    assert not offenders, "duplicate top-level definitions:\n" + "\n".join(offenders)


def test_no_duplicate_all_entries():
    offenders: list[str] = []
    for path in _py_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
                and isinstance(node.value, (ast.List, ast.Tuple))
            ):
                vals = [
                    e.value
                    for e in node.value.elts
                    if isinstance(e, ast.Constant) and isinstance(e.value, str)
                ]
                dupes = [v for v, n in Counter(vals).items() if n > 1]
                if dupes:
                    offenders.append(f"{path.relative_to(PACKAGE.parent)}: __all__ dupes {dupes}")
    assert not offenders, "duplicate __all__ entries:\n" + "\n".join(offenders)


def test_all_entries_exist():
    """Every ``__all__`` name must be defined or imported in the module."""
    offenders: list[str] = []
    for path in _py_files():
        tree = ast.parse(path.read_text(), filename=str(path))
        defined: set[str] = set()
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defined.add(node.name)
            elif isinstance(node, ast.Assign):
                for t in node.targets:
                    if isinstance(t, ast.Name):
                        defined.add(t.id)
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                defined.add(node.target.id)
            elif isinstance(node, (ast.Import, ast.ImportFrom)):
                for a in node.names:
                    defined.add((a.asname or a.name).split(".")[0])
        for node in tree.body:
            if (
                isinstance(node, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets)
                and isinstance(node.value, (ast.List, ast.Tuple))
            ):
                for e in node.value.elts:
                    if isinstance(e, ast.Constant) and isinstance(e.value, str):
                        if e.value not in defined:
                            offenders.append(
                                f"{path.relative_to(PACKAGE.parent)}: __all__ lists "
                                f"undefined name {e.value!r}"
                            )
    assert not offenders, "\n".join(offenders)


# pagerank_fixed_point keeps its opt-in collected path: the registry runs
# it on a bounded dimension graph (nation_pagerank) and on a vocabulary
# graph with no bound (textrank_keywords), so neither path can go.
COLLECT_OPTION_ALLOWED = {"pagerank_fixed_point"}


def test_operators_take_no_collect_max_option():
    """Every other bounded operator has one implementation whose bound is
    a module constant, not a caller-set ``collect_max_*`` switch."""
    offenders: list[str] = []
    for path in sorted((PACKAGE / "operators").rglob("*.py")):
        tree = ast.parse(path.read_text(), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            if node.name in COLLECT_OPTION_ALLOWED:
                continue
            a = node.args
            for arg in a.posonlyargs + a.args + a.kwonlyargs:
                if arg.arg.startswith("collect_max_"):
                    offenders.append(
                        f"{path.relative_to(PACKAGE.parent)}: {node.name}({arg.arg})"
                    )
    assert not offenders, "collect_max_* options:\n" + "\n".join(offenders)
