"""Name-level reachability audit of the library.

Lists every top-level function and class in ``morphik_core_spark`` that
no root names, directly or through definitions the roots reach. The
roots are the driver contract (``__spark_entry__.py``), ``bench.py``,
``perfbench/``, ``morphik_core_spark/api.py`` and
``morphik_core_spark/pipeline.py``; module-level statements of every
library module, other than imports and ``__all__``, count as roots too.

The scan is static (stdlib ``ast``, no Spark) and matches by name only:
a definition is reached when any reached code mentions its name, as a
bare name, an attribute or an imported name. That over-approximates
reachability, so everything it lists has no reference by name at all.

    python3 scripts/reachability.py
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
LIB = REPO / "morphik_core_spark"
ROOTS = [REPO / "__spark_entry__.py", REPO / "bench.py", LIB / "api.py", LIB / "pipeline.py"]
ROOTS += sorted((REPO / "perfbench").rglob("*.py"))
DEFS = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def names_in(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.split(".")[-1])
    return out


def main() -> None:
    defs = defaultdict(list)  # name -> [(module, lines, body names)]
    seen = set()
    for path in sorted(LIB.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        mod = str(path.relative_to(REPO))
        for node in tree.body:
            if isinstance(node, DEFS):
                first = min([node.lineno] + [d.lineno for d in node.decorator_list])
                defs[node.name].append((mod, node.end_lineno - first + 1, names_in(node)))
            elif not isinstance(node, (ast.Import, ast.ImportFrom)) and not (
                isinstance(node, ast.Assign) and "__all__" in names_in(node.targets[0])
            ):
                seen |= names_in(node)
    for path in ROOTS:
        seen |= names_in(ast.parse(path.read_text(), str(path)))
    todo = list(seen)
    while todo:
        for _mod, _lines, used in defs.get(todo.pop(), []):
            todo += used - seen
            seen |= used
    unreached = defaultdict(list)
    for name, sites in defs.items():
        if name not in seen:
            for mod, lines, _used in sites:
                unreached[mod].append((name, lines))
    for mod in sorted(unreached):
        rows = sorted(unreached[mod])
        print(f"{mod}: {len(rows)} definitions, {sum(n for _, n in rows)} lines")
        for name, lines in rows:
            print(f"    {name} ({lines})")
    n_defs = sum(len(r) for r in unreached.values())
    n_lines = sum(n for r in unreached.values() for _, n in r)
    print(f"total: {n_defs} unreached definitions, {n_lines} lines, in {len(unreached)} modules")


if __name__ == "__main__":
    main()
