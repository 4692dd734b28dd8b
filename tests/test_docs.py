"""Generated documents match their generators, and the package holds
no code that only tests reach."""

from __future__ import annotations

import ast
import importlib.util
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "data_warehouse_opensky_spark"


def test_operators_md_is_the_generated_file():
    """OPERATORS.md is `scripts/gen_operators_md.py`'s output for the
    current catalog; regenerate it with `python scripts/gen_operators_md.py`."""
    spec = importlib.util.spec_from_file_location("gen_operators_md", ROOT / "scripts/gen_operators_md.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert gen.render() == (ROOT / "OPERATORS.md").read_text()


#: Kept without a non-test caller: `cdc_chunks` is the reference that
#: the `cdc_chunks_arrow` equivalence tests compare against.
REFERENCE_ONLY = {"operators/text.py::cdc_chunks"}


def test_every_package_function_has_a_non_test_caller():
    """Every top-level def/class under the package is used, as an
    `ast.Name` or `ast.Attribute`, in the package, `perfbench/`,
    `scripts/`, `bench.py` or `__spark_entry__.py`, outside its own
    body. A docstring, comment, `__all__` string or `__init__.py`
    re-export is not a use; an f-string expression is. A `@query` def
    is registered by its decorator. Repeated to a fixed point, so a
    helper used only by test-only code is caught too. A failure means
    delete the code, not move it into tests/."""
    callers = [
        *PKG.rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    trees = {path: ast.parse(path.read_text()) for path in callers}
    uses = defaultdict(list)  # name -> [(file, line number)]
    for path, tree in trees.items():
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                uses[node.id].append((path, node.lineno))
            elif isinstance(node, ast.Attribute):
                uses[node.attr].append((path, node.lineno))

    def registered(node):
        return any(
            isinstance(d, ast.Call) and isinstance(d.func, ast.Name) and d.func.id == "query"
            for d in getattr(node, "decorator_list", [])
        )

    defs = [
        (node.name, path, node.lineno, node.end_lineno)
        for path in PKG.rglob("*.py")
        for node in trees[path].body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not registered(node)
        and f"{path.relative_to(PKG).as_posix()}::{node.name}" not in REFERENCE_ONLY
    ]

    def inside(path, lineno, spans):
        return any(p == path and a <= lineno <= b for _, p, a, b in spans)

    test_only: set[tuple] = set()
    while True:
        new = {
            d for d in defs
            if d not in test_only
            and all(inside(p, n, test_only | {d}) for p, n in uses[d[0]])
        }
        if not new:
            break
        test_only |= new
    assert not test_only, "reached only by tests: " + ", ".join(
        sorted(f"{p.relative_to(ROOT)}::{name}" for name, p, _, _ in test_only)
    )
