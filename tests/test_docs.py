"""Generated documents match their generators, and the package holds
no code that only tests reach."""

from __future__ import annotations

import ast
import importlib.util
import re
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


def test_every_package_function_has_a_non_test_caller():
    """Every top-level def/class under the package is named, as a whole
    word, in the package, `perfbench/`, `scripts/`, `bench.py` or
    `__spark_entry__.py`, outside its own body. Repeated to a fixed
    point, so a helper named only by test-only code is caught too.
    Text only: a catalog query counts as called through its `@query`
    decorator line. A failure means delete the code, not move it into
    tests/."""
    callers = [
        *PKG.rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        *(ROOT / "scripts").glob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    mentions = defaultdict(list)  # word -> [(file, line number)]
    for path in callers:
        for lineno, line in enumerate(path.read_text().splitlines(), start=1):
            for word in re.findall(r"\w+", line):
                mentions[word].append((path, lineno))
    defs = [
        (node.name, path, node.lineno, node.end_lineno)
        for path in PKG.rglob("*.py")
        for node in ast.parse(path.read_text()).body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    ]

    def inside(path, lineno, spans):
        return any(p == path and a <= lineno <= b for _, p, a, b in spans)

    test_only: set[tuple] = set()
    while True:
        new = {
            d for d in defs
            if d not in test_only
            and all(inside(p, n, test_only | {d}) for p, n in mentions[d[0]])
        }
        if not new:
            break
        test_only |= new
    assert not test_only, "reached only by tests: " + ", ".join(
        sorted(f"{p.relative_to(ROOT)}::{name}" for name, p, _, _ in test_only)
    )
