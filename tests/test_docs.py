"""Generated documents match their generators."""

from __future__ import annotations

import importlib.util
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def test_operators_md_is_the_generated_file():
    """OPERATORS.md is `scripts/gen_operators_md.py`'s output for the
    current catalog; regenerate it with `python scripts/gen_operators_md.py`."""
    spec = importlib.util.spec_from_file_location("gen_operators_md", ROOT / "scripts/gen_operators_md.py")
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    assert gen.render() == (ROOT / "OPERATORS.md").read_text()
