"""Guard against unreached package code: every top-level function and
class of the package must be named in some non-test .py file of the repo
other than on its own ``def``/``class`` line (the package itself,
``tools/``, ``perfbench/``, ``bench.py`` and ``__spark_entry__.py``).
Decorated definitions (``@atexit.register`` and the like) count as
reached. Code that only tests call belongs with the tests or nowhere."""

from __future__ import annotations

import ast
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "adtech_log_data_pipeline_spark"

# named test seams: reached only from tests on purpose, one reason each
ALLOWED = {
    "operators/inference.py::_model_weights": (
        "the per-process env-var weight lookup tests compare predict() with"
    ),
}


def _non_test_sources() -> list[Path]:
    return [
        *PACKAGE.rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "perfbench").glob("*.py"),  # not perfbench/tests/
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]


def unreached() -> list[str]:
    lines = {p: p.read_text(encoding="utf-8").splitlines() for p in _non_test_sources()}
    found = []
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse("\n".join(lines[path])).body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            if node.decorator_list:
                continue
            name = re.compile(rf"\b{re.escape(node.name)}\b")
            if not any(
                name.search(line)
                for p, text in lines.items()
                for i, line in enumerate(text, 1)
                if not (p == path and i == node.lineno)
            ):
                found.append(f"{path.relative_to(PACKAGE).as_posix()}::{node.name}")
    return found


def test_every_package_definition_is_reached_outside_the_tests():
    assert sorted(set(unreached()) - set(ALLOWED)) == []


def test_allowlist_names_only_unreached_definitions():
    assert sorted(set(ALLOWED) - set(unreached())) == []
