"""The package has no public surface that only tests reach.

A public top-level name (function, class or constant) of the package must be
named by some ``.py`` outside ``tests/`` — an entry point, a registered
query, a tool, perfbench, or other package code — not counting the lines of
its own definition. A name that only tests use is code the system never
runs: delete it with its tests. The scan is textual (a whole-word match, so
a docstring that names a helper counts), needs no Spark, and runs in well
under a second.
"""

from __future__ import annotations

import ast
import functools
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "mlops_pipelines_featurestore_gcp_spark"

# Reached only from tests, but each stands for a reference capability.
KEEP = {
    "run_startup_pipeline",  # entry point 1: the startup DAG (SURVEY §3.1)
    "read_trajectories_ndjson",  # S2: NDJSON nested load (truncate)
    "write_trajectories_ndjson",  # S2: NDJSON nested load (truncate)
    "write_trajectories_table",  # S3: NDJSON nested load (append)
    "wrap_observations",  # P2: trajectory→row projection (struct wrap)
}


@functools.cache
def _definitions() -> dict[str, list[tuple[Path, int, int]]]:
    """Public top-level name -> [(file, first line, last line)]."""
    defs: dict[str, list[tuple[Path, int, int]]] = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        for node in ast.parse(path.read_text()).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            first = node.decorator_list[0].lineno if getattr(node, "decorator_list", None) else node.lineno
            for name in names:
                if not name.startswith("_"):
                    defs.setdefault(name, []).append((path, first, node.end_lineno))
    return defs


def _word_index() -> dict[str, list[tuple[Path, int]]]:
    """Word -> [(file, line)] over every ``.py`` outside test directories."""
    index: dict[str, list[tuple[Path, int]]] = {}
    for path in ROOT.rglob("*.py"):
        parts = path.relative_to(ROOT).parts
        if "tests" in parts or any(p.startswith(".") or p == "spark-warehouse" for p in parts):
            continue
        for lineno, line in enumerate(path.read_text().splitlines(), 1):
            for word in set(re.findall(r"[A-Za-z_]\w*", line)):
                index.setdefault(word, []).append((path, lineno))
    return index


@functools.cache
def _test_only_names() -> frozenset[str]:
    index = _word_index()
    return frozenset(
        name
        for name, spans in _definitions().items()
        if not any(
            not any(path == p and first <= line <= last for p, first, last in spans)
            for path, line in index.get(name, [])
        )
    )


def test_every_public_package_name_is_reached_outside_tests():
    unreached = _test_only_names() - KEEP
    assert not unreached, (
        f"reached only from tests: {sorted(unreached)}; delete them with their "
        "tests, or add them to KEEP with the SURVEY id they stand for"
    )


def test_keep_list_names_exist_and_are_still_test_only():
    defs = _definitions()
    assert KEEP <= set(defs), sorted(KEEP - set(defs))
    stale = KEEP - _test_only_names()
    assert not stale, f"now reached outside tests; drop them from KEEP: {sorted(stale)}"
