"""The package has no public surface that only tests reach, no parameter
that its function never reads, and no call that passes a keyword its
package function does not take.

Reach. A public top-level name (function, class or constant) of the package
is reached when some ``.py`` outside ``tests/`` uses it: a ``Name`` load, an
attribute of that name (``module.fn``), or a string constant equal to it
(perfbench patches entry points by name). Docstrings and other bare string
statements, comments, ``import`` lines and ``__all__`` entries are mentions,
not uses, and so is a use inside the name's own definition. A function
decorated with ``@register(...)`` is reached: ``__spark_entry__.queries``
serves it from ``plans.registry.QUERIES``. A name that only tests use is code the system
never runs: delete it with its tests, or put it on ``KEEP`` with its reason.

Reads. Every parameter of a public top-level package function is read
(a ``Name`` load) somewhere in its body; ``del x`` is not a read. A
``_``-prefixed parameter is exempt, for callback shapes such as
``_batch_id``.

Keywords. Every keyword argument of a call, in any ``.py`` outside
``tests/``, that resolves to a public top-level package function (an
imported ``fn(...)``, ``module.fn(...)`` through an imported module, or a
function of the calling module) names one of its parameters, unless the
function takes ``**kwargs``. ``tools/`` and ``plans/`` run outside tier-1,
so this is where a stale keyword there fails.

Imports. Every name a package module binds by ``import`` is loaded (a
``Name`` load) somewhere in that module. An ``__init__.py`` re-exports,
so it is exempt, and so are names listed in ``__all__`` and
``from __future__`` imports.

All checks parse the sources with ``ast`` (one walk per file), need no
Spark, and run in well under a second.
"""

from __future__ import annotations

import ast
import functools
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "mlops_pipelines_featurestore_gcp_spark"

# Reached only from tests, each for a stated reason.
KEEP = {
    "run_startup_pipeline",  # entry point 1: the startup DAG (SURVEY §3.1)
    "read_trajectories_ndjson",  # S2: NDJSON nested load (truncate)
    "write_trajectories_ndjson",  # S2: NDJSON nested load (truncate)
    "write_trajectories_table",  # S3: NDJSON nested load (append)
    "wrap_observations",  # P2: trajectory→row projection (struct wrap)
    # oracle of coord_sign_blocked_pairs (d05), semantic_dedup_pairs (d07)
    # and semantic_dedup_keep_star (d10): test_similarity_variants
    "cosine_neardup_pairs",
    "rmse",  # oracle of regression_metrics (ml06): test_ml_metrics
    "mae",  # oracle of regression_metrics (ml06): test_ml_metrics
    # oracle of keep_best_by_signature (mm07) and keep_best_by_element_sets
    # (mm08): test_multimodal, test_video_dedup
    "dedup_keep_best_set",
}


def _module(path: Path) -> str:
    parts = path.relative_to(ROOT).with_suffix("").parts
    return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)


@functools.cache
def _package_modules() -> frozenset[str]:
    return frozenset(_module(p) for p in PACKAGE.rglob("*.py"))


class _File:
    """One parsed ``.py``: its uses, import bindings and keyword calls."""

    def __init__(self, path: Path):
        self.path = path
        self.module = _module(path)
        self.tree = ast.parse(path.read_text())
        self.uses: list[tuple[str, int]] = []
        # name bound by an absolute import anywhere in the file ->
        # (module, attribute), attribute None for a module binding
        self.bindings: dict[str, tuple[str, str | None]] = {}
        self.calls: list[ast.Call] = []
        # name bound by any import (relative ones too) -> its line
        self.imported: dict[str, int] = {}
        self.loads: set[str] = set()
        self.exported: set[str] = set()
        mentions: set[int] = set()
        # ast.walk yields a node before its children, so a docstring or an
        # __all__ list is known to be a mention before its strings come up
        for node in ast.walk(self.tree):
            if isinstance(node, ast.Name) and isinstance(node.ctx, ast.Load):
                self.uses.append((node.id, node.lineno))
                self.loads.add(node.id)
            elif isinstance(node, ast.Attribute):
                self.uses.append((node.attr, node.lineno))
            elif isinstance(node, ast.Constant):
                if isinstance(node.value, str) and id(node) not in mentions:
                    self.uses.append((node.value, node.lineno))
            elif isinstance(node, ast.Expr) and isinstance(node.value, ast.Constant):
                mentions.add(id(node.value))
            elif isinstance(node, (ast.Assign, ast.AugAssign)):
                targets = node.targets if isinstance(node, ast.Assign) else [node.target]
                if any(isinstance(t, ast.Name) and t.id == "__all__" for t in targets):
                    mentions.update(id(n) for n in ast.walk(node.value))
                    self.exported.update(
                        n.value for n in ast.walk(node.value) if isinstance(n, ast.Constant)
                    )
            elif isinstance(node, ast.Call) and node.keywords:
                self.calls.append(node)
            elif isinstance(node, ast.Import):
                for a in node.names:
                    top = a.name.split(".")[0]
                    self.bindings[a.asname or top] = (a.name if a.asname else top, None)
                    self.imported[a.asname or top] = node.lineno
            elif isinstance(node, ast.ImportFrom):
                if node.module != "__future__":
                    self.imported.update((a.asname or a.name, node.lineno) for a in node.names)
                if not node.module or node.level:
                    continue
                for a in node.names:
                    sub = f"{node.module}.{a.name}"
                    self.bindings[a.asname or a.name] = (
                        (sub, None) if sub in _package_modules() else (node.module, a.name)
                    )


@functools.cache
def _files() -> tuple[_File, ...]:
    """Every ``.py`` of the repo outside test and hidden directories."""
    return tuple(
        _File(path)
        for path in sorted(ROOT.rglob("*.py"))
        if not any(
            p == "tests" or p.startswith(".") or p == "spark-warehouse"
            for p in path.relative_to(ROOT).parts
        )
    )


def _package_files() -> list[_File]:
    return [f for f in _files() if f.path.is_relative_to(PACKAGE)]


def _first_line(node: ast.stmt) -> int:
    decorators = getattr(node, "decorator_list", [])
    return decorators[0].lineno if decorators else node.lineno


def _is_register(decorator: ast.expr) -> bool:
    func = decorator.func if isinstance(decorator, ast.Call) else decorator
    return (isinstance(func, ast.Name) and func.id == "register") or (
        isinstance(func, ast.Attribute) and func.attr == "register"
    )


@functools.cache
def _definitions() -> dict[str, list[tuple[Path, ast.stmt]]]:
    """Public top-level package name -> [(file, defining statement)]."""
    defs: dict[str, list[tuple[Path, ast.stmt]]] = {}
    for f in _package_files():
        for node in f.tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [node.name]
            elif isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            else:
                continue
            for name in names:
                if not name.startswith("_"):
                    defs.setdefault(name, []).append((f.path, node))
    return defs


@functools.cache
def _test_only_names() -> frozenset[str]:
    uses: dict[str, list[tuple[Path, int]]] = {}
    for f in _files():
        for name, line in f.uses:
            uses.setdefault(name, []).append((f.path, line))

    def reached(name: str, spans: list[tuple[Path, ast.stmt]]) -> bool:
        if any(_is_register(d) for _, node in spans for d in getattr(node, "decorator_list", [])):
            return True
        return any(
            not any(path == p and _first_line(node) <= line <= node.end_lineno for p, node in spans)
            for path, line in uses.get(name, [])
        )

    return frozenset(name for name, spans in _definitions().items() if not reached(name, spans))


def _unread_parameters() -> list[str]:
    unread = []
    for name, spans in _definitions().items():
        for path, node in spans:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            a = node.args
            params = [*a.posonlyargs, *a.args, *a.kwonlyargs, *filter(None, [a.vararg, a.kwarg])]
            reads = {
                n.id
                for stmt in node.body
                for n in ast.walk(stmt)
                if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
            }
            unread += [
                f"{path.relative_to(ROOT)}:{name}({p.arg})"
                for p in params
                if not p.arg.startswith("_") and p.arg not in reads
            ]
    return unread


@functools.cache
def _modules() -> dict[str, _File]:
    return {f.module: f for f in _package_files()}


def _resolve(module: str, name: str, depth: int = 0) -> ast.FunctionDef | None:
    """The public package function ``module.name`` names, following
    re-exports."""
    f = _modules().get(module)
    if f is None or name.startswith("_"):
        return None
    for node in f.tree.body:
        if isinstance(node, ast.FunctionDef) and node.name == name:
            return node
    target = f.bindings.get(name)
    if target and target[1] and depth < 5:
        return _resolve(*target, depth + 1)
    return None


def _callee(func: ast.expr, f: _File) -> ast.FunctionDef | None:
    if isinstance(func, ast.Name):
        if func.id in f.bindings:
            return _resolve(*f.bindings[func.id]) if f.bindings[func.id][1] else None
        return _resolve(f.module, func.id)
    chain = []
    while isinstance(func, ast.Attribute):
        chain.append(func.attr)
        func = func.value
    if not isinstance(func, ast.Name) or func.id not in f.bindings or f.bindings[func.id][1]:
        return None
    *path, name = [f.bindings[func.id][0], *reversed(chain)]
    return _resolve(".".join(path), name)


def _unknown_keywords() -> list[str]:
    bad = []
    for f in _files():
        for call in f.calls:
            fn = _callee(call.func, f)
            if fn is None or fn.args.kwarg:
                continue
            params = {a.arg for a in [*fn.args.args, *fn.args.kwonlyargs]}
            bad += [
                f"{f.path.relative_to(ROOT)}:{kw.lineno}: {fn.name}({kw.arg}=)"
                for kw in call.keywords
                if kw.arg is not None and kw.arg not in params
            ]
    return bad


def _unused_imports() -> list[str]:
    return [
        f"{f.path.relative_to(ROOT)}:{line}: {name}"
        for f in _package_files()
        if f.path.name != "__init__.py"
        for name, line in sorted(f.imported.items(), key=lambda kv: kv[1])
        if name not in f.loads and name not in f.exported
    ]


def test_every_public_package_name_is_reached_outside_tests():
    unreached = _test_only_names() - KEEP
    assert not unreached, (
        f"reached only from tests: {sorted(unreached)}; delete them with their "
        "tests, or add them to KEEP with the reason they stay"
    )


def test_keep_list_names_exist_and_are_still_test_only():
    defs = _definitions()
    assert KEEP <= set(defs), sorted(KEEP - set(defs))
    stale = KEEP - _test_only_names()
    assert not stale, f"now reached outside tests; drop them from KEEP: {sorted(stale)}"


def test_every_parameter_of_a_public_function_is_read():
    unread = _unread_parameters()
    assert not unread, f"parameters their function never reads: {unread}"


def test_every_keyword_argument_names_a_parameter():
    bad = _unknown_keywords()
    assert not bad, f"keyword arguments the called package function does not take: {bad}"


def test_every_import_of_a_package_module_is_used():
    unused = _unused_imports()
    assert not unused, f"imported names their module never uses: {unused}"
