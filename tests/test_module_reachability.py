"""Every package module must be reachable from a real entry point.

A static walk (no Spark, nothing imported): start at the CLI, the Spark job
scripts, the benchmark, the tools and the driver contract, follow every
``import`` / ``from ... import`` statement — module-level or function-local,
absolute or relative — through repo-local files, and assert that each
``openccnet_spark/**/*.py`` module is reached. A module that only its own
tests import is dead code; deleting a feature must take its modules along.

A second walk checks one level down: every top-level function and class of
the package and of the driver contract must be named somewhere other than
its own definition — in the package, the entry points or the tests (a name
listed in a module's ``__all__`` is public API and counts). Deleting a
caller must take the helpers that only it used along; deleting a driver
query must take its oracle helpers along.

A third check pins the modules that only the driver contract reaches, so
none is added unnoticed.

A fourth check keeps the driver contract about the engine: every query in
``__spark_entry__.queries()`` must reach a name imported from the package,
directly or through a top-level helper of the driver file. A query that
reaches none tests Spark, not the engine.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = "openccnet_spark"
DRIVER = ROOT / "__spark_entry__.py"


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(ROOT).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _local_file(name: str) -> Path | None:
    base = ROOT.joinpath(*name.split("."))
    for cand in (base.with_suffix(".py"), base / "__init__.py"):
        if cand.is_file():
            return cand
    return None


def _with_parents(name: str) -> list[str]:
    """Importing ``a.b.c`` also executes ``a`` and ``a.b``."""
    parts = name.split(".")
    return [".".join(parts[: i + 1]) for i in range(len(parts))]


def _imports(path: Path) -> set[str]:
    """Module names ``path`` imports anywhere in its body."""
    name = _module_name(path)
    package = name if path.name == "__init__.py" else name.rpartition(".")[0]
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(encoding="utf-8"))):
        if isinstance(node, ast.Import):
            for alias in node.names:
                found.update(_with_parents(alias.name))
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                anchor = package.split(".")
                anchor = anchor[: len(anchor) - (node.level - 1)]
                base = ".".join(anchor + ([node.module] if node.module else []))
            else:
                base = node.module
            found.update(_with_parents(base))
            # `from pkg import sub` imports the submodule when one exists
            found.update(f"{base}.{alias.name}" for alias in node.names)
    return found


def _roots(driver: bool = True) -> list[Path]:
    roots = [ROOT / PACKAGE / "cli.py", ROOT / PACKAGE / "__main__.py"]
    roots += sorted((ROOT / "jobs").glob("*.py"))
    roots += sorted((ROOT / "perfbench").glob("*.py"))  # perfbench/tests/ is not a root
    roots += sorted((ROOT / "tools").glob("*.py"))
    if driver:
        roots.append(DRIVER)
    return roots


def _reached(driver: bool = True) -> set[str]:
    seen: set[str] = set()
    todo = [_module_name(p) for p in _roots(driver)]
    while todo:
        name = todo.pop()
        if name in seen:
            continue
        seen.add(name)
        path = _local_file(name)
        if path is None:
            continue  # stdlib / third-party, or a name imported from a module
        todo.extend(_imports(path) - seen)
    return seen


def _package_modules() -> set[str]:
    return {_module_name(p) for p in (ROOT / PACKAGE).rglob("*.py")}


def test_every_package_module_is_reachable():
    unreached = sorted(_package_modules() - _reached())
    assert not unreached, f"modules no entry point imports: {unreached}"


#: Package modules that only the driver contract reaches. A new driver-only
#: module fails the check below; deleting or re-homing one shortens this list.
DRIVER_ONLY = {
    f"{PACKAGE}.{name}"
    for name in (
        "fixtures",
        "operators.boilerplate",
        "operators.passages",
        "operators.repetition",
        "operators.shards",
        "operators.substrings",
        "sources.pdf_synth",
        "sources.snapshots",
        "sources.textfiles",
        "sources.transcripts",
        "streaming",
    )
}


def test_driver_only_modules_are_pinned():
    assert sorted(_package_modules() - _reached(driver=False)) == sorted(DRIVER_ONLY)


def _names(node: ast.AST) -> Counter:
    """How often each identifier is named under ``node``: variables,
    attributes, imported names and the strings of an ``__all__`` list."""
    found: Counter = Counter()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            found[n.id] += 1
        elif isinstance(n, ast.Attribute):
            found[n.attr] += 1
        elif isinstance(n, ast.alias):
            found[n.name.rpartition(".")[2]] += 1
        elif isinstance(n, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in n.targets
        ):
            found.update(
                e.value for e in ast.walk(n.value) if isinstance(e, ast.Constant)
            )
    return found


def test_every_package_function_and_class_is_named_elsewhere():
    files = [DRIVER]
    for folder in (PACKAGE, "jobs", "perfbench", "tools", "tests"):
        files += sorted((ROOT / folder).rglob("*.py"))
    named: Counter = Counter()
    defs: list[tuple[Path, ast.AST]] = []
    for path in files:
        tree = ast.parse(path.read_text(encoding="utf-8"))
        named.update(_names(tree))
        if path == DRIVER or path.is_relative_to(ROOT / PACKAGE):
            defs += [
                (path, node)
                for node in tree.body
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
    # uses inside a definition's own body (recursion) do not count
    unnamed = sorted(
        f"{path.relative_to(ROOT)}::{node.name}"
        for path, node in defs
        if named[node.name] == _names(node)[node.name]
    )
    assert not unnamed, f"functions and classes nothing names: {unnamed}"


def _package_bindings(nodes) -> set[str]:
    """Names that the import statements among ``nodes`` bind from the
    package."""
    found: set[str] = set()
    for n in nodes:
        if isinstance(n, ast.ImportFrom) and not n.level and n.module.split(".")[0] == PACKAGE:
            found.update(a.asname or a.name for a in n.names)
        elif isinstance(n, ast.Import):
            found.update(
                a.asname or PACKAGE for a in n.names if a.name.split(".")[0] == PACKAGE
            )
    return found


def _dict_items(node: ast.AST):
    """(key, value) pairs of a dict display, through ``**`` expansions of
    conditional dict displays."""
    if isinstance(node, ast.Dict):
        for k, v in zip(node.keys, node.values):
            if k is None:
                yield from _dict_items(v)
            else:
                yield k.value, v
    elif isinstance(node, ast.IfExp):
        yield from _dict_items(node.body)
        yield from _dict_items(node.orelse)


def test_every_driver_query_calls_package_code():
    tree = ast.parse(DRIVER.read_text(encoding="utf-8"))
    imported = _package_bindings(tree.body)
    funcs = {n.name: n for n in tree.body if isinstance(n, ast.FunctionDef)}
    uses = {
        name: {n.id for n in ast.walk(fn) if isinstance(n, ast.Name)}
        for name, fn in funcs.items()
    }
    reaching = {
        name
        for name, fn in funcs.items()
        if uses[name] & imported or _package_bindings(ast.walk(fn))
    }
    while grown := {name for name in funcs if uses[name] & reaching} - reaching:
        reaching |= grown
    (ret,) = [n for n in ast.walk(funcs["queries"]) if isinstance(n, ast.Return)]
    engine_free = sorted(
        key
        for key, value in _dict_items(ret.value)
        if not {n.id for n in ast.walk(value) if isinstance(n, ast.Name)} & reaching
    )
    assert not engine_free, f"driver queries that call no package code: {engine_free}"
