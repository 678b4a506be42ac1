"""Every in-package import resolves.

Most imports in this codebase sit inside functions, so a deleted module or
name only fails when some rare path runs.  This walks the source with
``ast`` — no imports executed, no Spark — and checks that each
``from geowave_spark.X import Y`` (absolute or relative, at any depth)
names a module that exists and binds ``Y`` at module level or as a
submodule.  The same walk, followed from the entry points, checks that no
package module is reachable from tests alone.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PKG = "geowave_spark"


def _sources() -> list[Path]:
    files = [REPO / "__spark_entry__.py", REPO / "bench.py"]
    for d in (PKG, "tools", "tests"):
        files += sorted((REPO / d).rglob("*.py"))
    return files


def _module_path(dotted: str) -> Path | None:
    base = REPO.joinpath(*dotted.split("."))
    for p in (base.with_suffix(".py"), base / "__init__.py"):
        if p.is_file():
            return p
    return None


def _bound_names(path: Path) -> set[str]:
    """Names a module binds at top level, including inside if/try blocks."""
    names: set[str] = set()
    stack = list(ast.parse(path.read_text()).body)
    while stack:
        node = stack.pop()
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            names.add(node.name)
        elif isinstance(node, (ast.Import, ast.ImportFrom)):
            names.update((a.asname or a.name).split(".")[0] for a in node.names)
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                names.update(n.id for n in ast.walk(t) if isinstance(n, ast.Name))
        elif isinstance(node, (ast.If, ast.Try)):
            for field in ("body", "orelse", "finalbody", "handlers"):
                stack.extend(getattr(node, field, []))
        elif isinstance(node, ast.ExceptHandler):
            stack.extend(node.body)
    return names


def _target(path: Path, node: ast.ImportFrom) -> str | None:
    """Dotted module an ImportFrom names, or None if outside the package."""
    if node.level == 0:
        mod = node.module or ""
        return mod if mod == PKG or mod.startswith(PKG + ".") else None
    parts = list(path.relative_to(REPO).with_suffix("").parts)
    if parts[0] != PKG:
        return None
    parts = parts[: len(parts) - node.level]
    return ".".join(parts + ([node.module] if node.module else []))


def test_every_in_package_import_resolves():
    missing: list[str] = []
    checked = 0
    bound: dict[str, set[str]] = {}
    for path in _sources():
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.ImportFrom):
                continue
            mod = _target(path, node)
            if mod is None:
                continue
            where = f"{path.relative_to(REPO)}:{node.lineno}"
            mod_path = _module_path(mod)
            if mod_path is None:
                missing.append(f"{where}: no module {mod}")
                continue
            if mod not in bound:
                bound[mod] = _bound_names(mod_path)
            for alias in node.names:
                checked += 1
                name = alias.name
                if name not in bound[mod] and _module_path(f"{mod}.{name}") is None:
                    missing.append(f"{where}: {mod} defines no {name}")
    assert checked > 100
    assert not missing, "\n".join(missing)


def test_no_source_names_the_checkout_path():
    """Paths to the repo's own files derive from ``__file__``, so a second
    checkout reads and writes its own ``data/`` rather than this one's."""
    root = str(REPO)
    hits = [
        f"{path.relative_to(REPO)}:{i}"
        for path in _sources()
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if root in line
    ]
    assert not hits, "\n".join(hits)


def _imported_modules(path: Path) -> set[str]:
    """Package modules a file imports, at any depth: ``import a.b``,
    ``from a import b`` (``b`` a module or a name) and relative forms.
    Importing a module also imports every package above it."""
    out: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            mods = [a.name for a in node.names if a.name.split(".")[0] == PKG]
        elif isinstance(node, ast.ImportFrom) and (mod := _target(path, node)):
            mods = [mod] + [f"{mod}.{a.name}" for a in node.names]
        else:
            continue
        for mod in mods:
            parts = mod.split(".")
            out.update(".".join(parts[:i]) for i in range(1, len(parts) + 1))
    return {m for m in out if _module_path(m) is not None}


def test_every_package_module_is_reached():
    """Every module under the package is imported, directly or through
    other modules, from an entry point: the query surfaces, the CLI, the
    bench, the driver entry, ``tools/`` or ``perfbench/``.  A module only
    tests import is dead code (or a test oracle that belongs in tests/)."""
    roots = [
        REPO / PKG / "queries.py",
        REPO / PKG / "queries_text.py",
        REPO / PKG / "cli.py",
        REPO / "bench.py",
        REPO / "__spark_entry__.py",
        *sorted((REPO / "tools").rglob("*.py")),
        *sorted((REPO / "perfbench").rglob("*.py")),
    ]
    reached: set[Path] = set()
    stack = list(roots)
    while stack:
        path = stack.pop()
        if path in reached:
            continue
        reached.add(path)
        stack += [_module_path(m) for m in _imported_modules(path)]
    unreached = sorted(
        str(p.relative_to(REPO))
        for p in (REPO / PKG).rglob("*.py")
        if p not in reached
    )
    assert not unreached, "no entry point reaches:\n" + "\n".join(unreached)


def test_no_operator_forks_on_its_round_barrier():
    """Iterative operators run one loop against ``checkpointer or
    LOCAL_ROUNDS``: only ``plans/lineage.py`` knows whether round state is
    durable, so no operator compares its ``checkpointer`` (or a
    ``pipeline``) to ``None``."""
    sites = []
    for path in sorted((REPO / PKG / "operators").rglob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if not isinstance(node, ast.Compare):
                continue
            operands = [node.left, *node.comparators]
            named = {n.id for n in operands if isinstance(n, ast.Name)}
            if named & {"checkpointer", "pipeline"} and any(
                isinstance(n, ast.Constant) and n.value is None for n in operands
            ):
                sites.append(f"{path.relative_to(REPO)}:{node.lineno}")
    assert not sites, sites
