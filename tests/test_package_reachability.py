"""Guard against package code that only tests reach, and against
unused top-level imports.

Parses the package and the production entry points with ``ast`` (no
Spark) and walks references transitively from the roots: the CLI
(``cli.py``), the contract entry (``__spark_entry__.py``), the bench
scripts (``bench.py``, ``bench_extra.py``, ``perfbench/``, ``BENCH/``)
and ``tools/``. A reference is a name or attribute use in code; strings,
docstrings and comments do not count. Every top-level package def
(function, class or assigned name) must be reachable, unless
``ALLOWED`` names it with its reason (test oracles and fixture
generators, which are roots themselves).

Every top-level import in the package and in ``tests/`` must also be
used by its module (``__future__`` imports aside).

Run as a script to list the unreachable defs and unused imports:
``python tests/test_package_reachability.py``.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
PKG = "streetview_naturevisibility_spark"
ROOT_GLOBS = (
    f"{PKG}/cli.py",
    "__spark_entry__.py",
    "bench.py",
    "bench_extra.py",
    "perfbench/*.py",
    "BENCH/*.py",
    "tools/*.py",
)
MODULE = "<module>"

# Defs that only tests reach, on purpose: NumPy/Python oracles that
# tests compare the Spark kernels against, and fixture generators.
ALLOWED = {
    f"{PKG}.fixtures.generate.*": "fixture generator module",
    f"{PKG}.sources.stac.write_stac_fixture": "STAC catalog fixture",
    f"{PKG}.operators.multimodal.encode_png_rgb": "PNG decoder test input",
    f"{PKG}.operators.multimodal.synth_jpeg": "JPEG media test input",
    f"{PKG}.functions.bpe.train_bpe_rescan": "oracle for train_bpe",
    f"{PKG}.geo.cells.pack_cell_py": "oracle for the packed cell id",
    f"{PKG}.geo.cells.cell_children_py": "oracle for cell_parent_col",
    f"{PKG}.geo.hexgrid.pack_hex_py": "oracle for the packed hex id",
    f"{PKG}.geo.hexgrid.unpack_hex_py": "oracle for the packed hex id",
    f"{PKG}.geo.hexgrid.kring_py": "oracle for hex_neighbors_col",
    f"{PKG}.geo.hexgrid.hex_distance_py": "oracle for the one-ring bound",
    f"{PKG}.geo.polygon.dist_point_to_segments": "oracle for the batch kernel",
    f"{PKG}.geo.mercator.tile_xy_np": "oracle for tile_xy_cols",
    f"{PKG}.geo.polygon.polygon_area": "oracle for overlay areas",
    f"{PKG}.geo.utm.meridian_arc_numeric": "oracle for the UTM series",
    f"{PKG}.operators.regression.fit_ols_normal_equations": "OLS oracle",
    f"{PKG}.operators.dedup.minhash_signatures": "MinHash oracle",
}

def _module_name(path: Path) -> str:
    rel = path.relative_to(REPO).with_suffix("")
    parts = list(rel.parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _resolve_from(mod: str, is_pkg: bool, node: ast.ImportFrom) -> str:
    if not node.level:
        return node.module or ""
    base = mod.split(".")
    base = base if is_pkg else base[:-1]
    base = base[: len(base) - (node.level - 1)]
    return ".".join(base + ([node.module] if node.module else []))


class _Module:
    def __init__(self, path: Path):
        self.path = path
        self.name = _module_name(path)
        self.is_pkg = path.name == "__init__.py"
        self.tree = ast.parse(path.read_text(), str(path))
        self.defs: dict[str, list[ast.AST]] = {}
        self.loose: list[ast.AST] = []
        for stmt in self.tree.body:
            if _is_docstring(stmt):
                continue
            names = _defined_names(stmt)
            if names:
                for n in names:
                    self.defs.setdefault(n, []).append(stmt)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                self.loose.append(stmt)

    def bindings(self, nodes) -> dict[str, tuple[str, str | None]]:
        """Names bound by the imports inside ``nodes``: local name ->
        (module, attribute) or (module, None) for a module alias."""
        out: dict[str, tuple[str, str | None]] = {}
        for top in nodes:
            for node in ast.walk(top):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.asname:
                            out[a.asname] = (a.name, None)
                        else:
                            head = a.name.split(".")[0]
                            out[head] = (head, None)
                elif isinstance(node, ast.ImportFrom):
                    src = _resolve_from(self.name, self.is_pkg, node)
                    for a in node.names:
                        out[a.asname or a.name] = (src, a.name)
        return out


def _is_docstring(stmt: ast.AST) -> bool:
    return (
        isinstance(stmt, ast.Expr)
        and isinstance(stmt.value, ast.Constant)
        and isinstance(stmt.value.value, str)
    )


def _defined_names(stmt: ast.AST) -> list[str]:
    if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
        return [stmt.name]
    targets = []
    if isinstance(stmt, ast.Assign):
        targets = stmt.targets
    elif isinstance(stmt, (ast.AnnAssign, ast.AugAssign)):
        targets = [stmt.target]
    return [
        n.id for t in targets for n in ast.walk(t) if isinstance(n, ast.Name)
    ]


def _dotted(node: ast.AST) -> list[str] | None:
    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name):
        return None
    parts.append(node.id)
    return parts[::-1]


def _references(owner: _Module, nodes, modules) -> set[tuple[str, str]]:
    """Package (module, name) pairs used by code in ``nodes``."""
    binds = {**owner.bindings(owner.tree.body), **owner.bindings(nodes)}
    refs: set[tuple[str, str]] = set()

    def add_module(mod: str) -> None:
        if mod in modules:
            refs.add((mod, MODULE))

    def resolve(parts: list[str]) -> None:
        head, rest = parts[0], parts[1:]
        if head in binds:
            mod, attr = binds[head]
            add_module(mod)
            if attr is not None:
                sub = f"{mod}.{attr}"
                if sub in modules:
                    mod, attr = sub, None
                    add_module(mod)
                else:
                    refs.add((mod, attr))
                    return
            # Module alias: walk the attribute chain through submodules.
            for part in rest:
                sub = f"{mod}.{part}"
                if sub in modules:
                    mod = sub
                    add_module(mod)
                    continue
                refs.add((mod, part))
                return
        elif head in owner.defs:
            refs.add((owner.name, head))

    for top in nodes:
        for node in ast.walk(top):
            if isinstance(node, ast.ImportFrom):
                add_module(_resolve_from(owner.name, owner.is_pkg, node))
            elif isinstance(node, ast.Import):
                for a in node.names:
                    add_module(a.name)
            elif isinstance(node, (ast.Name, ast.Attribute)):
                parts = _dotted(node)
                if parts:
                    resolve(parts)
    return refs


def _package_modules() -> dict[str, _Module]:
    mods = [_Module(p) for p in sorted((REPO / PKG).rglob("*.py"))]
    return {m.name: m for m in mods}


def unreachable_defs() -> list[str]:
    modules = _package_modules()
    seen: set[tuple[str, str]] = set()
    todo: list[tuple[str, str]] = []

    def push(refs) -> None:
        for ref in refs:
            mod, name = ref
            if ref in seen or mod not in modules:
                continue
            if name != MODULE and name not in modules[mod].defs:
                continue
            seen.add(ref)
            todo.append(ref)

    for pattern in ROOT_GLOBS:
        for path in sorted(REPO.glob(pattern)):
            root = modules.get(_module_name(path)) or _Module(path)
            push(_references(root, root.tree.body, modules))
            if root.name in modules:
                push({(root.name, MODULE)})
                push((root.name, d) for d in root.defs)

    for key in ALLOWED:
        mod, _, name = key.rpartition(".")
        if mod in modules:
            names = modules[mod].defs if name == "*" else [name]
            push((mod, n) for n in names)

    while todo:
        mod, name = todo.pop()
        m = modules[mod]
        if name == MODULE:
            push(_references(m, m.loose, modules))
            push({(".".join(mod.split(".")[:-1]), MODULE)})
        else:
            push(_references(m, m.defs[name], modules))
            push({(mod, MODULE)})

    out = []
    for mod, m in modules.items():
        for name in m.defs:
            if (mod, name) in seen or name.startswith("__"):
                continue
            if f"{mod}.{name}" in ALLOWED or f"{mod}.*" in ALLOWED:
                continue
            out.append(f"{mod}.{name}")
    return out


def unused_imports() -> list[str]:
    """``path:line name`` for each name a top-level import binds that
    its module never uses as a name."""
    paths = sorted((REPO / PKG).rglob("*.py")) + sorted((REPO / "tests").glob("*.py"))
    out = []
    for path in paths:
        tree = ast.parse(path.read_text(), str(path))
        bound: dict[str, int] = {}
        for stmt in tree.body:
            if isinstance(stmt, ast.Import):
                for a in stmt.names:
                    bound[a.asname or a.name.split(".")[0]] = stmt.lineno
            elif isinstance(stmt, ast.ImportFrom) and stmt.module != "__future__":
                for a in stmt.names:
                    bound[a.asname or a.name] = stmt.lineno
        used = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
        rel = path.relative_to(REPO)
        out += [f"{rel}:{line} {n}" for n, line in bound.items() if n not in used]
    return out


def test_every_package_def_is_reachable_from_a_production_root():
    dead = unreachable_defs()
    assert not dead, (
        "package defs that no CLI command, contract query, bench or tool "
        "reaches (delete them, or allowlist a test oracle with a reason):\n  "
        + "\n  ".join(dead)
    )


def test_allowlist_names_existing_defs():
    modules = _package_modules()
    stale = []
    for key in ALLOWED:
        mod, _, name = key.rpartition(".")
        if mod not in modules or (name != "*" and name not in modules[mod].defs):
            stale.append(key)
    assert not stale, f"allowlist entries that name no package def: {stale}"


def test_no_unused_top_level_imports():
    unused = unused_imports()
    assert not unused, "unused top-level imports:\n  " + "\n  ".join(unused)


if __name__ == "__main__":
    print("\n".join(unreachable_defs() + unused_imports()))
