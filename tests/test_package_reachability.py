"""Guard against package code that only tests reach.

Parses the package and the production entry points with ``ast`` (no
Spark) and walks references transitively from the roots: the CLI
(``cli.py``), the contract entry (``__spark_entry__.py``), the bench
scripts (``bench.py``, ``bench_extra.py``, ``perfbench/``, ``BENCH/``)
and ``tools/``. A reference is a name or attribute use in code; strings,
docstrings and comments do not count. Every top-level package def
(function, class or assigned name) must be reachable, unless one of the
two lists below names it with its reason: ``ALLOWED`` (test oracles and
fixture generators, which are roots themselves) and ``TEST_ONLY``
(operators only tests still reach, kept until their tests go with them).

Run as a script to list the unreachable defs:
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

# Operators that only tests reach and that still have to go. Each is
# deleted together with the tests that check nothing else; the list
# may only shrink.
TEST_ONLY = {
    f"{PKG}.streaming.events.*": "stream dedup/window ops (5 tests)",
    f"{PKG}.streaming.pages.*": "incremental snap state (3 tests)",
    f"{PKG}.sources.layout.write_cell_partitioned": "cell layout (2 tests)",
    f"{PKG}.sources.layout.read_cell_partitioned": "cell layout (2 tests)",
    f"{PKG}.sources.layout.write_bucketed": "bucketed layout (1 test)",
    f"{PKG}.sources.layout.read_bucketed": "bucketed layout (1 test)",
    f"{PKG}.sources.tables.load_gvi_csv_shards": "CSV shard union (1 test)",
    f"{PKG}.operators.resume.resume_delta": "delta resume (1 test)",
    f"{PKG}.operators.resume.append_increment": "delta resume (1 test)",
    f"{PKG}.operators.textops._PII_PATTERNS": "PII redaction (3 tests)",
    f"{PKG}.operators.textops.redact_pii": "PII redaction (3 tests)",
    f"{PKG}.operators.textops.normalize_text_col": "normalized dedup (2 tests)",
    f"{PKG}.operators.textops.exact_dedup_normalized": "normalized dedup (2 tests)",
    f"{PKG}.operators.textops.decontaminate_streaming": "stream decontam (1 test)",
    f"{PKG}.operators.sketches.quantile_rollup": "quantile sketch (1 test)",
    f"{PKG}.operators.similarity.kmeans_fit_df": "distributed k-means (2 tests)",
    f"{PKG}.operators.multimodal.RESIZED": "image resize (1 test)",
    f"{PKG}.operators.multimodal.resize_images": "image resize (1 test)",
    f"{PKG}.operators.multimodal.AUDIO_FEATURES": "audio features (2 tests)",
    f"{PKG}.operators.multimodal.audio_features": "audio features (2 tests)",
    f"{PKG}.operators.multimodal.decode_wav": "audio features (2 tests)",
    f"{PKG}.geo.hexgrid._floor_div": "hex parent rebucket (1 test)",
    f"{PKG}.geo.hexgrid.hex_parent_col": "hex parent rebucket (1 test)",
    f"{PKG}.geo.hexgrid.hex_parent_py": "hex parent rebucket (1 test)",
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

    listed = {**ALLOWED, **TEST_ONLY}
    out = []
    for mod, m in modules.items():
        for name in m.defs:
            if (mod, name) in seen or name.startswith("__"):
                continue
            if f"{mod}.{name}" in listed or f"{mod}.*" in listed:
                continue
            out.append(f"{mod}.{name}")
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
    for key in {**ALLOWED, **TEST_ONLY}:
        mod, _, name = key.rpartition(".")
        if mod not in modules or (name != "*" and name not in modules[mod].defs):
            stale.append(key)
    assert not stale, f"allowlist entries that name no package def: {stale}"


if __name__ == "__main__":
    print("\n".join(unreachable_defs()))
