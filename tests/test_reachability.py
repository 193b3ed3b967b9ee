"""Static reachability guard for the package.

Every public top-level function or class in `etl_sh_design_spark/`
must be reached by something that ships: it is named (as a `Name`, an
`Attribute` or an import alias) by another package module, by its own
module, by `bench.py`, `__spark_entry__.py` or `perfbench/`, or it is
registered as a query by `@query` / `@reference_query`. Tests and
`tools/` do not count: a definition only they reach is dead code with
a test around it.

The only exceptions are the kept public API in `ALLOWED`, each with the
reason it stays. No Spark session is needed; the check is an AST scan.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "etl_sh_design_spark"
# Consumers outside the package whose references count as reaching.
CONSUMERS = [
    ROOT / "bench.py",
    ROOT / "__spark_entry__.py",
    *sorted((ROOT / "perfbench").glob("*.py")),
]
REGISTERING = {"query", "reference_query"}

_COORDS = "README documents functions/transforms.py as the coordinate library (P1-P7)"
_SINK = "README-documented sink (the sources/io.py row)"

# qualified name (module path under the package, dotted) -> why it stays
ALLOWED = {
    "sources.io.write_yaml_layout": _SINK,
    "sources.io.write_mirrored_centers_csv": _SINK,
    "sources.io.cache_result": _SINK,
    "sources.io.read_cached_runs": _SINK,
    "sources.io.write_zordered": _SINK,
    "sources.io.export_layout_database": _SINK,
    "functions.transforms.with_spherical": _COORDS,
    "functions.transforms.with_cartesian": _COORDS,
    "functions.transforms.with_outline": _COORDS,
    "functions.transforms.with_active_area": _COORDS,
    "functions.transforms.active_area_size": _COORDS,
    "functions.transforms.mm_to_cm": _COORDS,
    "plans.dee_faces.config_module_totals": "tests/test_faces_tiling.py pins it unchanged",
    "plans.dee_faces.face_slots": "tests/test_faces_tiling.py pins it unchanged",
    "plans.dee_faces.face_orientation_dim": "tests/test_faces_tiling.py pins it unchanged "
    "(the board geometry reads FACE_ORIENTATION as a literal)",
    "registry.withheld": "the registry contract tests' introspection API",
}


def _modules() -> dict[str, ast.Module]:
    out = {}
    for path in sorted(PKG.rglob("*.py")):
        rel = path.relative_to(PKG).with_suffix("")
        name = ".".join(p for p in rel.parts if p != "__init__") or "__init__"
        out[name] = ast.parse(path.read_text(), filename=str(path))
    return out


def _names_used(tree: ast.AST) -> set[str]:
    """Identifiers a module refers to: loaded names, attribute names and
    imported names (definitions themselves are not references)."""
    used = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name) and not isinstance(node.ctx, ast.Store):
            used.add(node.id)
        elif isinstance(node, ast.Attribute):
            used.add(node.attr)
        elif isinstance(node, ast.alias):
            used.add(node.name.rsplit(".", 1)[-1])
    return used


def _registers(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", []):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name in REGISTERING:
            return True
    return False


def _public_defs(tree: ast.Module):
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            if not node.name.startswith("_"):
                yield node


def unreached() -> list[str]:
    """Qualified names of public top-level definitions nothing ships reaches."""
    modules = _modules()
    named = set().union(
        *(_names_used(tree) for tree in modules.values()),
        *(_names_used(ast.parse(p.read_text())) for p in CONSUMERS),
    )
    return sorted(
        f"{mod}.{node.name}"
        for mod, tree in modules.items()
        for node in _public_defs(tree)
        if node.name not in named
        and not _registers(node)
        and f"{mod}.{node.name}" not in ALLOWED
    )


def test_every_public_definition_is_reached():
    assert unreached() == []


def test_allowlist_names_existing_definitions():
    defined = {
        f"{mod}.{node.name}" for mod, tree in _modules().items() for node in _public_defs(tree)
    }
    assert sorted(set(ALLOWED) - defined) == []
