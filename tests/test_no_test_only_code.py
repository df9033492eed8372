"""Tripwire against test-only product code.

Every top-level function, class and constant in ``skope_api_spark/`` must
be referenced by some non-test code: the package itself, ``scripts/``,
``perfbench/``, ``bench.py`` or ``__spark_entry__.py``. A registry
``@query`` function is reached through the registry, so it counts as
referenced. References are code only (names, attributes, imports), never
strings or comments, and a definition's own body does not reference it.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "skope_api_spark"

# Test-only names kept on purpose; each backs a test of a surviving function.
ALLOWED = {
    ("operators/vp8l.py", "webp_alpha_plane"):
        "with alph_decode, the independent reference that "
        "test_png.py::test_cross_codec_alpha_agreement checks png_decode's "
        "alpha against",
    ("operators/vp8l.py", "_emit_image_literal"):
        "fixture encoder for vp8l_decode's transform tests",
    ("operators/joins.py", "bloom_params"):
        "sizes the surviving bloom_prefilter in test_prefilter_actually_prunes",
    ("plans/intervals.py", "time_for_band"):
        "the W7 parity anchor; inverse of band_range_for_time_range in the "
        "round-trip tests",
    ("api/http.py", "build_app"):
        "the route factory a deployment serves",
    ("operators/png.py", "png_encode"):
        "fixture encoder for png_decode's tests",
    ("operators/jpeg.py", "jpeg_encode"):
        "fixture encoder for jpeg_decode's tests",
    ("operators/gif.py", "gif_encode"):
        "fixture encoder for gif_decode's tests",
    ("sources/geotiff.py", "ingest_geotiff"):
        "ingests a reference GeoTIFF into the long cube table",
}


def _non_test_files() -> list[Path]:
    files = list(PACKAGE.rglob("*.py"))
    files += (ROOT / "scripts").rglob("*.py")
    files += (ROOT / "perfbench").rglob("*.py")
    files += [ROOT / "bench.py", ROOT / "__spark_entry__.py"]
    return [
        f for f in files
        if f.exists() and not f.name.startswith("test_") and f.name != "conftest.py"
    ]


def _is_query(node: ast.AST) -> bool:
    for dec in getattr(node, "decorator_list", ()):
        fn = dec.func if isinstance(dec, ast.Call) else dec
        name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
        if name == "query":
            return True
    return False


def _top_level_names(tree: ast.Module) -> dict[str, ast.AST]:
    """Top-level defs, classes and constants, each with its defining node."""
    out: dict[str, ast.AST] = {}
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out[node.name] = node
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            for t in targets:
                for n in ast.walk(t):
                    if isinstance(n, ast.Name):
                        out[n.id] = node
    return out


def _referenced_names(tree: ast.Module) -> set[str]:
    """Names used in code, a top-level definition's own body excluded for
    its own name (recursion is not a caller)."""
    refs: set[str] = set()

    def collect(node: ast.AST, own: str | None) -> None:
        for n in ast.walk(node):
            if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
                name = n.id
            elif isinstance(n, ast.Attribute):
                name = n.attr
            elif isinstance(n, ast.alias):
                name = n.name.rsplit(".", 1)[-1]
            else:
                continue
            if name != own:
                refs.add(name)

    for node in tree.body:
        collect(node, getattr(node, "name", None))  # defs and classes have one
    return refs


def test_every_product_name_has_a_non_test_reference():
    refs: set[str] = set()
    for f in _non_test_files():
        refs |= _referenced_names(ast.parse(f.read_text(), str(f)))

    unreferenced = []
    for f in sorted(PACKAGE.rglob("*.py")):
        rel = f.relative_to(PACKAGE).as_posix()
        for name, node in _top_level_names(ast.parse(f.read_text(), str(f))).items():
            if name.startswith("__") and name.endswith("__"):
                continue  # module metadata (__version__, __all__)
            if name in refs or _is_query(node) or (rel, name) in ALLOWED:
                continue
            unreferenced.append(f"{rel}::{name}")
    assert not unreferenced, (
        "product names that only tests reach (delete them with their tests, "
        f"or give them a caller): {unreferenced}"
    )


def test_allow_list_entries_exist():
    """A stale allow-list entry would hide nothing and rot silently."""
    for rel, name in ALLOWED:
        tree = ast.parse((PACKAGE / rel).read_text())
        assert name in _top_level_names(tree), f"{rel}::{name} no longer exists"
