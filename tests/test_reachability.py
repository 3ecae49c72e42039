"""Every top-level engine definition is reached from an entry point.

The roots are the module-level code of every engine module (which
runs the ``register``/``register_sql`` sites that fill the registry),
the whole of ``cli.py`` and ``engine.py``, and the driver, bench,
perfbench and tools scripts. The walk follows name references to a
fixed point. A name reached anywhere reaches every top-level
definition of that name: the walk can miss dead code but never flags
live code. A definition it does not reach is called from tests only;
delete it, or keep it in ``KEPT`` with the reason it stays.
"""

from __future__ import annotations

import ast
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
ENGINE = REPO / "environmental_stac_generator_spark"
ENTRY_MODULES = {"cli.py", "engine.py"}
ENTRY_SCRIPTS = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *sorted((REPO / "perfbench").glob("*.py")),
    *sorted((REPO / "tools").glob("*.py")),
]

_MAINTENANCE = "index maintenance operator that users call (README, COVERAGE)"
_REAL_CODEC = (
    "real-codec injectable: the only implementation on the raster-stack "
    "platform, run by tools/run_realcodec_lane.sh"
)
_REFERENCE = (
    "reference twin the catalog is compared against in "
    "test_catalog_metadata_matches_relational_operators"
)
KEPT = {
    "queries.ann_index:vacuum_ann_index": _MAINTENANCE,
    "queries.ann_index:refresh_index_view": _MAINTENANCE,
    "queries.ann_index:drop_index_view": _MAINTENANCE,
    "sinks.raster:rio_cogeo_encoder": _REAL_CODEC,
    "sinks.raster:matplotlib_jpeg_encoder": _REAL_CODEC,
    "sinks.raster:default_thumbnail_encoder": _REAL_CODEC,
    "sinks.raster:gdaladdo_external_overviews": _REAL_CODEC,
    "sinks.raster:fake_external_overviews": _REAL_CODEC,
    "sinks.raster:default_external_overviews": _REAL_CODEC,
    "sinks.raster:rasterio_grid_reproject": _REAL_CODEC,
    "sinks.raster:passthrough_grid_reproject": _REAL_CODEC,
    "sinks.shards:read_shard": "the reader of the shard sink's format",
    "operators.forecast:bbox": _REFERENCE,
    "operators.forecast:infer_valid_bands": _REFERENCE,
    "operators.forecast:leadtime_counts": _REFERENCE,
}


def _names(*nodes: ast.AST) -> set[str]:
    """Every name and attribute name referenced under ``nodes``."""
    out = set()
    for node in nodes:
        for n in ast.walk(node):
            if isinstance(n, ast.Name):
                out.add(n.id)
            elif isinstance(n, ast.Attribute):
                out.add(n.attr)
    return out


def _registers(node: ast.FunctionDef | ast.ClassDef) -> bool:
    """``@register(...)`` or ``@atexit.register``: the decorator hands
    the function to a caller outside the engine."""
    for deco in node.decorator_list:
        f = deco.func if isinstance(deco, ast.Call) else deco
        if (f.attr if isinstance(f, ast.Attribute) else getattr(f, "id", None)) == "register":
            return True
    return False


def unreached(
    package: Path, entry_modules: set[str], entry_scripts: list[Path], kept=()
) -> list[str]:
    """``module:name`` of every top-level definition in ``package`` that
    no root reaches, except those in ``kept``."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(package.rglob("*.py")):
        rel = path.relative_to(package)
        module = rel.with_suffix("").as_posix().replace("/", ".")
        tree = ast.parse(path.read_text())
        if rel.as_posix() in entry_modules:
            roots |= _names(tree)
        for st in tree.body:
            if not isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                roots |= _names(st)
                continue
            defs.setdefault(st.name, []).append((module, st))
            # evaluated at import: decorators, defaults, base classes
            if isinstance(st, ast.ClassDef):
                roots |= _names(*st.decorator_list, *st.bases, *st.keywords)
            else:
                defaults = [d for d in st.args.defaults + st.args.kw_defaults if d]
                roots |= _names(*st.decorator_list, *defaults)
            if _registers(st):
                roots.add(st.name)
    for path in entry_scripts:
        roots |= _names(ast.parse(path.read_text()))

    reached: set[str] = set()
    todo = list(roots)
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for _, node in defs.get(name, ()):
                todo.extend(_names(node) - reached)
    return sorted(
        f"{module}:{name}"
        for name, nodes in defs.items()
        if name not in reached
        for module, _ in nodes
        if f"{module}:{name}" not in kept
    )


def test_guard_flags_a_definition_reached_only_from_tests(tmp_path):
    pkg = tmp_path / "pkg"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "registry.py").write_text(
        "def register(name):\n    return lambda fn: fn\n"
    )
    (pkg / "ops.py").write_text(
        "from pkg.registry import register\n\n"
        "def first():\n    return second()\n\n"
        "def second():\n    return 2\n\n"
        "def only_tested():\n    return 3\n\n"
        "def kept():\n    return 4\n\n"
        "@register('q')\ndef registered():\n    return helper()\n\n"
        "def helper():\n    return 5\n"
    )
    (pkg / "cli.py").write_text("from pkg.ops import first\n\nfirst()\n")
    tests = tmp_path / "tests"
    tests.mkdir()
    (tests / "test_ops.py").write_text(
        "from pkg.ops import only_tested\n\n"
        "def test_it():\n    assert only_tested() == 3\n"
    )
    # the test file is no root: only_tested is flagged, and first ->
    # second (two hops from cli.py) and registered -> helper pass
    assert unreached(pkg, {"cli.py"}, []) == ["ops:kept", "ops:only_tested"]
    assert unreached(pkg, {"cli.py"}, [], kept={"ops:kept": "why"}) == [
        "ops:only_tested"
    ]
    # an entry script is a root too
    script = tmp_path / "bench.py"
    script.write_text("from pkg import ops\n\nops.only_tested()\n")
    assert unreached(pkg, {"cli.py"}, [script], kept={"ops:kept": "why"}) == []


def test_every_engine_definition_is_reached_from_an_entry_point():
    flagged = unreached(ENGINE, ENTRY_MODULES, ENTRY_SCRIPTS, kept=KEPT)
    assert not flagged, (
        "reached from tests only (delete it, or keep it in KEPT with a "
        "reason): " + ", ".join(flagged)
    )
    # a KEPT entry that is reached, renamed or deleted is stale
    stale = set(KEPT) - set(unreached(ENGINE, ENTRY_MODULES, ENTRY_SCRIPTS))
    assert not stale, "stale KEPT entries: " + ", ".join(sorted(stale))
