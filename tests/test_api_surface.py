"""Static reachability guard for the library's top-level surface.

Every top-level function and class in `aef_mosaic_spark/` must be
reached from a production root — the query registry
(`__spark_entry__.py`), `jobs/`, `scripts/`, `perfbench/`,
`bench*.py`, or a library module's own module-level statements —
unless it is on the allow-list below. Reachability follows AST
identifiers (names, attribute names, import aliases) through def
bodies transitively; a mention in a docstring or comment is not a
caller. Matching is by bare name, so a def is reached when any
reached body names it: the scan can only over-count what is alive.

Starts no Spark: this parses source files only.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]

# Top-level defs that no production root reaches, kept on purpose.
ALLOWED_UNREACHED = {
    # NumPy oracles and goldens the Spark operators are tested against
    # (the PSNR >= 40 dB codec gate among them).
    "operators.focal.basins_oracle_np",
    "operators.focal.contour_oracle_np",
    "operators.focal.disttrans_oracle_np",
    "operators.focal.flowacc_oracle_np",
    "operators.focal.focal_oracle_np",
    "operators.focal.morphology_oracle_np",
    "operators.regions.region_stats_golden",
    "operators.regions.sieve_golden_np",
    "codecs.psnr",
    "cells.cell_id_np",
    "cells.cells_covering_bbox",
    # The H3-shaped cell API (id <-> centre, parent, bounds, ring).
    "cells.cell_to_xy",
    "cells.cell_parent",
    "cells.cell_bounds",
    "cells.cell_ring",
    # The only general-polygon point-in-polygon join.
    "operators.pip.point_in_polygon_join",
    # Test helpers: the plan probe and the in-memory object store.
    "sources.bucketed.plan_has_shuffle",
    "sources.store.MemoryObjectStore",
}


def _identifiers(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
            if n.asname:
                out.add(n.asname)
    return out


def _parse(path: Path) -> ast.Module:
    return ast.parse(path.read_text(), filename=str(path))


def unreached_defs(root: Path = ROOT) -> set[str]:
    lib = root / "aef_mosaic_spark"
    defs: dict[str, ast.AST] = {}
    seen: set[str] = set()
    for path in sorted(lib.rglob("*.py")):
        module = ".".join(path.relative_to(lib).with_suffix("").parts)
        for stmt in _parse(path).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef,
                                 ast.ClassDef)):
                defs[f"{module}.{stmt.name}"] = stmt
            elif path.name != "__init__.py":
                seen |= _identifiers(stmt)
    roots = [root / "__spark_entry__.py", *sorted(root.glob("bench*.py"))]
    for d in ("jobs", "scripts", "perfbench"):
        roots += sorted((root / d).rglob("*.py"))
    for path in roots:
        seen |= _identifiers(_parse(path))

    reached: set[str] = set()
    frontier = set(seen)
    while frontier:
        grown: set[str] = set()
        for key, node in defs.items():
            if key not in reached and key.rsplit(".", 1)[1] in frontier:
                reached.add(key)
                grown |= _identifiers(node)
        frontier = grown - seen
        seen |= grown
    return set(defs) - reached


def test_every_library_def_is_reached_or_allowed():
    unreached = unreached_defs()
    assert unreached - ALLOWED_UNREACHED == set(), (
        "library defs that no query, job, script or bench reaches: "
        "delete them or give them a caller")
    assert ALLOWED_UNREACHED - unreached == set(), (
        "allow-listed defs now reached: drop them from ALLOWED_UNREACHED")


def test_docstring_mention_is_not_a_caller(tmp_path):
    pkg = tmp_path / "aef_mosaic_spark"
    pkg.mkdir()
    (pkg / "__init__.py").write_text("")
    (pkg / "ops.py").write_text(
        'def used():\n    return helper()\n\n'
        'def helper():\n    return 1\n\n'
        'def dead():\n    """Not used() anywhere."""\n')
    (tmp_path / "__spark_entry__.py").write_text(
        "from aef_mosaic_spark.ops import used\n"
        "# dead() is only named in this comment\n"
        "x = 'dead'\n")
    assert unreached_defs(tmp_path) == {"ops.dead"}
