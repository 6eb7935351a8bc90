"""Dead-module guard: every dedup/ module must be reachable from a real entry
point (the driver contract or a spark-submit job) through its imports. A
module nothing reaches is dead code (ROADMAP aim 2: keep one way to do each
thing). AST only — nothing is imported or executed, no Spark."""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "dedup"
# the brute-force test oracle: reached from tests, never from the engine
ORACLE_ONLY = {"reference_impl"}


def _imports(path: Path, modules: set[str]) -> set[str]:
    """dedup module names `path` imports, anywhere in the file (function-local
    imports included). Relative imports occur only inside the dedup
    package, so they resolve against it."""
    found: set[str] = set()
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.Import):
            names = [a.name for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = f"{PKG}.{node.module}" if node.module else PKG
            else:
                base = node.module or ""
            # `from dedup import lsh` names a submodule; `from dedup.io
            # import Warehouse` names an attribute (filtered out below)
            names = [base] + [f"{base}.{a.name}" for a in node.names]
        else:
            continue
        for name in names:
            parts = name.split(".")
            if parts[0] == PKG and len(parts) > 1 and parts[1] in modules:
                found.add(parts[1])
    return found


def test_every_dedup_module_is_reached():
    files = {p.stem: p for p in (ROOT / PKG).glob("*.py") if p.stem != "__init__"}
    modules = set(files)
    roots = [ROOT / "__spark_entry__.py", *sorted((ROOT / "jobs").glob("*.py"))]
    reached: set[str] = set()
    frontier = set().union(*(_imports(p, modules) for p in roots))
    while frontier:
        m = frontier.pop()
        if m not in reached:
            reached.add(m)
            frontier |= _imports(files[m], modules) - reached
    assert "pipeline" in reached and "queries" in reached  # the walk works
    unreached = modules - reached - ORACLE_ONLY
    assert not unreached, f"dedup modules no entry point imports: {sorted(unreached)}"
