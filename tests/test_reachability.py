"""Every top-level function and class in the package is reached from a runtime surface.

A static, name-based scan (no Spark): the names referenced by the
runtime surfaces (the driver contract, ``bench.py``, the CLI, the
oracle check, perfbench) and by each package module's own module-level
code are followed transitively through the package's top-level
definitions. A definition counts as reached when its name is referenced
from reached code. Docstrings, ``__all__`` lists and module-level
imports are not references; string literals are only in the surfaces.
Tests are not a surface: code that only its own tests call is dead code.

``KEEP`` lists what is kept although the scan does not reach it, one
reason each. An entry that names a file under ``tools/`` keeps that tool
and everything it reaches.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "datalake_backend_spark"
SURFACES = (
    "__spark_entry__.py",
    "bench.py",
    "datalake_backend_spark/__main__.py",
    "tools/check_oracle.py",
    *sorted(str(p.relative_to(ROOT)) for p in (ROOT / "perfbench").glob("*.py")),
)

KEEP = {
    "config.object_store_conf": "deployment setting for an S3A object-store warehouse",
    "datapipe.similarity.pq_train": "produced the committed pq_pinned.py codebooks",
    "serving.export.es_export_frame": "the ES reference-mapping parity tests exercise it",
    "serving.export.index_mapping": "the ES reference-mapping parity tests exercise it",
    "serving.export.write_index_template": "the ES reference-mapping parity tests exercise it",
    "core.materialize.release_all": "part of the documented scope API",
    "__init__.__getattr__": "lazy `from datalake_backend_spark import Engine`",
    "operators.constraints.satisfies": "CHECK rule for Engine.process_document(constraints=)",
    "pipelines.parking.free_slots_per_frame": "J2 per-frame free slots; no query or gold computes it",
    "sources.writers.wrapped_json_document": "S3 wrapped-JSON sink; no query or zone emits it",
    "sources.writers.single_row_json": "S6 single-row JSON sink; no query or zone emits it",
    "operators.clustering.kmeans_clusters": "A15 KMeans; no query or gold clusters",
    "operators.clustering.cluster_summary": "A15 per-cluster summary of kmeans_clusters",
    "tools/gen_sf.py": "generates the sf* testdata every surface reads",
    "tools/sf1_spotcheck.py": "sf1 spot check named in the ROADMAP",
    "tools/window_audit.py": "window audit named in the ROADMAP",
    "tools/driver_window_audit.py": "driver-window audit named in the ROADMAP",
    "tools/plan_report.py": "regenerates PLANS.md after a registry change",
    "tools/stageprof.py": "profiling tool ROADMAP item 1 folds into core/trace.py",
    "tools/microbench.py": "profiling tool ROADMAP item 1 folds into core/trace.py",
    "tools/scan_audit.py": "profiling tool ROADMAP item 1 folds into core/trace.py",
    "tools/dump_plans.py": "profiling tool ROADMAP item 1 folds into core/trace.py",
}


def _is_docstring(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Expr)
        and isinstance(node.value, ast.Constant)
        and isinstance(node.value.value, str)
    )


def _names(node: ast.AST, strings: bool = False) -> set[str]:
    """Identifiers a node references: names, attributes, imported names
    and, with ``strings``, the dotted identifiers in string literals (a
    surface may look an engine name up by string, as perfbench's tracer
    does).

    With ``strings`` (a surface file), a bare name the surface defines
    itself at top level refers to that definition, not to a package
    definition of the same name."""
    docstrings = {
        id(sub.body[0].value)
        for sub in ast.walk(node)
        if isinstance(sub, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and sub.body
        and _is_docstring(sub.body[0])
    }
    own = {
        stmt.name
        for stmt in getattr(node, "body", ())
        if strings and isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
    }
    out: set[str] = set()
    for sub in ast.walk(node):
        if isinstance(sub, ast.Name):
            if sub.id not in own:
                out.add(sub.id)
        elif isinstance(sub, ast.Attribute):
            out.add(sub.attr)
        elif isinstance(sub, ast.alias):
            out.add(sub.name.rsplit(".", 1)[-1])
        elif (
            strings
            and isinstance(sub, ast.Constant)
            and isinstance(sub.value, str)
            and id(sub) not in docstrings
        ):
            out.update(p for p in sub.value.replace(":", ".").split(".") if p.isidentifier())
    return out


def _module_code(tree: ast.Module) -> list[ast.stmt]:
    """Module-level statements that run on import, minus imports and ``__all__``."""
    keep = []
    for stmt in tree.body:
        if _is_docstring(stmt) or isinstance(
            stmt, (ast.Import, ast.ImportFrom, ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            continue
        if isinstance(stmt, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "__all__" for t in stmt.targets
        ):
            continue
        keep.append(stmt)
    return keep


def package_definitions() -> dict[str, ast.AST]:
    """``module.name`` → its top-level def/class node, for every package module."""
    defs = {}
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = ".".join(path.relative_to(PACKAGE).with_suffix("").parts)
        for stmt in ast.parse(path.read_text()).body:
            if isinstance(stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[f"{mod}.{stmt.name}"] = stmt
    return defs


def unreached(keep: dict[str, str] = KEEP) -> list[str]:
    """Top-level package definitions that neither a runtime surface nor
    a ``keep`` entry reaches."""
    defs = package_definitions()
    by_name: dict[str, list[str]] = {}
    for qual in defs:
        by_name.setdefault(qual.rsplit(".", 1)[-1], []).append(qual)
    frontier: set[str] = set()
    for rel in (*SURFACES, *(k for k in keep if k.startswith("tools/"))):
        frontier |= _names(ast.parse((ROOT / rel).read_text()), strings=True)
    # `from a import b as c`: a reference to c is a reference to b
    aliases: dict[str, set[str]] = {}
    for path in PACKAGE.rglob("*.py"):
        tree = ast.parse(path.read_text())
        for stmt in _module_code(tree):
            frontier |= _names(stmt)
        for sub in ast.walk(tree):
            if isinstance(sub, ast.ImportFrom):
                for a in sub.names:
                    if a.asname:
                        aliases.setdefault(a.asname, set()).add(a.name)
    reached = {k for k in keep if k in defs}
    for qual in reached:
        frontier |= _names(defs[qual])
    seen: set[str] = set()
    while frontier:
        name = frontier.pop()
        if name in seen:
            continue
        seen.add(name)
        frontier |= aliases.get(name, set())
        for qual in by_name.get(name, ()):
            if qual not in reached:
                reached.add(qual)
                frontier |= _names(defs[qual])
    return sorted(set(defs) - reached)


def test_every_package_definition_is_reached_from_a_runtime_surface():
    dead = unreached()
    assert not dead, (
        "reached by no runtime surface (delete it, or add it to KEEP with a reason): "
        + ", ".join(dead)
    )


def test_keep_list_entries_exist_and_are_needed():
    """Each package entry names a definition no surface reaches without
    it; each tool entry names a file in ``tools/``."""
    tools = {k: v for k, v in KEEP.items() if k.startswith("tools/")}
    bare = set(unreached(tools))
    stale = [k for k in KEEP if k not in tools and k not in bare]
    stale += [k for k in tools if not (ROOT / k).is_file()]
    assert not stale, stale


def test_a_surface_name_for_its_own_definition_reaches_nothing():
    """A surface calling its own ``stop_spark`` does not reach a package
    function of that name; an attribute call still does."""
    own = ast.parse("def stop_spark(s):\n    s.stop()\n\nstop_spark(None)\n")
    assert "stop_spark" not in _names(own, strings=True)
    other = ast.parse("import config\nconfig.stop_spark()\n")
    assert "stop_spark" in _names(other, strings=True)
