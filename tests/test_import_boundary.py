"""Import boundaries of the package, from a static walk of its imports.

Every ``import``/``from ... import`` statement in a module counts, at
module level or inside a function, so a lazy import cannot hide a
dependency.  The ranking CLI and stream must stay inside a fixed set
of modules, and every module must be reachable from one of the entry
points that use the package, bar a pinned set reached only by tests.
"""
from __future__ import annotations

import ast
from pathlib import Path

PKG = "outrank_spark"
PKG_DIR = Path(__file__).resolve().parents[1] / PKG

RANKING_ROOTS = ("outrank_spark.jobs.rank_job",
                 "outrank_spark.streaming.ranking_stream")
ENTRY_ROOTS = RANKING_ROOTS + ("outrank_spark.plans.queries",
                               "outrank_spark.jobs.ingest_warc",
                               "outrank_spark.jobs.data_quality")

# Modules that no entry point imports; only their own tests reach
# them.  Wiring one into an entry point, or deleting it, must take it
# off this list; a new module may not join it silently.
TEST_ONLY_MODULES = frozenset({
    "outrank_spark.streaming.drift_stream",
    "outrank_spark.streaming.event_streams",
})

# Everything the ranking CLI and stream may import.  A module added
# here is a deliberate widening of the ranking engine.
RANKING_MODULES = frozenset({
    "outrank_spark",
    "outrank_spark.functions",
    "outrank_spark.functions.coverage",
    "outrank_spark.functions.expr_vault",
    "outrank_spark.functions.heuristics",
    "outrank_spark.functions.mi",
    "outrank_spark.functions.surrogate",
    "outrank_spark.functions.vault",
    "outrank_spark.hashing",
    "outrank_spark.jobs",
    "outrank_spark.jobs.rank_job",
    "outrank_spark.operators",
    "outrank_spark.operators.derived",
    "outrank_spark.operators.instance_ranking",
    "outrank_spark.operators.interactions",
    "outrank_spark.operators.mi_distributed",
    "outrank_spark.operators.pair_scoring",
    "outrank_spark.operators.sketch_build",
    "outrank_spark.operators.temporal",
    "outrank_spark.operators.transformers",
    "outrank_spark.plans",
    "outrank_spark.plans.combinations",
    "outrank_spark.plans.ranking_job",
    "outrank_spark.plans.reference_model",
    "outrank_spark.plans.reports",
    "outrank_spark.plans.svg_render",
    "outrank_spark.plans.three_mr",
    "outrank_spark.plans.visualization",
    "outrank_spark.sketches",
    "outrank_spark.sketches.bloom",
    "outrank_spark.sketches.bytesize",
    "outrank_spark.sketches.cms",
    "outrank_spark.sketches.counters",
    "outrank_spark.sketches.countingbloom",
    "outrank_spark.sketches.countsketch",
    "outrank_spark.sketches.coverage",
    "outrank_spark.sketches.ddsketch",
    "outrank_spark.sketches.fd",
    "outrank_spark.sketches.frequent",
    "outrank_spark.sketches.hll",
    "outrank_spark.sketches.kll",
    "outrank_spark.sketches.rare",
    "outrank_spark.sketches.slidinghll",
    "outrank_spark.sketches.tdigest",
    "outrank_spark.sketches.theta",
    "outrank_spark.sources",
    "outrank_spark.sources.bucketed",
    "outrank_spark.sources.categorical_generator",
    "outrank_spark.sources.pages",
    "outrank_spark.sources.ranking_matrix",
    "outrank_spark.sources.readers",
    "outrank_spark.sources.warc",
    "outrank_spark.streaming",
    "outrank_spark.streaming.ranking_stream",
    "outrank_spark.streaming.sketch_stream",
    "outrank_spark.streaming.sliding_stream",
})


def _module_files() -> dict[str, Path]:
    out = {}
    for path in PKG_DIR.rglob("*.py"):
        parts = list(path.relative_to(PKG_DIR.parent).with_suffix("").parts)
        if parts[-1] == "__init__":
            parts.pop()
        out[".".join(parts)] = path
    return out


MODULES = _module_files()


def _imported_names(module: str, path: Path) -> set[str]:
    """Dotted names a module imports, relative imports resolved; for
    ``from a import b`` both ``a`` and ``a.b`` (``b`` may be a
    submodule)."""
    package = module.split(".")
    if path.name != "__init__.py":
        package = package[:-1]
    names = set()
    for node in ast.walk(ast.parse(path.read_text())):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom):
            if node.level:
                base = package[:len(package) - node.level + 1]
                base = ".".join(base + ([node.module] if node.module else []))
            else:
                base = node.module or ""
            names.add(base)
            names.update(f"{base}.{alias.name}" for alias in node.names)
    return names


def _dependencies(module: str) -> set[str]:
    """Package modules that ``module`` imports, with the packages a
    dotted import runs through (importing ``a.b.c`` runs
    ``a/__init__`` and ``a/b/__init__`` too)."""
    deps = set()
    for name in _imported_names(module, MODULES[module]):
        parts = name.split(".")
        deps.update(".".join(parts[:i]) for i in range(1, len(parts) + 1)
                    if ".".join(parts[:i]) in MODULES)
    return deps


def _closure(roots) -> set[str]:
    seen, stack = set(), list(roots)
    while stack:
        module = stack.pop()
        if module not in seen:
            seen.add(module)
            stack.extend(_dependencies(module))
            # importing a module runs its packages' __init__ first
            stack.extend(module.rsplit(".", i)[0]
                         for i in range(1, module.count(".") + 1))
    return seen


def test_roots_exist():
    assert set(ENTRY_ROOTS) <= set(MODULES)


def test_ranking_closure_stays_inside_the_kept_set():
    outside = _closure(RANKING_ROOTS) - RANKING_MODULES
    assert not outside, (
        f"the ranking CLI/stream now imports {sorted(outside)}; "
        "keep it inside RANKING_MODULES or widen that set on purpose")


def test_every_module_is_reached_from_an_entry_point():
    unreached = set(MODULES) - _closure(ENTRY_ROOTS)
    assert unreached == TEST_ONLY_MODULES, (
        f"reached from no entry point ({', '.join(ENTRY_ROOTS)}): "
        f"{sorted(unreached)}; expected exactly "
        f"{sorted(TEST_ONLY_MODULES)}.  Delete a new orphan or use it; "
        "drop a module from TEST_ONLY_MODULES once an entry point "
        "reaches it")


def test_traced_run_resolves_every_layer_name():
    """``perfbench/run.py --trace 1`` wraps the ranking layers by module
    attribute name; a refactor that drops one of those names must fail
    here, not only in the traced run."""
    from perfbench.layers import Materialiser, layer_targets
    from perfbench.trace import Tracer

    targets = layer_targets(Tracer("t"), Materialiser())
    assert targets and all(callable(new) for _, _, new in targets)
