"""The engine's configuration and import surface: it reads only deployment
settings from the environment, every EngineConfig field it declares, and
every name it imports, and every function or class it defines has a
caller outside the tests.

Experiment switches read from the environment (A/B knobs, alternative
execution paths) multiply the configurations tests and benchmarks must
cover, a config field nothing reads is a knob that does nothing, an
import nothing uses outlives the code it served, and a definition only
tests call is code nothing runs; these scans make each fail loudly
instead of landing unnoticed.
"""

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = os.path.join(REPO, "symtseries_spark")
ENTRY = os.path.join(REPO, "__spark_entry__.py")
WORKER = os.path.join(REPO, "pyspark_symtseries_worker.py")
DEPLOYMENT_SETTINGS = {"SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEM"}


def _is_environ(node) -> bool:
    return (isinstance(node, ast.Attribute) and node.attr == "environ") or (
        isinstance(node, ast.Name) and node.id == "environ"
    )


def _env_reads(tree):
    """Yield the name (or None when not a literal) of every environment
    read: os.environ[...], os.environ.get/pop/setdefault(...), os.getenv(...)."""
    for node in ast.walk(tree):
        arg = None
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            arg = node.slice
        elif isinstance(node, ast.Call) and node.args:
            f = node.func
            if isinstance(f, ast.Attribute) and (
                (f.attr in ("get", "pop", "setdefault") and _is_environ(f.value))
                or f.attr == "getenv"
            ):
                arg = node.args[0]
            elif isinstance(f, ast.Name) and f.id == "getenv":
                arg = node.args[0]
        else:
            continue
        if arg is not None:
            yield arg.value if isinstance(arg, ast.Constant) else None


def _engine_trees():
    """Yield (path relative to the package, parsed AST) per engine module."""
    for root, _, files in os.walk(ENGINE):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    yield os.path.relpath(path, ENGINE), ast.parse(f.read(), path)


def test_engine_reads_only_deployment_settings():
    found = {}
    for rel, tree in _engine_trees():
        for var in _env_reads(tree):
            found.setdefault(var, []).append(rel)
    assert found, "scan found no environment reads; is ENGINE the package?"
    extra = {k: v for k, v in found.items() if k not in DEPLOYMENT_SETTINGS}
    assert not extra, f"engine reads non-deployment environment variables: {extra}"


def test_every_engine_config_field_is_read():
    """Every EngineConfig field must be read as ``cfg.<field>`` in the
    engine."""
    from dataclasses import fields

    from symtseries_spark.config import EngineConfig

    read = {
        node.attr
        for _, tree in _engine_trees()
        for node in ast.walk(tree)
        if isinstance(node, ast.Attribute)
        and isinstance(node.value, ast.Name)
        and node.value.id == "cfg"
    }
    unread = {f.name for f in fields(EngineConfig)} - read
    assert not unread, f"EngineConfig fields nothing reads: {sorted(unread)}"


def _unused_imports(tree, reexports: bool):
    """Yield each name the module binds by import but never reads, except
    ``from __future__`` imports and, when ``reexports``, the engine names a
    package ``__init__`` imports to re-export them."""
    used = {node.id for node in ast.walk(tree) if isinstance(node, ast.Name)}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names = [a.asname or a.name.split(".")[0] for a in node.names]
        elif isinstance(node, ast.ImportFrom):
            if node.module == "__future__" or (
                reexports and (node.module or "").startswith("symtseries_spark")
            ):
                continue
            names = [a.asname or a.name for a in node.names]
        else:
            continue
        yield from (f"{name} (line {node.lineno})" for name in names if name not in used)


def _root_trees():
    """Yield (file name, parsed AST) per root-level module: the driver
    contract and the Python worker entry point."""
    for path in (ENTRY, WORKER):
        with open(path) as f:
            yield os.path.basename(path), ast.parse(f.read(), path)


def test_engine_imports_only_names_it_uses():
    unused = {}
    for rel, tree in [*_engine_trees(), *_root_trees()]:
        names = list(_unused_imports(tree, os.path.basename(rel) == "__init__.py"))
        if names:
            unused[rel] = names
    assert not unused, f"imports nothing uses: {unused}"


def test_local_checkpoint_only_at_allowed_sites():
    """``localCheckpoint`` cuts lineage, so losing an executor that holds a
    checkpointed block fails the job instead of recomputing it. Each
    remaining call is listed here by (module, top-level function) with its
    count; a cache that can be recomputed (``persist``) is the default."""
    allowed = {
        ("checkpoint.py", "_merge_tier"): 2,
        (os.path.join("operators", "index.py"), "promote_words"): 1,
    }
    found = {}
    for rel, tree in _engine_trees():
        for top in tree.body:
            owner = getattr(top, "name", "<module>")
            for node in ast.walk(top):
                if (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ):
                    found[(rel, owner)] = found.get((rel, owner), 0) + 1
    assert found == allowed


# Top-level engine definitions that no Python file outside tests/ names,
# with the reason each stays. The list may only shrink: a name leaves it
# when it gains a caller or is deleted.
UNREFERENCED_ALLOWED = {
    "pair_sums_by_key": "pair-sum operator, called by test_round4/5_fixes",
    "TableIO": "public table I/O API, covered by test_io",
    "assert_plan": "public plan-shape assertion, used by test_plans",
    "exact_candidates": "public exact-candidate API, covered by test_index",
    "range_query": "public approximate range API, covered by test_index/test_plans",
    "lower_bound_scan": "public lower-bound scan API, covered by test_index",
    "analyze_documents": "public text-analysis API, covered by test_textops",
    "middle_symbol": "public kernel helper, covered by test_kernel",
    "write_crawl": "called from code held in a string in scripts/scaling_bench.py",
}


def _top_level_definitions():
    """Yield (module, name) per top-level function or class of the engine."""
    for rel, tree in _engine_trees():
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                yield rel, node.name


def _names_referenced_outside_tests():
    """Every name read, attribute accessed or name imported in a Python
    file of the repository that is not under tests/ (the defining module
    included)."""
    names = set()
    for root, dirs, files in os.walk(REPO):
        dirs[:] = [d for d in dirs if d != "tests" and not d.startswith(".")]
        for name in files:
            if not name.endswith(".py"):
                continue
            path = os.path.join(root, name)
            with open(path) as f:
                tree = ast.parse(f.read(), path)
            for node in ast.walk(tree):
                if isinstance(node, ast.Name):
                    names.add(node.id)
                elif isinstance(node, ast.Attribute):
                    names.add(node.attr)
                elif isinstance(node, ast.alias):
                    names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_engine_definitions_are_referenced_outside_tests():
    """A top-level engine function or class that only tests name is code
    nothing runs; it must be deleted or listed, with its reason, in
    ``UNREFERENCED_ALLOWED``."""
    referenced = _names_referenced_outside_tests()
    unreferenced = {
        name: rel for rel, name in _top_level_definitions() if name not in referenced
    }
    assert set(unreferenced) == set(UNREFERENCED_ALLOWED), {
        "not referenced outside tests": sorted(set(unreferenced) - set(UNREFERENCED_ALLOWED)),
        "allowed but now referenced or gone": sorted(set(UNREFERENCED_ALLOWED) - set(unreferenced)),
    }
