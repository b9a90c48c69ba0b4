"""The engine's configuration surface: it reads only deployment settings
from the environment, and every EngineConfig field it declares.

Experiment switches read from the environment (A/B knobs, alternative
execution paths) multiply the configurations tests and benchmarks must
cover, and a config field nothing reads is a knob that does nothing; these
scans make either fail loudly instead of landing unnoticed.
"""

import ast
import os

ENGINE = os.path.join(os.path.dirname(os.path.dirname(__file__)), "symtseries_spark")
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
