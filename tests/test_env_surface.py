"""The engine's environment surface: it reads only deployment settings.

Experiment switches read from the environment (A/B knobs, alternative
execution paths) multiply the configurations tests and benchmarks must
cover; this scan makes a new one fail loudly instead of landing unnoticed.
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


def test_engine_reads_only_deployment_settings():
    found = {}
    for root, _, files in os.walk(ENGINE):
        for name in files:
            if name.endswith(".py"):
                path = os.path.join(root, name)
                with open(path) as f:
                    tree = ast.parse(f.read(), path)
                for var in _env_reads(tree):
                    found.setdefault(var, []).append(os.path.relpath(path, ENGINE))
    assert found, "scan found no environment reads; is ENGINE the package?"
    extra = {k: v for k, v in found.items() if k not in DEPLOYMENT_SETTINGS}
    assert not extra, f"engine reads non-deployment environment variables: {extra}"
