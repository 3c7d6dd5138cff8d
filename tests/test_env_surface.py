"""The engine reads only deployment settings from the environment.

Tuning belongs in table properties and session conf, where it is
scoped to a table or a session and visible in the table's metadata; an
environment variable is process-global and read on hot paths. This
test walks ``starlake_spark/`` and pins the set of environment
variables it reads, so a new tuning knob cannot come back unnoticed."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "starlake_spark")

DEPLOYMENT = {
    "STARLAKE_WAREHOUSE",
    "STARLAKE_LOCK_PROVIDER",
    "STARLAKE_LISTER",
    "STARLAKE_COMMIT_TIMEOUT_S",
    "STARLAKE_SUITE_DIR",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_LOCAL_DIR",
    "SPARK_GRAFT_LIST_JOB_THRESHOLD",
}


def _is_environ(node) -> bool:
    return isinstance(node, ast.Attribute) and node.attr == "environ"


def _name_of(node, where: str) -> str:
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    return f"<non-literal name at {where}>"


def _env_reads(path: str) -> set:
    tree = ast.parse(open(path, encoding="utf-8").read(), path)
    out = set()
    for node in ast.walk(tree):
        where = f"{os.path.relpath(path, PKG)}:{getattr(node, 'lineno', 0)}"
        if isinstance(node, ast.Subscript) and _is_environ(node.value):
            out.add(_name_of(node.slice, where))
        elif isinstance(node, ast.Call):
            f = node.func
            env_get = (isinstance(f, ast.Attribute) and f.attr == "get"
                       and _is_environ(f.value))
            getenv = ((isinstance(f, ast.Attribute) and f.attr == "getenv")
                      or (isinstance(f, ast.Name) and f.id == "getenv"))
            if env_get or getenv:
                out.add(_name_of(node.args[0], where) if node.args
                        else f"<no name at {where}>")
    return out


def test_env_reads_are_deployment_settings_only():
    found = set()
    for root, _dirs, files in os.walk(PKG):
        for fn in files:
            if fn.endswith(".py"):
                found |= _env_reads(os.path.join(root, fn))
    assert found == DEPLOYMENT
