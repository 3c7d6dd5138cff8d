"""Every merge-on-read delta commit goes through one function.

Upserts, delta UPDATE/DELETE, key tombstones, the mixed
tombstone+postimage fold and the streaming sink's update mode all
commit through ``operators.dml._commit_delta``, which also logs the
commit's changes and runs auto-compaction. A second copy of those steps
drifts: the sink's old copy committed as ``write``, skipped the CDC
log and never compacted. This test walks ``starlake_spark/`` and fails
when a delta commit type is produced, or the CDC logger or the
auto-compaction trigger is called, anywhere else."""

import ast
import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "starlake_spark")

OWNER = "_commit_delta"
DELTA_TYPES = {"delta", "delete_delta", "mixed_delta"}
STEPS = ("_maybe_log_cdc", "_maybe_auto_compact")


def _trees():
    for root, _dirs, files in os.walk(PKG):
        for fn in sorted(files):
            if fn.endswith(".py"):
                path = os.path.join(root, fn)
                yield (os.path.relpath(path, PKG),
                       ast.parse(open(path, encoding="utf-8").read(), path))


def _parents(tree) -> dict:
    return {child: node for node in ast.walk(tree)
            for child in ast.iter_child_nodes(node)}


def _function_of(node, parents) -> str:
    while node in parents:
        node = parents[node]
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            return node.name
    return "<module>"


def _is_read(node, parents) -> bool:
    """A commit-type literal that is only compared against (reader
    branches) or keys a lookup table (CDF labels)."""
    parent = parents.get(node)
    if isinstance(parent, ast.Dict) and any(k is node for k in parent.keys):
        return True
    while node in parents:
        node = parents[node]
        if isinstance(node, ast.Compare):
            return True
        if isinstance(node, (ast.stmt, ast.Call)):
            return False
    return False


def test_delta_commit_types_produced_in_one_function():
    producers = {}
    for rel, tree in _trees():
        parents = _parents(tree)
        for node in ast.walk(tree):
            if (isinstance(node, ast.Constant) and node.value in DELTA_TYPES
                    and not _is_read(node, parents)):
                fn = _function_of(node, parents)
                producers.setdefault(f"{rel}:{fn}", set()).add(node.value)
    assert producers == {f"operators/dml.py:{OWNER}": DELTA_TYPES}


def test_cdc_log_and_auto_compaction_called_only_by_delta_commit():
    calls = {name: [] for name in STEPS}
    for rel, tree in _trees():
        parents = _parents(tree)
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call):
                continue
            f = node.func
            name = f.id if isinstance(f, ast.Name) else \
                f.attr if isinstance(f, ast.Attribute) else None
            if name in calls:
                calls[name].append(f"{rel}:{_function_of(node, parents)}")
    assert calls == {name: [f"operators/dml.py:{OWNER}"] for name in STEPS}
