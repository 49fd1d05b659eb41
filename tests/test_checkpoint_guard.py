"""Materialization has one owner (etl_java_spark/plans/checkpoints.py).

Spark-free: scans the package source with ``ast``. Every other module
materializes through ``materialize``/``make_checkpointer``, caches only
through ``pin`` and releases through ``release``, and the
local-vs-reliable choice is the session's ``spark.checkpoint.dir``, not a
per-operator option."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parents[1] / "etl_java_spark"
OWNER = PKG / "plans" / "checkpoints.py"


def _trees():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG.parent), ast.parse(path.read_text(), str(path))


def test_only_the_checkpoints_module_materializes_or_releases():
    owner = OWNER.relative_to(PKG.parent)
    bad = [
        f"{path}:{node.lineno} .{node.func.attr}()"
        for path, tree in _trees()
        if path != owner
        for node in ast.walk(tree)
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr
        in {"localCheckpoint", "checkpoint", "persist", "cache", "unpersist"}
    ]
    assert not bad, "materialize/pin/release through plans/checkpoints.py:\n" + "\n".join(bad)


def test_no_public_function_declares_checkpoint_dir():
    bad = [
        f"{path}:{node.lineno} {node.name}"
        for path, tree in _trees()
        for node in ast.walk(tree)
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and not node.name.startswith("_")
        and any(
            a.arg == "checkpoint_dir"
            for a in node.args.posonlyargs + node.args.args + node.args.kwonlyargs
        )
    ]
    assert not bad, "checkpoint_dir is a session setting (spark.checkpoint.dir):\n" + "\n".join(bad)
