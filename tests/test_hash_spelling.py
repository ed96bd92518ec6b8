"""One-spelling gate for page-text hashing: ``functions/shingles.py`` owns
the only loop that turns text into murmur hashes (``hash_texts``), and
every package kernel reads it.

Pure AST, no Spark, like test_reachability. ``shingle_hashes`` stays as
the per-text reference that the oracles compare against, so only the
oracle modules may call it; ``murmur3_x64_128_low64`` is called only by
the shingle module itself.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "rkmh_spark"

ALLOWED = {
    "murmur3_x64_128_low64": {"rkmh_spark/functions/shingles.py"},
    "shingle_hashes": {
        "rkmh_spark/functions/shingles.py",
        "rkmh_spark/oracle.py",
        "rkmh_spark/oracle_literals.py",
    },
}


def _called(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _callers() -> dict[str, set[str]]:
    """callee name -> package modules that call it."""
    out: dict[str, set[str]] = {name: set() for name in ALLOWED}
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for node in ast.walk(ast.parse(path.read_text(), rel)):
            if isinstance(node, ast.Call) and _called(node) in out:
                out[_called(node)].add(rel)
    return out


def test_page_text_is_hashed_in_one_place():
    stray = {
        name: sorted(mods - ALLOWED[name]) for name, mods in _callers().items()
    }
    stray = {name: mods for name, mods in stray.items() if mods}
    assert not stray, (
        "hash page text through functions.shingles.hash_texts, not here: "
        f"{stray}"
    )


def test_sketch_batch_does_not_branch_on_k():
    tree = ast.parse((PACKAGE / "functions" / "shingles.py").read_text())
    (fn,) = [
        n
        for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "sketch_texts_batch"
    ]
    calls = [_called(n) for n in ast.walk(fn) if isinstance(n, ast.Call)]
    assert "isinstance" not in calls
