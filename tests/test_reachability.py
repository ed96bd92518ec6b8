"""Reachability gate: every top-level def or class in ``rkmh_spark/`` is
reached from a query, bench or pipeline path, or is kept on purpose.

Pure AST, no Spark. The roots are the names used in ``__spark_entry__.py``,
``bench*.py``, ``perfbench/`` and the module-level code of the package; a
def is reached when its name is used by a root or by the body of a def
that is itself reached. So a def used only inside its own body, or only by
another unreached def, is unreached. A bare re-export in an ``__init__.py``
is not a use. Tests are not roots: a def that only its own tests call is
dead weight unless ``KEEP`` names it with a reason.
"""

from __future__ import annotations

import ast
from collections import defaultdict
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "rkmh_spark"

# name -> why it stays although no query, bench or pipeline path calls it.
KEEP = {
    # rkmh reference-parity APIs (rows in COVERAGE.md), reached from tests.
    "vowpal_wabbit_lines": "rkmh -V Vowpal Wabbit sketch export (COVERAGE S11)",
    "ranked_similarity": "rkmh ranked similarity listing (COVERAGE J3)",
    "vcf_header": "rkmh VCF sink header block (COVERAGE S9)",
    "approx_hash_depth_cms": "rkmh approximate hash depth, count-min (COVERAGE A5)",
    # Independent oracles that tests check production paths against.
    "search_hashes_relational": "relational oracle of the hash-search kernel",
    "oracle_sketches_min_occ": "oracle of the min-occurrence sketches",
    "oracle_clusters": "oracle of the cluster assignments",
    "hash_depth_table": "exact oracle of approx_hash_depth_cms",
    "simhash64": "independent XXH64 SimHash oracle of the Spark SimHash pass",
    "murmur3_scalar": "scalar murmur3 oracle of the vectorized kernel",
    # Public entry points with no in-repo caller but a documented use.
    "classify_file_stream": "stream entry point (rkmh stream classify)",
    "incremental_dedup_stream": "stream entry point (incremental dedup)",
    "pages_dataframe": "synthetic pages fixture generator of the tests and README",
}


def _names(node: ast.AST) -> set[str]:
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, (ast.Import, ast.ImportFrom)):
            out.update(a.name.rsplit(".", 1)[-1] for a in n.names)
    return out


def _scan():
    """(defs, root names, body names per def name)."""
    defs: dict[str, list[str]] = defaultdict(list)
    bodies: dict[str, set[str]] = defaultdict(set)
    roots: set[str] = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        for node in ast.parse(path.read_text(), rel).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs[node.name].append(rel)
                bodies[node.name] |= _names(node)
            elif not (path.name == "__init__.py" and isinstance(node, ast.ImportFrom)):
                roots |= _names(node)
    callers = [ROOT / "__spark_entry__.py", *ROOT.glob("bench*.py")]
    callers += sorted((ROOT / "perfbench").rglob("*.py"))
    for path in callers:
        roots |= _names(ast.parse(path.read_text(), str(path)))
    return defs, roots, bodies


def test_every_package_def_is_reached():
    defs, roots, bodies = _scan()
    stale = KEEP.keys() - defs.keys()
    assert not stale, f"KEEP names no def: {sorted(stale)}"
    live: set[str] = set()
    frontier = (roots | KEEP.keys()) & defs.keys()
    while frontier:
        live |= frontier
        used = set().union(*(bodies[name] for name in frontier))
        frontier = (used & defs.keys()) - live
    dead = sorted(f"{rel}:{name}" for name in defs.keys() - live for rel in defs[name])
    assert not dead, (
        "defs that no query, bench or pipeline path reaches; delete them, "
        "or add them to KEEP with a one-line reason:\n  " + "\n  ".join(dead)
    )
