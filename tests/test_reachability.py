"""Reachability gate: every top-level def or class in ``rkmh_spark/`` is
reached from a query, bench or pipeline path, or is kept on purpose.

Pure AST, no Spark. The roots are the names used in ``__spark_entry__.py``,
``bench*.py``, ``perfbench/`` and the module-level code of the package; a
def is reached when its name is used by a root or by the body of a def
that is itself reached. So a def used only inside its own body, or only by
another unreached def, is unreached. A bare re-export in an ``__init__.py``
is not a use. Tests are not roots: a def that only its own tests call is
dead weight unless ``KEEP`` names it with a reason.

The option gate applies the same idea to parameters: every defaulted
parameter of a package def must be set by some call, or ``OPTION_KEEP``
names it with a reason. A value no caller ever changes is a constant.
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


# "def(param)" -> why the default stays although no call sets it.
OPTION_KEEP = {
    # Oracle parameters: the oracles run at their defaults, and the
    # parameter names the production value they replay.
    "_pipeline(cfg)": "NumPy oracle pipeline; cfg names the config it replays",
    "two_tier_classify_sql(cfg)": "two-tier oracle; cfg names the config it replays",
    "bpe_merges(n_merges)": "BPE oracle merge table; the query and the oracle share it",
    "winnow_fingerprints_sql(seed)": "winnowing oracle; seed names the murmur seed it replays",
    "simhash64(seed)": "XXH64 SimHash oracle; seed names the xxhash64 seed it replays",
    # Deployment settings: a deployment sets them, the tests run one
    # stream or one run at a time.
    "CheckpointManager(run_id)": "tags the manifests of one run among several",
    "CheckpointManager(namespace)": "catalog namespace of the iceberg stage tables",
    "classify_file_stream(available_now)": "False runs the stream continuously",
    "incremental_dedup_stream(available_now)": "False runs the stream continuously",
    "incremental_dedup_stream(cms)": "the stream's Count-Min -M counter",
}


def _defaulted(fn: ast.FunctionDef, method: bool) -> list[tuple[str, int | None]]:
    """(name, positional index) of each defaulted parameter; keyword-only
    ones have index None. A method's index does not count ``self``."""
    a = fn.args
    pos = a.posonlyargs + a.args
    static = any(
        isinstance(d, ast.Name) and d.id == "staticmethod" for d in fn.decorator_list
    )
    if method and pos and not static:
        pos = pos[1:]
    first = len(pos) - len(a.defaults)
    out = [(p.arg, first + i) for i, p in enumerate(pos[first:])]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _options() -> list[tuple[str, str, str, int | None]]:
    """(module, def name, parameter, index) of every defaulted parameter of
    a package def; a class's ``__init__`` is called by the class name."""
    out = []

    def visit(node, rel, cls=None):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, ast.ClassDef):
                visit(child, rel, child.name)
            elif isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                name = cls if cls and child.name == "__init__" else child.name
                for param, idx in _defaulted(child, cls is not None):
                    out.append((rel, name, param, idx))
                visit(child, rel)
            else:
                visit(child, rel, cls)

    for path in sorted(PACKAGE.rglob("*.py")):
        rel = str(path.relative_to(ROOT))
        visit(ast.parse(path.read_text(), rel), rel)
    return out


def _calls() -> dict[str, list[tuple[int, set[str], bool]]]:
    """callee name -> (positional count, keyword names, uses * or **) per
    call in the package, the query, bench and benchmark callers, the plan
    dumper and the tests."""
    files = sorted(PACKAGE.rglob("*.py"))
    files += [ROOT / "__spark_entry__.py", *sorted(ROOT.glob("bench*.py"))]
    for d in ("perfbench", "plans", "tests"):
        files += sorted((ROOT / d).rglob("*.py"))
    calls: dict[str, list] = defaultdict(list)
    for path in files:
        for n in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(n, ast.Call):
                continue
            f = n.func
            name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
            if name is None:
                continue
            star = any(isinstance(a, ast.Starred) for a in n.args) or any(
                k.arg is None for k in n.keywords
            )
            npos = sum(not isinstance(a, ast.Starred) for a in n.args)
            calls[name].append((npos, {k.arg for k in n.keywords}, star))
    return calls


def test_every_option_is_set():
    calls = _calls()
    unset = {}
    for rel, name, param, idx in _options():
        if not any(
            star or param in kws or (idx is not None and npos > idx)
            for npos, kws, star in calls.get(name, [])
        ):
            unset[f"{name}({param})"] = rel
    stale = OPTION_KEEP.keys() - unset.keys()
    assert not stale, f"OPTION_KEEP names a parameter that is set or gone: {sorted(stale)}"
    never = sorted(f"{rel}:{key}" for key, rel in unset.items() if key not in OPTION_KEEP)
    assert not never, (
        f"{len(never)} defaulted parameters that no call sets; make each "
        "the constant it always is, or add it to OPTION_KEEP with a "
        "one-line reason:\n  " + "\n  ".join(never)
    )
