"""Static lint over the driver-facing workload registry.

The driver comparator hashes cell values after sorting columns by name;
it crashes on list cells and distinguishes int64 from float64 renderings
(round-3 postmortem). This lint catches the whole class at pytest time,
before a workload ever reaches the driver:

1. every workload's Spark OUTPUT SCHEMA is scalar-only — no
   array/map/struct/binary columns (md5/array_join them per the xhash
   rule in ``operators/xhash.py``);
2. the priority window is well-formed: 50 unique, registered names;
3. every top-level definition in ``operators/`` is reached from a
   workload, the SQL/``EngineSession`` surface or another reached
   operator — no orphan operator code (Spark-free AST pass).

Schema checks need analysis only (no job execution) for pure-plan
workloads; iterative builders (pagerank, clusters) run their bounded
driver loops at sf0.001, which is cheap.
"""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import types as T

from etl_lealone_spark.workloads import _PRIORITY, all_workloads

_FORBIDDEN = (T.ArrayType, T.MapType, T.StructType, T.BinaryType)


def test_priority_window_well_formed():
    wl = all_workloads()
    assert len(_PRIORITY) == len(set(_PRIORITY)), "duplicate priority entries"
    missing = [n for n in _PRIORITY if n not in wl]
    assert not missing, f"priority names not registered: {missing}"
    # the driver reads exactly the first 50 registry entries
    assert len(wl) >= 50


@pytest.fixture(scope="module")
def workload_schemas(spark, sf_dir):
    out = {}
    for name, w in all_workloads().items():
        out[name] = w.build(spark, sf_dir).schema
    return out


def test_all_outputs_scalar_only(workload_schemas):
    bad = []
    for name, schema in workload_schemas.items():
        for f in schema.fields:
            if isinstance(f.dataType, _FORBIDDEN):
                bad.append(f"{name}.{f.name}: {f.dataType.simpleString()}")
    assert not bad, (
        "non-scalar driver-facing output columns (driver comparator "
        f"crashes on these — md5/array_join them): {bad}"
    )


def test_all_outputs_no_unaliased_aggregates(workload_schemas):
    # an un-aliased aggregate surfaces as e.g. `sum(l_quantity)` and can
    # never hash-match the oracle's alias
    bad = [
        f"{name}.{f.name}"
        for name, schema in workload_schemas.items()
        for f in schema.fields
        if "(" in f.name
    ]
    assert not bad, f"un-aliased computed columns: {bad}"


_PKG = Path(__file__).resolve().parent.parent / "etl_lealone_spark"

# Unreached operators that tests keep as a reference, a measurement or a
# tested codec. What an allow-listed name uses counts as reached.
_ORPHAN_ALLOW = {
    "ivf_topk": "exact reference test_similarity checks IvfIndex against",
    "bpe_encode_expr": "expression form test_bpe checks the Arrow encoder against",
    "file_prune_fraction": "test_layout measures z-order file pruning with it",
    "bloom_semi_join": "pins the composed Bloom build-and-probe contract in tests",
    "audio_stats_features": "WAV decode + clip statistics, pinned by test_audio",
    "audio_resample": "WAV resample + encode, pinned by test_audio",
}


def _referenced_names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
            out.add(n.asname or n.name)
    return out


def _operator_defs_and_roots() -> tuple[dict[str, list[ast.AST]], set[str]]:
    """Top-level ``operators/`` functions, classes and assigned names, and
    the names the roots reference. Roots: every module outside
    ``operators/`` plus the module-level code of ``operators/``."""
    defs: dict[str, list[ast.AST]] = {}
    roots: set[str] = set()
    for path in _PKG.rglob("*.py"):
        tree = ast.parse(path.read_text(), str(path))
        if path.parent.name != "operators":
            roots |= _referenced_names(tree)
            continue
        for st in tree.body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                names = [st.name]
            elif isinstance(st, ast.Assign) and all(
                isinstance(t, ast.Name) for t in st.targets
            ):
                names = [t.id for t in st.targets]
            elif isinstance(st, ast.AnnAssign) and isinstance(st.target, ast.Name):
                names = [st.target.id]
            else:
                roots |= _referenced_names(st)
                continue
            for name in names:
                defs.setdefault(name, []).append(st)
    return defs, roots


def _reached(defs: dict[str, list[ast.AST]], start: set[str]) -> set[str]:
    """Definitions reachable from ``start``; a reached definition reaches
    every definition it names. Name-based, so it can only over-count
    what is reached."""
    reached: set[str] = set()
    todo = list(start & defs.keys())
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            for node in defs[name]:
                todo.extend(_referenced_names(node) & defs.keys())
    return reached


def test_no_orphan_operator_definitions():
    defs, roots = _operator_defs_and_roots()
    unreached = defs.keys() - _reached(defs, roots)
    kept = _reached(defs, roots | _ORPHAN_ALLOW.keys())
    orphans = sorted(defs.keys() - kept)
    assert not orphans, (
        "operators/ definitions that no workload, SQL surface or reached "
        f"operator uses — delete them with their tests: {orphans}"
    )
    stale = sorted(_ORPHAN_ALLOW.keys() - unreached)
    assert not stale, f"allow-listed names now reached or gone — drop them: {stale}"
