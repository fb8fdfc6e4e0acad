"""Static guards against code that nothing runs, and against exceptions
that outlive what they excuse. AST and imports only: no Spark starts."""

from __future__ import annotations

import ast
import importlib.util
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "super_store_datawarehouse_spark")
GUARDED = ("operators", "streaming", "sources", "functions")

# Public functions kept with no caller yet, each with the planned caller.
UNREFERENCED_OK = {
    ("sources/sinks.py", "write_rejects"):
        "write_warehouse will count malformed rows as rejects for all six facts",
    ("sources/sinks.py", "write_with_metrics"):
        "write_warehouse will observe its quality counters on the writes that run",
}

# Public functions that only their own tests reach, kept for now because
# those tests pin behaviour (exactly-once replay, crash recovery, merge
# algebra) that a change deleting them must retire together with them:
# ROADMAP item 5 lists them. Each reason names what the tests pin.
UNREFERENCED_OK.update({
    ("operators/cdc.py", "new_rows_only"): "anti-join idempotent append",
    ("operators/incremental.py", "build_partials"): "partial aggregates merge to the full recompute",
    ("operators/incremental.py", "merge_partials"): "partial aggregates merge to the full recompute",
    ("sources/sinks.py", "compact_parquet"): "compaction survives a crash at every step",
    ("sources/translog.py", "txn_compact"): "compaction keeps rows and old readers",
    ("sources/translog.py", "txn_diff_versions"): "version diff reports churn and schema drift",
    ("sources/translog.py", "txn_scan"): "stats pruning equals the full filter",
    ("sources/translog.py", "txn_upsert"): "latest version wins in a transactional upsert",
    ("sources/translog.py", "txn_vacuum"): "retention drops history, never the head",
    ("streaming/jobs.py", "stream_bloom_dedup_to_parquet"): "key-format token guards Bloom state resume",
    ("streaming/jobs.py", "stream_countmin_to_parquet"): "exactly-once count-min sink, in-state marker",
    ("streaming/jobs.py", "stream_dq_monitor"): "idempotent replay of data-quality counts",
    ("streaming/jobs.py", "stream_drift_monitor"): "drift flags on shifted value distributions",
    ("streaming/jobs.py", "stream_hll_to_parquet"): "HLL registers equal the batch sketch",
    ("streaming/jobs.py", "stream_ivf_index_update"): "IVF index append resumes exactly once after a crash",
    ("streaming/jobs.py", "stream_misra_gries_to_parquet"): "heavy-hitter guarantee and atomic replay guard",
    ("streaming/jobs.py", "stream_pq_index_update"): "PQ index append resumes exactly once after a crash",
    ("streaming/jobs.py", "stream_sessionize_to_parquet"): "finalized sessions equal the batch sessionizer",
})


def _py_files(*dirs: str) -> list[str]:
    out = []
    for d in dirs:
        for dirpath, _, names in os.walk(d):
            out += [os.path.join(dirpath, n) for n in names if n.endswith(".py")]
    return sorted(out)


def _parse(path: str) -> ast.Module:
    with open(path) as fh:
        return ast.parse(fh.read())


def _names(tree: ast.AST, skip: ast.AST | None = None) -> set[str]:
    """Every identifier a tree uses: names, attributes and imported names,
    outside the subtree ``skip``."""
    out: set[str] = set()
    stack = [tree]
    while stack:
        node = stack.pop()
        if node is skip:
            continue
        if isinstance(node, ast.Name):
            out.add(node.id)
        elif isinstance(node, ast.Attribute):
            out.add(node.attr)
        elif isinstance(node, ast.ImportFrom):
            out.update(a.name for a in node.names)
        stack.extend(ast.iter_child_nodes(node))
    return out


def test_public_functions_are_referenced_outside_tests():
    """Every public function of the guarded subpackages is used by the
    package itself, ``__spark_entry__.py``, the benchmark or a script. Tests
    do not count: a function only its own tests call is dead code."""
    trees = {f: _parse(f) for f in _py_files(PKG)}
    users: set[str] = set()
    for f in [os.path.join(ROOT, "__spark_entry__.py")] + _py_files(
        os.path.join(ROOT, "perfbench"), os.path.join(ROOT, "scripts")
    ):
        users |= _names(_parse(f))
    whole = {f: _names(t) for f, t in trees.items()}

    unreferenced = []
    for f, tree in trees.items():
        rel = os.path.relpath(f, PKG)
        if rel.split(os.sep)[0] not in GUARDED:
            continue
        for node in tree.body:
            if not isinstance(node, ast.FunctionDef) or node.name.startswith("_"):
                continue
            used = node.name in users or node.name in _names(tree, skip=node) or any(
                node.name in names for g, names in whole.items() if g != f
            )
            if not used:
                unreferenced.append((rel.replace(os.sep, "/"), node.name))

    dead = sorted(set(unreferenced) - set(UNREFERENCED_OK))
    assert not dead, f"public functions only tests reach: {dead}"
    stale = sorted(set(UNREFERENCED_OK) - set(unreferenced))
    assert not stale, f"exemptions for functions that are gone or now used: {stale}"


def _script(name: str):
    spec = importlib.util.spec_from_file_location(
        f"_audit_{name}", os.path.join(ROOT, "scripts", f"{name}.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.parametrize("script", ["plan_audit", "broadcast_audit"])
def test_audit_allowlist_names_only_registered_queries(script, monkeypatch, capsys):
    """An allowlisted query must still be registered, and the audit exits 1
    (before it starts Spark) when one is not."""
    from super_store_datawarehouse_spark.plans import HARNESS

    mod = _script(script)
    assert set(mod.ALLOW) <= set(HARNESS), sorted(set(mod.ALLOW) - set(HARNESS))

    monkeypatch.setattr(mod, "ALLOW", {**mod.ALLOW, "x0_retired_query": "gone"})
    monkeypatch.setattr(sys, "argv", [script, os.path.join(ROOT, "no-such-sf-dir")])
    assert mod.main() == 1
    assert "x0_retired_query" in capsys.readouterr().out


def test_sweep_declared_lists_name_only_registered_queries():
    from super_store_datawarehouse_spark.plans import HARNESS

    mod = _script("sweep_registry")
    declared = set(mod.DECLARED_SLOW) | set(mod.TIMEOUT_OVERRIDES)
    assert declared <= set(HARNESS), sorted(declared - set(HARNESS))
