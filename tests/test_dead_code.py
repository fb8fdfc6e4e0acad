"""Static guards against code that nothing runs, options that only ever
take one value, and exceptions that outlive what they excuse. AST and
imports only: no Spark starts."""

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
    """Every identifier a tree uses, names and attributes, outside the
    subtree ``skip``. An import is not a use: a name imported and never
    used does not keep a function alive."""
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


def test_package_imports_are_used():
    """Every name an import binds is used in the scope that imports it: the
    module for a top-level import, the function for a local one. A
    package ``__init__`` re-exports what its ``__all__`` lists, and an
    import marked ``noqa: F401`` is kept on purpose."""
    unused = []
    for f in _py_files(PKG):
        tree = _parse(f)
        with open(f) as fh:
            lines = fh.read().splitlines()
        exported = set()
        for node in tree.body:
            if isinstance(node, ast.Assign) and any(
                isinstance(t, ast.Name) and t.id == "__all__" for t in node.targets
            ):
                exported = set(ast.literal_eval(node.value))
        scopes = [tree] + [
            n for n in ast.walk(tree) if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))
        ]
        for scope in scopes:
            body = scope.body
            imports = [
                n
                for stmt in body
                for n in ast.walk(stmt)
                if isinstance(n, (ast.Import, ast.ImportFrom))
                and getattr(n, "module", None) != "__future__"
                and _scope_of(n, scope)
            ]
            if not imports:
                continue
            used = _names(scope) | exported
            for imp in imports:
                if any("noqa: F401" in ln for ln in lines[imp.lineno - 1 : imp.end_lineno]):
                    continue
                for a in imp.names:
                    bound = a.asname or a.name.split(".")[0]
                    if bound not in used:
                        rel = os.path.relpath(f, PKG).replace(os.sep, "/")
                        unused.append(f"{rel}:{imp.lineno} {bound}")
    assert not unused, f"imports nothing uses: {unused}"


def _scope_of(node: ast.AST, scope: ast.AST) -> bool:
    """True when ``node`` sits in ``scope`` itself, not in a function nested
    inside it."""
    stack = list(ast.iter_child_nodes(scope))
    while stack:
        n = stack.pop()
        if n is node:
            return True
        if not isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
            stack.extend(ast.iter_child_nodes(n))
    return False


def _options(tree: ast.Module):
    """``(def, parameter, default, position)`` for every parameter with a
    default in every ``def`` of ``tree``, module-level, method or nested.
    ``position`` is the index a positional argument takes at a call, not
    counting a method's ``self``; None for keyword-only parameters."""
    out = []

    def visit(node: ast.AST, in_class: bool) -> None:
        for ch in ast.iter_child_nodes(node):
            if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef)):
                a = ch.args
                pos = a.posonlyargs + a.args
                static = any(
                    isinstance(d, ast.Name) and d.id == "staticmethod" for d in ch.decorator_list
                )
                skip = 1 if in_class and pos and not static else 0
                first = len(pos) - len(a.defaults)
                for i, d in enumerate(a.defaults):
                    out.append((ch, pos[first + i].arg, d, first + i - skip))
                for arg, d in zip(a.kwonlyargs, a.kw_defaults):
                    if d is not None:
                        out.append((ch, arg.arg, d, None))
                visit(ch, False)
            else:
                visit(ch, isinstance(ch, ast.ClassDef))

    visit(tree, False)
    return out


def _literal(node: ast.AST):
    try:
        v = ast.literal_eval(node)
    except (ValueError, TypeError):
        return None
    return type(v), v


def _one_value_options() -> list[tuple[str, str, str]]:
    """``(file, function, parameter)`` of every package option with one
    value in use.

    A call passes an option when its bare function name, or the name an
    ``import ... as`` alias stands for, matches the ``def`` and it gives
    that parameter by keyword or by position; a call that unpacks
    ``*args`` or ``**kwargs`` passes every option. Calls come
    from the package, ``__spark_entry__.py``, the benchmark, the scripts
    and the tests. An option has one value in use when no call passes it,
    or every call passes the literal that is its default. An argument
    that is itself such an option of the calling function counts as its
    default, so the search repeats until nothing changes."""
    sources = _py_files(PKG, *(os.path.join(ROOT, d) for d in ("perfbench", "scripts", "tests")))
    trees = {f: _parse(f) for f in sources + [os.path.join(ROOT, "__spark_entry__.py")]}
    opts = []
    for f in _py_files(PKG):
        rel = os.path.relpath(f, PKG).replace(os.sep, "/")
        opts += [(rel, *o) for o in _options(trees[f])]
    calls = []  # (callee name, call, enclosing def)
    for tree in trees.values():
        alias = {
            a.asname: a.name
            for n in ast.walk(tree)
            if isinstance(n, ast.ImportFrom)
            for a in n.names
            if a.asname
        }
        stack = [(tree, None)]
        while stack:
            node, encl = stack.pop()
            if isinstance(node, ast.Call):
                fn = node.func
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                if name:
                    calls.append((alias.get(name, name), node, encl))
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                encl = node
            stack.extend((ch, encl) for ch in ast.iter_child_nodes(node))
    by_name: dict[str, list] = {}
    for c in calls:
        by_name.setdefault(c[0], []).append(c)
    defaults = {(id(fn), p): d for _, fn, p, d, _ in opts}

    one: set = set()

    def value(arg: ast.AST, encl):
        if isinstance(arg, ast.Name) and (id(encl), arg.id) in one:
            return _literal(defaults[(id(encl), arg.id)])
        return _literal(arg)

    while True:
        found = set()
        for _, fn, p, d, pos in opts:
            default, single = _literal(d), True
            for _, call, encl in by_name.get(fn.name, []):
                if any(isinstance(a, ast.Starred) for a in call.args) or any(
                    k.arg is None for k in call.keywords
                ):
                    single = False
                    break
                passed = [k.value for k in call.keywords if k.arg == p]
                if not passed and pos is not None and pos < len(call.args):
                    passed = [call.args[pos]]
                if passed and (default is None or value(passed[0], encl) != default):
                    single = False
                    break
            if single:
                found.add((id(fn), p))
        if found == one:
            break
        one = found
    return sorted(
        (rel, fn.name, p) for rel, fn, p, _, _ in opts if (id(fn), p) in one
    )


def test_every_option_takes_more_than_one_value():
    """A parameter default is an option only while some caller, a test
    included, sets it to another value. One with a single value in use is
    a constant, and the function should say so."""
    single = _one_value_options()
    assert not single, f"{len(single)} options with one value in use: {single}"


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
