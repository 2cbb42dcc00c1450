"""Memo-warmer contract (r14 verdict item 7, made executable).

The declared rule for ``io.register_memo_warmer`` is that a memo may only
be built in the untimed warm-up stage when SEVERAL registered queries
consume it — a single-consumer memo is that query's own work and warming
it would just relabel query cost as warm-up (bench accounting gaming).
Until now the rule lived in docstrings; this test enforces it
mechanically: every ``_cached_*`` accessor that a ``_warm_*`` function
warms must have >= 2 call sites outside (a) its own definition, (b) any
warmer body, and (c) test/tool code. Calls from another ``_cached_*``
accessor count as one site (that accessor has consumers of its own,
which this same test checks).

Every function is identified by its module and name: a call resolves
through the calling module's own top-level definitions, its
``from … import name`` imports and its ``import … as alias`` /
``from package import module as alias`` attribute calls. A same-named
function in another module is never mistaken for a consumer.
"""

from __future__ import annotations

import ast
import os
from collections import defaultdict

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OPERATOR_ROOT = os.path.join(REPO_ROOT, "demo_etl_spark")

Func = tuple[str, str]  # (dotted module, function name)


def _module_trees() -> dict[str, ast.Module]:
    out = {}
    for root, _dirs, files in os.walk(OPERATOR_ROOT):
        for f in files:
            if f.endswith(".py"):
                p = os.path.join(root, f)
                mod = os.path.relpath(p, REPO_ROOT)[: -len(".py")].replace(os.sep, ".")
                with open(p) as fh:
                    out[mod.removesuffix(".__init__")] = ast.parse(fh.read())
    return out


def _bindings(tree: ast.Module, modules: set[str]) -> tuple[dict[str, str], dict[str, Func]]:
    """Names a module binds by import anywhere in its body: module
    aliases (alias -> module) and imported functions (name -> Func)."""
    mod_alias: dict[str, str] = {}
    imported: dict[str, Func] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                if a.asname and a.name in modules:
                    mod_alias[a.asname] = a.name
        elif isinstance(node, ast.ImportFrom) and node.module:
            for a in node.names:
                local = a.asname or a.name
                sub = f"{node.module}.{a.name}"
                if sub in modules:
                    mod_alias[local] = sub
                elif node.module in modules:
                    imported[local] = (node.module, a.name)
    return mod_alias, imported


def _called_funcs(node: ast.AST, mod: str, defs: set[str],
                  mod_alias: dict[str, str], imported: dict[str, Func]) -> set[Func]:
    out = set()
    for sub in ast.walk(node):
        if not isinstance(sub, ast.Call):
            continue
        fn = sub.func
        if isinstance(fn, ast.Name):
            if fn.id in defs:
                out.add((mod, fn.id))
            elif fn.id in imported:
                out.add(imported[fn.id])
        elif (isinstance(fn, ast.Attribute) and isinstance(fn.value, ast.Name)
              and fn.value.id in mod_alias):
            out.add((mod_alias[fn.value.id], fn.attr))
    return out


def test_every_warmed_memo_has_at_least_two_consumers():
    trees = _module_trees()
    warmed: set[Func] = set()  # _cached_* accessors invoked from a warmer
    consumers: dict[Func, set[str]] = defaultdict(set)  # accessor -> call sites
    # function -> its call sites (for one level of wrapper propagation: a
    # registered builder like build_simhash is both a consumer seat and
    # the accessor other seats go through)
    callers_of: dict[Func, set[str]] = defaultdict(set)
    direct_callers: dict[Func, set[Func]] = defaultdict(set)

    for mod, tree in trees.items():
        mod_alias, imported = _bindings(tree, set(trees))
        # top-level function defs only (operator modules are flat)
        funcs = [n for n in tree.body
                 if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef))]
        defs = {n.name for n in funcs}
        for node in funcs:
            called = _called_funcs(node, mod, defs, mod_alias, imported)
            cached_called = {f for f in called if f[1].startswith("_cached_")}
            if node.name.startswith("_warm_"):
                warmed |= cached_called
                continue  # warmer bodies are not consumers
            site = f"{mod}:{node.name}"
            for f in called:
                callers_of[f].add(site)
            for f in cached_called:
                if f == (mod, node.name):
                    continue  # the accessor's own recursion/def
                consumers[f].add(site)
                direct_callers[f].add((mod, node.name))

    assert warmed, "no warmed memos found — warmer scan is broken"
    offenders = {}
    for f in sorted(warmed):
        sites = set(consumers.get(f, set()))
        # one level of propagation: seats consuming through a wrapper
        # (e.g. method_agreement -> build_simhash -> _cached_simhash_pairs)
        for wrapper in direct_callers.get(f, set()):
            sites |= callers_of.get(wrapper, set())
        if len(sites) < 2:
            offenders[".".join(f)] = sorted(sites)
    assert not offenders, (
        "memo(s) warmed in the untimed stage with < 2 registered consumers "
        f"(single-consumer memos must build in-query): {offenders}"
    )
