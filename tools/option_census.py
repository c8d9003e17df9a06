#!/usr/bin/env python3
"""Census of operator parameters that every caller sets to one value.

Scans, with ``ast`` only (nothing is imported or run):

- the functions in scope: every module-level function of
  ``logparse_rs_spark/operators/``, ``streaming/``, ``functions/``,
  ``plans/``, ``sources/`` and ``kernels.py`` (public ones and the private
  helpers they forward to);
- every call to them from the product callers (the package,
  ``__spark_entry__.py``, ``jobs/``, ``bench.py``, ``bench_extra.py``,
  ``tools/``, ``perfbench/``) and from ``tests/``.

A defaulted parameter is *single-valued* when every product call passes one
value or leaves the default, and no test passes another value. It *varies in
tests only* when every product call passes one value but a test passes
another: the rule counts product callers, so the report lists these rows as
information beside the single-valued ones. A value passed as a parameter of
an in-scope caller is *forwarded*: it counts the values of that parameter
instead. Values compare as literals when they are literals and as source
text otherwise, so ``k=K`` and ``k=5`` are two values even when ``K == 5``.

A value passed as a parameter of an out-of-scope function (``api.py``,
a query) is a value of its own, settable by that function's callers.

Kept out: a parameter that a file under ``perfbench/`` or ``bench.py``
passes (those callers are frozen). ``api.py`` and ``refimpl.py`` are
callers only: their signatures mirror the reference implementation's
Python API.

Usage: python3 tools/option_census.py [root] [--all]
Prints one markdown row per single-valued parameter and per parameter that
varies in tests only, and the totals;
``--all`` also lists every defaulted parameter with its values.
"""

from __future__ import annotations

import ast
import glob
import os
import sys
from collections import defaultdict

PKG = "logparse_rs_spark"
SCOPE = ("operators/*.py", "streaming/*.py", "functions/*.py", "plans/*.py",
         "sources/*.py", "kernels.py")
PRODUCT = (PKG + "/**/*.py", "__spark_entry__.py", "jobs/*.py", "bench.py",
           "bench_extra.py", "tools/*.py", "perfbench/**/*.py")
TESTS = ("tests/*.py",)
FROZEN_CALLERS = ("perfbench/", "bench.py")
SINGLE = "single-valued"
TESTS_ONLY = "varies in tests only"


def module_name(rel: str) -> str:
    mod = rel[:-3].replace(os.sep, ".")
    return mod[:-len(".__init__")] if mod.endswith(".__init__") else mod


def files(root: str, patterns) -> list:
    out = set()
    for pat in patterns:
        out.update(glob.glob(os.path.join(root, pat), recursive=True))
    return sorted(os.path.relpath(p, root) for p in out)


def value_key(node: ast.AST):
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return ast.unparse(node)


class Func:
    def __init__(self, mod: str, node):
        self.mod, self.name = mod, getattr(node, "name", "<lambda>")
        a = node.args
        pos = a.posonlyargs + a.args
        self.positional = [p.arg for p in pos]
        self.defaults = {}
        for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults):
            self.defaults[p.arg] = d
        for p, d in zip(a.kwonlyargs, a.kw_defaults):
            if d is not None:
                self.defaults[p.arg] = d
        self.params = set(self.positional) | {p.arg for p in a.kwonlyargs}

    @property
    def key(self):
        return (self.mod, self.name)


def imports_of(tree: ast.Module, mod: str) -> tuple:
    """(alias -> module, name -> (module, attr)) for the file's imports."""
    pkg_parts = mod.split(".")
    mods, names = {}, {}

    def absolute(level, module):
        if not level:
            return module or ""
        base = pkg_parts[:len(pkg_parts) - level]
        return ".".join(base + ([module] if module else []))

    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            for a in node.names:
                mods[a.asname or a.name.split(".")[0]] = (
                    a.name if a.asname else a.name.split(".")[0])
        elif isinstance(node, ast.ImportFrom):
            base = absolute(node.level, node.module)
            for a in node.names:
                local = a.asname or a.name
                mods[local] = f"{base}.{a.name}"
                names[local] = (base, a.name)
    return mods, names


def resolve(call: ast.Call, mod: str, mods: dict, names: dict, funcs: dict,
            by_name: dict):
    f = call.func
    if isinstance(f, ast.Name):
        if (mod, f.id) in funcs:
            return funcs[(mod, f.id)]
        if f.id in names and names[f.id] in funcs:
            return funcs[names[f.id]]
        return None
    if isinstance(f, ast.Attribute):
        dotted = []
        v = f.value
        while isinstance(v, ast.Attribute):
            dotted.append(v.attr)
            v = v.value
        if isinstance(v, ast.Name) and v.id in mods:
            target = ".".join([mods[v.id]] + dotted[::-1])
            return funcs.get((target, f.attr))
        cands = by_name.get(f.attr, [])
        if len(cands) == 1 and not isinstance(v, ast.Name):
            return cands[0]
    return None


def scan(root: str):
    funcs = {}
    for pat in SCOPE:
        for path in sorted(glob.glob(os.path.join(root, PKG, pat))):
            rel = os.path.relpath(path, root)
            tree = ast.parse(open(path).read())
            for node in tree.body:
                if isinstance(node, ast.FunctionDef):
                    fn = Func(module_name(rel), node)
                    funcs[fn.key] = fn
    by_name = defaultdict(list)
    for fn in funcs.values():
        by_name[fn.name].append(fn)

    # uses[(func, param)] = list of (value, caller_file, is_test)
    uses = defaultdict(list)
    frozen = set()
    opaque = set()   # called with *args/**kwargs, or referenced uncalled
    callers = [(p, False) for p in files(root, PRODUCT)]
    callers += [(p, True) for p in files(root, TESTS)]
    for rel, is_test in callers:
        tree = ast.parse(open(os.path.join(root, rel)).read())
        mod = module_name(rel)
        mods, names = imports_of(tree, mod)
        called = set()
        for call, _stack in _calls(tree.body, ()):
            called.add(id(call.func))
        for node in ast.walk(tree):
            if isinstance(node, (ast.Name, ast.Attribute)) \
                    and id(node) not in called \
                    and isinstance(node.ctx, ast.Load):
                fn = resolve(ast.Call(func=node, args=[], keywords=[]), mod,
                             mods, names, funcs, by_name)
                if fn is not None:
                    opaque.add(fn.key)
        for call, stack in _calls(tree.body, ()):
            fn = resolve(call, mod, mods, names, funcs, by_name)
            if fn is None:
                continue
            passed = {}
            for i, arg in enumerate(call.args):
                if isinstance(arg, ast.Starred):
                    opaque.add(fn.key)
                    break
                if i < len(fn.positional):
                    passed[fn.positional[i]] = arg
            for kw in call.keywords:
                if kw.arg is None:
                    opaque.add(fn.key)
                else:
                    passed[kw.arg] = kw.value
            if rel.startswith(FROZEN_CALLERS):
                frozen.update((fn.key, p) for p in passed)
            for p in fn.params:
                node = passed.get(p)
                if node is None and p not in fn.defaults:
                    continue
                val = ("lit", value_key(node if node is not None
                                        else fn.defaults[p]))
                if isinstance(node, ast.Name):
                    owner = next((f for f in reversed(stack)
                                  if node.id in Func(mod, f).params), None)
                    if owner is not None and (mod, owner.name) in funcs \
                            and owner in tree.body:
                        val = ("fwd", (mod, owner.name), node.id)
                    elif owner is not None:
                        val = ("lit", f"<param {mod}.{owner.name}"
                                      f"({node.id})>")
                uses[(fn.key, p)].append((val, rel, is_test))
    return funcs, uses, frozen, opaque


def _calls(body, stack):
    """(call, enclosing function defs) for every call under ``body``."""
    for node in body:
        yield from _walk(node, stack)


def _walk(node, stack):
    if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
        for d in getattr(node, "decorator_list", []) + node.args.defaults + [
                d for d in node.args.kw_defaults if d is not None]:
            yield from _walk(d, stack)
        inner = stack + (node,)
        body = node.body if isinstance(node.body, list) else [node.body]
        for n in body:
            yield from _walk(n, inner)
        return
    if isinstance(node, ast.Call):
        yield node, stack
    for child in ast.iter_child_nodes(node):
        yield from _walk(child, stack)


def values(uses, key, param, tests: bool, seen=None) -> set:
    """The value set of ``param`` over product calls (``tests`` False) or
    test calls, with forwarded values resolved; an unused parameter holds
    its default."""
    seen = seen or set()
    if (key, param) in seen:
        return set()
    seen = seen | {(key, param)}
    out = set()
    for val, _rel, is_test in uses.get((key, param), []):
        if val[0] == "fwd":
            out |= values(uses, val[1], val[2], tests, seen)
        elif is_test == tests:
            out.add(val[1])
    return out


def is_literal(v: str) -> bool:
    try:
        ast.literal_eval(v)
        return True
    except (ValueError, TypeError, SyntaxError, RecursionError):
        return False


def census(root: str):
    funcs, uses, frozen, opaque = scan(root)
    rows = []
    for key, fn in sorted(funcs.items()):
        # a private helper's required parameters count too: every value
        # they receive comes from the operators that forward to them
        params = [p for p in fn.positional + sorted(fn.params - set(
            fn.positional)) if p in fn.defaults or fn.name.startswith("_")]
        for p in params:
            prod = values(uses, key, p, False)
            if p in fn.defaults and not any(
                    not t for _v, _r, t in uses.get((key, p), [])):
                prod = prod | {value_key(fn.defaults[p])}
            test = values(uses, key, p, True)
            if (key, p) in frozen:
                status = "frozen caller"
            elif key in opaque:
                status = "called with **kwargs or by reference"
            elif len(prod) == 1 and (p in fn.defaults
                                     or is_literal(next(iter(prod)))):
                status = SINGLE if test <= prod else TESTS_ONLY
            else:
                status = "varies"
            rows.append((fn.mod, fn.name, p, sorted(prod), sorted(test),
                         status))
    return rows


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    root = os.path.abspath(args[0] if args else
                           os.path.dirname(os.path.dirname(
                               os.path.abspath(__file__))))
    rows = census(root)
    show_all = "--all" in sys.argv
    print("| module | function | parameter | product values | test values "
          "| status |")
    print("|---|---|---|---|---|---|")
    for mod, fn, p, prod, test, status in rows:
        if show_all or status in (SINGLE, TESTS_ONLY):
            print(f"| {mod.replace(PKG + '.', '')} | {fn} | {p} | "
                  f"{', '.join(prod)} | {', '.join(test)} | {status} |")
    single = [r for r in rows if r[5] == SINGLE]
    print(f"\nsingle-valued: {len(single)} parameters in "
          f"{len({(r[0], r[1]) for r in single})} functions; varies in "
          f"tests only: {sum(r[5] == TESTS_ONLY for r in rows)}; "
          f"parameters checked: {len(rows)}")


if __name__ == "__main__":
    main()
