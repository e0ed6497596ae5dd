"""Census of the defaulted parameters of the engine's public functions.

For every public def in ``gdal_spark/`` (module-level functions and the
public methods of public classes) this lists each parameter that has a
default, and whether any caller in the repository passes it a value other
than that default. It reads source only (``ast``): no Spark, no imports of
the engine.

A call site is matched to a def by the called name (``f(...)``,
``mod.f(...)``, or a name bound by ``from mod import f as g``; a class
name calls its ``__init__``), so two defs that share a name share their
callers. Calls through a name imported from outside the engine
(``np.clip(...)``, ``F.col(...)``) match nothing.

A keyword or positional argument counts as *set* unless it is the
default literal itself, or the caller's own parameter of the same
default that is never set in turn (a pass-through). ``*args`` at a call
site is taken to fill the required positional parameters that the call's
other positional arguments leave open; ``**kwargs`` counts as setting
every defaulted parameter.

Run from the root of a checkout::

    python3 scripts/option_census.py

Each def prints one line per defaulted parameter
(``set`` / ``never set``, then the default); the last lines are the
totals, overall and for parameters whose default is a string.
"""

from __future__ import annotations

import ast
import os
import sys
from collections import defaultdict

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ENGINE = "gdal_spark"
CALLERS = [ENGINE, "scripts", "bench.py", "__spark_entry__.py", "perfbench", "tests"]

_UNKNOWN = object()


def _py_files(rel: str):
    path = os.path.join(ROOT, rel)
    if os.path.isfile(path):
        yield path
        return
    for d, dirs, files in os.walk(path):
        dirs[:] = sorted(x for x in dirs if not x.startswith((".", "__pycache__")))
        for f in sorted(files):
            if f.endswith(".py"):
                yield os.path.join(d, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _value(node: ast.AST):
    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _UNKNOWN


def _defaulted(fn: ast.FunctionDef) -> tuple[list[str], dict[str, object]]:
    """Positional parameter names and {name: default value} of the
    defaulted ones."""
    a = fn.args
    pos = [p.arg for p in a.posonlyargs + a.args]
    defaults: dict[str, object] = {}
    for p, d in zip(pos[len(pos) - len(a.defaults):], a.defaults):
        defaults[p] = _value(d)
    for p, d in zip(a.kwonlyargs, a.kw_defaults):
        if d is not None:
            defaults[p.arg] = _value(d)
    return pos, defaults


class Def:
    def __init__(self, qual: str, name: str, fn: ast.FunctionDef, is_method: bool):
        self.qual = qual
        self.name = name
        pos, self.defaults = _defaulted(fn)
        if is_method and pos and pos[0] in ("self", "cls"):
            pos = pos[1:]
        self.pos = pos
        self.n_required = len(pos) - sum(p in self.defaults for p in pos)


def _engine_fns(tree: ast.Module, mod: str):
    """(qualified name, called name, def node, is_method) of the public
    defs of one module."""
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
            yield f"{mod}.{node.name}", node.name, node, False
        elif isinstance(node, ast.ClassDef) and not node.name.startswith("_"):
            for m in node.body:
                if not isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    continue
                if m.name == "__init__":
                    yield f"{mod}.{node.name}", node.name, m, True
                elif not m.name.startswith("_"):
                    yield f"{mod}.{node.name}.{m.name}", m.name, m, True


def _module(path: str) -> str:
    return os.path.relpath(path, ROOT)[:-3].replace(os.sep, ".")


def engine_defs() -> list[Def]:
    return [
        Def(qual, name, fn, is_method)
        for path in _py_files(ENGINE)
        for qual, name, fn, is_method in _engine_fns(_parse(path), _module(path))
    ]


def _callee(call: ast.Call, aliases: dict[str, str], foreign: set[str]) -> str | None:
    f = call.func
    if isinstance(f, ast.Name) and f.id not in foreign:
        return aliases.get(f.id, f.id)
    if isinstance(f, ast.Attribute) and not (isinstance(f.value, ast.Name) and f.value.id in foreign):
        return f.attr
    return None


def _imports(tree: ast.Module) -> tuple[dict[str, str], set[str]]:
    """{alias: imported name} of ``from … import x as y``, and the names
    bound by imports from outside the engine."""
    aliases, foreign = {}, set()
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom):
            outside = node.level == 0 and not (node.module or "").startswith(ENGINE)
            for a in node.names:
                if a.asname:
                    aliases[a.asname] = a.name
                if outside:
                    foreign.add(a.asname or a.name)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if not a.name.startswith(ENGINE):
                    foreign.add(a.asname or a.name.split(".")[0])
    return aliases, foreign


def census(defs: list[Def]):
    by_name: dict[str, list[Def]] = defaultdict(list)
    for d in defs:
        by_name[d.name].append(d)
    # (qual, param) -> True (set), or a set of (qual, param) it forwards from
    state: dict[tuple[str, str], object] = {(d.qual, p): set() for d in defs for p in d.defaults}

    def enclosing_params(stack):
        """{name: (qual, default)} of the innermost enclosing engine def."""
        for qual, fn in reversed(stack):
            if qual is None:
                continue
            _, dflt = _defaulted(fn)
            return {p: (qual, v) for p, v in dflt.items()}
        return {}

    def mark(d: Def, param: str, node: ast.AST, stack):
        key = (d.qual, param)
        if state[key] is True:
            return
        v = _value(node)
        if v is not _UNKNOWN and type(v) is type(d.defaults[param]) and v == d.defaults[param]:
            return
        if isinstance(node, ast.Name):
            fwd = enclosing_params(stack).get(node.id)
            if fwd is not None and fwd[1] is not _UNKNOWN and fwd[1] == d.defaults[param]:
                if (fwd[0], node.id) in state and fwd[0] != d.qual:
                    state[key].add((fwd[0], node.id))
                    return
                if fwd[0] == d.qual and node.id == param:
                    return  # recursion passing its own parameter through
        state[key] = True

    def visit_calls(tree: ast.AST, mod: str):
        qual_of = {id(fn): q for q, _, fn, _ in _engine_fns(tree, mod)}
        aliases, foreign = _imports(tree)

        def walk(node, stack):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                stack = stack + [(qual_of.get(id(node)), node)]
            if isinstance(node, ast.Call):
                for d in by_name.get(_callee(node, aliases, foreign) or "", []):
                    plain = [a for a in node.args if not isinstance(a, ast.Starred)]
                    fill = max(0, d.n_required - len(plain))
                    i = 0
                    for a in node.args:
                        if isinstance(a, ast.Starred):
                            i += fill
                            fill = 0
                            continue
                        if i < len(d.pos) and d.pos[i] in d.defaults:
                            mark(d, d.pos[i], a, stack)
                        i += 1
                    for kw in node.keywords:
                        if kw.arg is None:
                            for p in d.defaults:
                                state[(d.qual, p)] = True
                        elif kw.arg in d.defaults:
                            mark(d, kw.arg, kw.value, stack)
            for child in ast.iter_child_nodes(node):
                walk(child, stack)

        walk(tree, [])

    for rel in CALLERS:
        for path in _py_files(rel):
            visit_calls(_parse(path), _module(path))

    # a pass-through is set when what feeds it is set
    changed = True
    while changed:
        changed = False
        for key, v in state.items():
            if v is not True and any(state.get(src) is True for src in v):
                state[key] = True
                changed = True
    return {k: v is True for k, v in state.items()}


def main() -> int:
    defs = engine_defs()
    is_set = census(defs)
    n = n_set = n_str = n_str_set = 0
    for d in defs:
        if not d.defaults:
            continue
        print(d.qual)
        for p, v in d.defaults.items():
            s = is_set[(d.qual, p)]
            shown = "<expr>" if v is _UNKNOWN else repr(v)
            print(f"    {p:<24} {'set' if s else 'never set':<10} {shown}")
            n += 1
            n_set += s
            if isinstance(v, str):
                n_str += 1
                n_str_set += s
    print(f"defaulted parameters: {n} in {sum(1 for d in defs if d.defaults)} defs; "
          f"set by a caller: {n_set}; never set: {n - n_set}")
    print(f"string-defaulted parameters: {n_str}; set by a caller: {n_str_set}; "
          f"never set: {n_str - n_str_set}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
