"""Ratchet on the engine's options (``scripts/option_census.py``).

Source only (``ast``), no Spark: a defaulted parameter that no caller,
gate, test, script or benchmark sets is a configuration nobody runs, so
it must be a constant instead; and a defaulted parameter its own body
never reads is accepted and then silently ignored.
"""

from __future__ import annotations

import ast
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# (qualified def, parameter) pairs allowed to stay never set, each with
# the reason it stays an option.
KEEP: dict[tuple[str, str], str] = {}


def _census():
    spec = importlib.util.spec_from_file_location(
        "option_census", os.path.join(ROOT, "scripts", "option_census.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_never_set_options_are_the_keep_list():
    census = _census()
    is_set = census.census(census.engine_defs())
    never = {key for key, s in is_set.items() if not s}
    assert len(KEEP) <= 5
    assert never == set(KEEP), (
        f"new never-set options: {sorted(never - set(KEEP))}; "
        f"kept options now set: {sorted(set(KEEP) - never)}"
    )


def _reads(fn: ast.FunctionDef) -> set[str]:
    """Names the body of ``fn`` loads, nested defs and lambdas included."""
    return {
        n.id
        for stmt in fn.body
        for n in ast.walk(stmt)
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load)
    }


def test_every_defaulted_parameter_is_read():
    census = _census()
    unread = []
    for path in census._py_files(census.ENGINE):
        tree = census._parse(path)
        for qual, _name, fn, _is_method in census._engine_fns(tree, census._module(path)):
            _, defaults = census._defaulted(fn)
            reads = _reads(fn)
            unread += [f"{qual}({p})" for p in defaults if p not in reads]
    assert not unread, f"defaulted parameters never read: {unread}"
