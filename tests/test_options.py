"""Option census: no function in the package keeps a parameter that no
caller varies.

A parameter is an option. One that no caller varies adds a configuration to
cover and no capability, so its value is written where the parameter was
used. A parameter exists only where two callers pass different values
(ROADMAP aim 2). Two censuses enforce this over an AST scan of every ``.py``
in the repo, where a call matches a definition by its bare name (the
attribute name for method calls):

- ``census`` lists each defaulted package parameter that no call passes,
  by keyword, by a positional argument at or past its index, or through
  ``*args``/``**kwargs``;
- ``constant_census`` lists each package parameter, defaulted or required,
  that has at least one call, where every call passes it a literal and all
  of those literals are equal. A call that leaves a defaulted parameter out
  passes its default. A ``*args`` or ``**kwargs`` call disqualifies the
  function, since the scan cannot see what it passes.

Run directly (``python tests/test_options.py``) to print both censuses.
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "duckdb_retail_pipeline_spark"
SKIP_DIRS = {".git", os.path.join("perfbench", ".data"), os.path.join("perfbench", ".out")}
# The CLI entry point takes argv from the command line, not from a caller.
EXCEPTED = {(os.path.join(PACKAGE, "pipeline", "__main__.py"), "main", "argv")}
_NOT_LITERAL = object()


def _sources():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel = os.path.relpath(dirpath, ROOT)
        dirnames[:] = sorted(d for d in dirnames if os.path.normpath(os.path.join(rel, d)) not in SKIP_DIRS)
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, ROOT), ast.parse(fh.read(), path)


def _params(fn, in_class):
    """(name, positional index or None, default node or None) of each named
    parameter; the index counts from the first argument a caller writes."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if in_class and positional and positional[0].arg in ("self", "cls") else 0
    defaults = [None] * (len(positional) - len(a.defaults)) + list(a.defaults)
    out = [(p.arg, i - skip, d) for i, (p, d) in enumerate(zip(positional, defaults)) if i >= skip]
    out += [(p.arg, None, d) for p, d in zip(a.kwonlyargs, a.kw_defaults)]
    return out


def _defs(path, tree):
    def walk(node, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for name, idx, default in _params(child, in_class):
                    yield path, child.name, name, idx, default
                yield from walk(child, False)
            else:
                yield from walk(child, isinstance(child, ast.ClassDef))

    return walk(tree, False)


def _callee(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def _scan(sources):
    """Package definitions and every call, grouped by bare callee name."""
    defs, calls = [], {}
    for path, tree in sources:
        if path.startswith(PACKAGE + os.sep):
            defs.extend(_defs(path, tree))
        for node in ast.walk(tree):
            if isinstance(node, ast.Call) and _callee(node) is not None:
                calls.setdefault(_callee(node), []).append(node)
    return defs, calls


def _splat(call):
    return any(isinstance(x, ast.Starred) for x in call.args) or any(k.arg is None for k in call.keywords)


def _arg(call, name, idx):
    """The expression a call passes for a parameter, or None."""
    for k in call.keywords:
        if k.arg == name:
            return k.value
    if idx is not None and idx < len(call.args):
        return call.args[idx]
    return None


def _literal(node):
    """A comparable key of a literal expression (None: no expression),
    or _NOT_LITERAL."""
    try:
        return repr(ast.literal_eval(node))
    except (ValueError, TypeError):
        return _NOT_LITERAL


def census(sources=None):
    """Sorted (file, function, parameter) of every defaulted parameter in
    the package that no call passes."""
    defs, calls = _scan(_sources() if sources is None else sources)
    unused = set()
    for path, fn, name, idx, default in defs:
        if default is None or (path, fn, name) in EXCEPTED:
            continue
        fn_calls = calls.get(fn, [])
        if any(_splat(c) or _arg(c, name, idx) is not None for c in fn_calls):
            continue
        unused.add((path, fn, name))
    return sorted(unused)


def constant_census(sources=None):
    """Sorted (file, function, parameter, value) of every package parameter
    that all of its calls pass as the same literal."""
    defs, calls = _scan(_sources() if sources is None else sources)
    constant = set()
    for path, fn, name, idx, default in defs:
        fn_calls = calls.get(fn, [])
        if not fn_calls or any(map(_splat, fn_calls)) or (path, fn, name) in EXCEPTED:
            continue
        values = {_literal(_arg(c, name, idx) or default) for c in fn_calls}
        if len(values) == 1 and _NOT_LITERAL not in values:
            constant.add((path, fn, name, values.pop()))
    return sorted(constant)


def test_no_defaulted_parameter_goes_unpassed():
    assert census() == []


def test_no_parameter_is_passed_one_literal():
    assert constant_census() == []


def test_constant_census_matches_only_one_literal():
    src = """
def op(df, same, varied, expr, zero, missing=3, kept=1):
    return df

def other(x, y):
    return x

op(df, 'ts', 1, f(x), 0)
op(df, 'ts', 2, 'lit', 0, missing=4)
other(1, y=2)
other(1, **opts)
"""
    path = os.path.join(PACKAGE, "fake.py")
    rows = constant_census([(path, ast.parse(src))])
    assert rows == [(path, "op", "kept", "1"), (path, "op", "same", "'ts'"), (path, "op", "zero", "0")]
    assert census([(path, ast.parse(src))]) == [(path, "op", "kept")]


if __name__ == "__main__":
    for label, rows in (("defaulted parameters no call passes", census()),
                        ("parameters every call passes one literal", constant_census())):
        for row in rows:
            print(*row, sep="  ")
        print(len(rows), label)
