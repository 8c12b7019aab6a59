"""Option census: no function in the package keeps a defaulted parameter
that no call in the repo passes.

A parameter with a default is an option. One that no caller varies adds a
configuration to cover and no capability, so the default is written where
the parameter was used. A parameter exists only where two callers pass
different values (ROADMAP aim 2). The census is an AST scan of every
``.py`` in the repo: a call matches a definition by its bare name (the
attribute name for method calls), and passes a parameter by keyword, by a
positional argument at or past its index, or through ``**kwargs``.

Run directly (``python tests/test_options.py``) to print the census.
"""
from __future__ import annotations

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "duckdb_retail_pipeline_spark"
SKIP_DIRS = {".git", os.path.join("perfbench", ".data"), os.path.join("perfbench", ".out")}
# The CLI entry point takes argv from the command line, not from a caller.
EXCEPTED = {(os.path.join(PACKAGE, "pipeline", "__main__.py"), "main", "argv")}


def _sources():
    for dirpath, dirnames, filenames in os.walk(ROOT):
        rel = os.path.relpath(dirpath, ROOT)
        dirnames[:] = sorted(d for d in dirnames if os.path.normpath(os.path.join(rel, d)) not in SKIP_DIRS)
        for name in sorted(filenames):
            if name.endswith(".py"):
                path = os.path.join(dirpath, name)
                with open(path, encoding="utf-8") as fh:
                    yield os.path.relpath(path, ROOT), ast.parse(fh.read(), path)


def _defaulted(fn, in_class):
    """(name, positional index or None) of each parameter with a default;
    the index counts from the first argument a caller writes."""
    a = fn.args
    positional = a.posonlyargs + a.args
    skip = 1 if in_class and positional and positional[0].arg in ("self", "cls") else 0
    out = [(p.arg, i - skip) for i, p in enumerate(positional) if i >= len(positional) - len(a.defaults)]
    out += [(p.arg, None) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
    return out


def _defs(path, tree):
    def walk(node, in_class):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for name, idx in _defaulted(child, in_class):
                    yield path, child.name, name, idx
                yield from walk(child, False)
            else:
                yield from walk(child, isinstance(child, ast.ClassDef))

    return walk(tree, False)


def _callee(call):
    f = call.func
    return f.id if isinstance(f, ast.Name) else f.attr if isinstance(f, ast.Attribute) else None


def census():
    """Sorted (file, function, parameter) of every defaulted parameter in
    the package that no call passes."""
    defs, passed = [], {}
    for path, tree in _sources():
        if path.startswith(PACKAGE + os.sep):
            defs.extend(_defs(path, tree))
        for node in ast.walk(tree):
            if not isinstance(node, ast.Call) or _callee(node) is None:
                continue
            entry = passed.setdefault(_callee(node), [set(), None, False])
            entry[0].update(k.arg for k in node.keywords if k.arg is not None)
            starred = any(isinstance(x, ast.Starred) for x in node.args)
            n_pos = float("inf") if starred else len(node.args)
            entry[1] = n_pos if entry[1] is None else max(entry[1], n_pos)
            entry[2] |= any(k.arg is None for k in node.keywords)
    unused = set()
    for path, fn, name, idx in defs:
        kw, n_pos, splat = passed.get(fn, (set(), None, False))
        if name in kw or splat or (idx is not None and n_pos is not None and n_pos > idx):
            continue
        if (path, fn, name) not in EXCEPTED:
            unused.add((path, fn, name))
    return sorted(unused)


def test_no_defaulted_parameter_goes_unpassed():
    assert census() == []


if __name__ == "__main__":
    rows = census()
    for row in rows:
        print(*row, sep="  ")
    print(len(rows), "defaulted parameters no call passes")
