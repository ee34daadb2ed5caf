"""Every public name the package defines is reached by a caller, and every
defaulted parameter of a public function is set by one.

A public name is a top-level ``def`` or ``class`` in ``logpipe_spark/``
whose name does not start with ``_``. It is reached when a root refers to
it, or when the body of a reached name does (transitively). The roots are:

- every identifier in the AST of each ``.py`` file outside
  ``logpipe_spark/`` and ``tests/`` (entry points, scripts, examples, the
  benchmark): names, attribute names, imported names, and string
  constants that spell a dotted name (the benchmark wraps package
  functions given as ``"module", "Class.method"`` strings);
- every identifier in ``examples/*.json`` (pipeline specs name their
  operators);
- every identifier inside backticks in COVERAGE.md (the operator surface
  each coverage row documents).

Tests are not roots: a name only a test calls is a fixture or a reference
mirror, and belongs in ``tests/``, or it is dead. Names match by bare
identifier, so a name shared by two modules counts as reached in both.

A defaulted parameter of a public top-level ``def`` is set when some call
of that name, in any ``.py`` file of the repo (tests included), passes it
by keyword, by position, or through a ``*``/``**`` splat. A default that
no call overrides is a constant, and the function should say so in its
body. Calls match by bare name, as above.

Both checks share one parse of each file and start no Spark."""

from __future__ import annotations

import ast
import functools
import glob
import os
import re

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "logpipe_spark")
NOT_ROOTS = (PKG, os.path.join(ROOT, "tests"))
IDENT = re.compile(r"[A-Za-z_]\w*")
DOTTED = re.compile(r"[A-Za-z_]\w*(\.[A-Za-z_]\w*)*")


def _python_files(top: str, skip: tuple[str, ...] = ()):
    for dirpath, dirnames, filenames in os.walk(top):
        dirnames[:] = sorted(
            d for d in dirnames
            if not d.startswith(".") and os.path.join(dirpath, d) not in skip
        )
        yield from (
            os.path.join(dirpath, n) for n in sorted(filenames) if n.endswith(".py")
        )


@functools.cache
def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as fh:
        return ast.parse(fh.read(), filename=path)


def _refs(node: ast.AST) -> set[str]:
    """Every identifier ``node`` refers to."""
    out: set[str] = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.update(n.name.split("."))
        elif isinstance(n, ast.Constant) and isinstance(n.value, str):
            if DOTTED.fullmatch(n.value):
                out.update(n.value.split("."))
    return out


def _definitions() -> dict[str, list[tuple[str, ast.AST]]]:
    """Top-level def/class name → [(defining file, node)]."""
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    for path in _python_files(PKG):
        for node in _parse(path).body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                defs.setdefault(node.name, []).append((path, node))
    return defs


def _roots() -> set[str]:
    roots: set[str] = set()
    for path in _python_files(ROOT, skip=NOT_ROOTS):
        roots |= _refs(_parse(path))
    for path in sorted(glob.glob(os.path.join(ROOT, "examples", "*.json"))):
        with open(path, encoding="utf-8") as fh:
            roots.update(IDENT.findall(fh.read()))
    with open(os.path.join(ROOT, "COVERAGE.md"), encoding="utf-8") as fh:
        for span in re.findall(r"`([^`]+)`", fh.read()):
            roots.update(IDENT.findall(span))
    return roots


def unreached_names() -> list[str]:
    defs = _definitions()
    reached: set[str] = set()
    todo = [n for n in _roots() if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo.extend(r for r in _refs(node) if r in defs and r not in reached)
    return sorted(
        f"{os.path.relpath(path, ROOT)}: {name}"
        for name, sites in defs.items()
        if not name.startswith("_") and name not in reached
        for path, _ in sites
    )


def test_scan_sees_the_package():
    defs = _definitions()
    public = [n for n in defs if not n.startswith("_")]
    assert len(public) > 200, len(public)
    assert {"run_pipeline", "queries"} <= _roots()


def test_every_public_name_is_reached_by_a_caller():
    unreached = unreached_names()
    assert not unreached, (
        "public names no caller outside tests/ reaches — give each a "
        "caller, move it into a tests/ helper module, name it in its "
        "COVERAGE.md row, or delete it:\n" + "\n".join(unreached)
    )


def _defaulted(node: ast.FunctionDef) -> list[tuple[ast.arg, int | None]]:
    """(parameter, positional index or None if keyword-only) per default."""
    a = node.args
    pos = a.posonlyargs + a.args
    first = len(pos) - len(a.defaults)
    return [(arg, i) for i, arg in enumerate(pos) if i >= first] + [
        (k, None) for k, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
    ]


def _sets(call: ast.Call, arg: ast.arg, index: int | None) -> bool:
    if any(k.arg is None or k.arg == arg.arg for k in call.keywords):
        return True
    return index is not None and (
        len(call.args) > index or any(isinstance(a, ast.Starred) for a in call.args)
    )


def unset_parameters() -> list[str]:
    calls: dict[str, list[ast.Call]] = {}
    for path in _python_files(ROOT):
        for n in ast.walk(_parse(path)):
            if isinstance(n, ast.Call):
                f = n.func
                name = f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
                if name:
                    calls.setdefault(name, []).append(n)
    return [
        f"{os.path.relpath(path, ROOT)}: {name}({arg.arg})"
        for name, sites in _definitions().items()
        if not name.startswith("_")
        for path, node in sites
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        for arg, index in _defaulted(node)
        if not any(_sets(c, arg, index) for c in calls.get(name, ()))
    ]


def test_every_defaulted_parameter_is_set_by_a_caller():
    unset = unset_parameters()
    assert not unset, (
        f"{len(unset)} defaulted parameters no call in the repo sets — make "
        "each a literal or module constant in the function body:\n"
        + "\n".join(unset)
    )
