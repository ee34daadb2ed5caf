"""Every ``from logpipe_spark... import name`` in the repo's entry points,
scripts, benchmarks and tests must resolve. Many of those files never run
in the test suite (examples, scripts, the benchmark harness) and some
imports sit inside functions, so a deleted or renamed name would only
fail when that code path runs; this check parses the files with ``ast``
and resolves each name without starting Spark."""

import ast
import importlib
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCANNED_DIRS = ("examples", "scripts", "perfbench", "tests")
SCANNED_FILES = ("bench.py", "__spark_entry__.py")


def _python_files():
    for d in SCANNED_DIRS:
        for dirpath, _, filenames in os.walk(os.path.join(ROOT, d)):
            yield from (
                os.path.join(dirpath, n) for n in sorted(filenames) if n.endswith(".py")
            )
    for f in SCANNED_FILES:
        yield os.path.join(ROOT, f)


def _package_imports():
    """(file, line, module, name) for every from-import of the package,
    at any nesting depth."""
    for path in _python_files():
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read(), filename=path)
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.ImportFrom)
                and node.level == 0
                and node.module.split(".")[0] == "logpipe_spark"
            ):
                for alias in node.names:
                    yield os.path.relpath(path, ROOT), node.lineno, node.module, alias.name


def _resolves(module: str, name: str) -> bool:
    mod = importlib.import_module(module)
    if name == "*" or hasattr(mod, name):
        return True
    try:  # a submodule not yet bound as an attribute of its package
        importlib.import_module(f"{module}.{name}")
    except ModuleNotFoundError:
        return False
    return True


def test_every_package_import_resolves():
    imports = list(_package_imports())
    assert len(imports) > 100
    missing = [
        f"{path}:{line}: from {module} import {name}"
        for path, line, module, name in imports
        if not _resolves(module, name)
    ]
    assert not missing, "\n".join(missing)
