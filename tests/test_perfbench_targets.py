"""The benchmark's tracer wraps functions by (module, attribute) name. A
rename that leaves a TRACED entry dangling would only surface when the
benchmark runs; this check catches it without starting Spark."""

import importlib
import importlib.util
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load_run():
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_every_traced_target_resolves_to_a_callable():
    traced = _load_run().TRACED
    assert traced
    for module, attr, _ in traced:
        owner = importlib.import_module(module)
        for part in attr.split("."):
            owner = getattr(owner, part, None)
            assert owner is not None, f"{module}.{attr} does not resolve"
        assert callable(owner), f"{module}.{attr} is not callable"
