"""Registry duplicate-key guard: cross-module shadowing must raise.

The repo convention names the registered function after its key
(``@query('q_x') def q_x``), so a guard comparing only ``__qualname__``
would accept two DIFFERENT modules registering the same key — the
exact silent-shadow case the guard exists to catch. The fix compares
(module, qualname).
"""

import ast
import glob
import os

import pytest

from self_healing_data_pipeline_spark import registry


def _register(key, module):
    def q_fake(spark, sf_dir):  # pragma: no cover - never called
        raise AssertionError

    q_fake.__module__ = module
    return registry.query(key)(q_fake)


def test_same_module_reregistration_is_idempotent():
    key = "q__guard_test_same_module"
    try:
        fn = _register(key, "tests.fake_module_a")
        # re-import of the same module re-runs the decorator on the
        # same (module, qualname) — must be accepted
        registry.query(key)(fn)
        assert registry.QUERIES[key] is fn
    finally:
        registry.QUERIES.pop(key, None)
        registry.ORACLE.pop(key, None)


def test_cross_module_same_name_duplicate_raises():
    key = "q__guard_test_cross_module"
    try:
        _register(key, "tests.fake_module_a")
        with pytest.raises(ValueError, match="duplicate query key"):
            _register(key, "tests.fake_module_b")
    finally:
        registry.QUERIES.pop(key, None)
        registry.ORACLE.pop(key, None)


def test_load_all_registers_every_declared_key():
    """``load_all`` walks the ``queries`` package instead of listing its
    modules, so a module the walk skipped would drop its keys silently.
    Every ``@query("q_...")`` literal in ``queries/*.py`` must come out
    registered, once, and nothing else may."""
    qdir = os.path.join(os.path.dirname(registry.__file__), "queries")
    declared = []
    for path in sorted(glob.glob(os.path.join(qdir, "*.py"))):
        with open(path) as f:
            tree = ast.parse(f.read())
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                continue
            for d in node.decorator_list:
                if (
                    isinstance(d, ast.Call)
                    and getattr(d.func, "id", None) == "query"
                    and isinstance(d.args[0], ast.Constant)
                ):
                    declared.append(d.args[0].value)
    registry.load_all()
    assert len(declared) == len(set(declared))
    assert set(declared) == set(registry.QUERIES)
