"""Re-verification slate (``tools/verify_slate.py``) and the order of
``__spark_entry__.queries()``.

A key whose resolved code or oracle changed since its latest green
driver verdict must come before the unchanged greens in the driver's
~50-key verification prefix. No Spark session and no git: the
fingerprint cases build small in-memory packages.
"""

from __future__ import annotations

import linecache
import os
import sys
import types
import warnings

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tools"))

import verify_slate  # noqa: E402

DRIVER_PREFIX = 50

SCALE = """
SCALE = 10


def scale(x):
    return x * SCALE
"""

SIBLING = """
def sibling():
    return "never reached"
"""

Q_GLOBAL = """
def q_global(spark, sf_dir):
    return scale(sf_dir)
"""

Q_LOCAL = """
def q_local(spark, sf_dir):
    from .helpers import scale as s

    return s(sf_dir)
"""

DECO = """
import functools

FACTOR = 2


def twice(fn):
    @functools.wraps(fn)
    def wrapper(x):
        return fn(x) * FACTOR

    return wrapper
"""

HELPERS = SCALE + SIBLING
QUERIES = "from .helpers import scale\n" + Q_GLOBAL + Q_LOCAL


@pytest.fixture
def tree(monkeypatch):
    """``tree(tag, {module: source})`` registers the in-memory package
    ``slatefix_<tag>`` and returns ``fingerprint(module, fn, oracle)``
    over it."""

    def make(tag: str, modules: dict[str, str]):
        pkg = f"slatefix_{tag}"
        parent = types.ModuleType(pkg)
        parent.__path__ = []
        monkeypatch.setitem(sys.modules, pkg, parent)
        for name, src in modules.items():
            full = filename = f"{pkg}.{name}"
            lines = src.splitlines(keepends=True)
            monkeypatch.setitem(
                linecache.cache, filename, (len(src), None, lines, filename)
            )
            mod = types.ModuleType(full)
            mod.__file__, mod.__package__ = filename, pkg
            monkeypatch.setitem(sys.modules, full, mod)
            exec(compile(src, filename, "exec"), mod.__dict__)
        fp = verify_slate.Fingerprinter(pkg)

        def fingerprint(module: str, fn: str, oracle: str = "SELECT 1") -> str:
            return fp.fingerprint(getattr(sys.modules[f"{pkg}.{module}"], fn), oracle)

        return fingerprint

    return make


# ---------------------------------------------------------- fingerprints


def test_move_keeps_fingerprint(tree):
    base = tree("base", {"helpers": HELPERS, "queries": QUERIES})
    # The callable and its helper each move to another module, source
    # byte for byte; the old helper module keeps only the sibling.
    moved = tree(
        "moved",
        {
            "helpers": SIBLING,
            "scaling": SCALE,
            "graph": "from .scaling import scale\n" + Q_GLOBAL,
        },
    )
    assert base("queries", "q_global") == moved("graph", "q_global")


@pytest.mark.parametrize("key", ["q_global", "q_local"])
@pytest.mark.parametrize(
    "edit",
    [
        ("return x * SCALE", "return x * SCALE + 1"),  # reached helper
        ("SCALE = 10", "SCALE = 11"),  # package constant it reads
    ],
)
def test_reached_edit_changes_fingerprint(tree, key, edit):
    base = tree("base", {"helpers": HELPERS, "queries": QUERIES})
    edited = tree("edited", {"helpers": HELPERS.replace(*edit), "queries": QUERIES})
    assert base("queries", key) != edited("queries", key)


@pytest.mark.parametrize("key", ["q_global", "q_local"])
def test_unreached_sibling_edit_keeps_fingerprint(tree, key):
    base = tree("base", {"helpers": HELPERS, "queries": QUERIES})
    edited = tree(
        "edited",
        {"helpers": HELPERS.replace("never reached", "edited"), "queries": QUERIES},
    )
    assert base("queries", key) == edited("queries", key)


def test_oracle_edit_changes_fingerprint(tree):
    fp = tree("base", {"helpers": HELPERS, "queries": QUERIES})
    sql1, sql2 = "SELECT 1", "SELECT 2"
    assert fp("queries", "q_global", sql1) != fp("queries", "q_global", sql2)
    # A rows-only key that gains an oracle changes too.
    assert fp("queries", "q_global", "") != fp("queries", "q_global", sql1)


def test_wrapped_helper_reaches_its_decorator(tree):
    helpers = "from .deco import twice\n\n\n@twice\ndef scale(x):\n    return x\n"
    deco = DECO.replace("FACTOR = 2", "FACTOR = 3")
    base = tree("base", {"deco": DECO, "helpers": helpers, "queries": QUERIES})
    edited = tree("edited", {"deco": deco, "helpers": helpers, "queries": QUERIES})
    for key in ("q_global", "q_local"):
        assert base("queries", key) != edited("queries", key)


# ---------------------------------------------------------------- order


def test_compute_slate_flags_changed_fingerprints():
    current = {"q_a": "1", "q_b": "2", "q_new": "3"}
    snapshot = {"keys": {"q_a": {"fingerprint": "STALE"}, "q_b": {"fingerprint": "2"}}}
    # q_new was never verified: queries() puts it in the unchecked bucket.
    assert verify_slate.compute_slate(current, snapshot) == ["q_a"]


def test_compute_slate_clean_snapshot_flags_nothing():
    snapshot = {"keys": {"q_a": {"fingerprint": "1"}}}
    assert verify_slate.compute_slate({"q_a": "1"}, snapshot) == []


def test_all_changed_prefix_holds_oldest_verdicts_first():
    keys = [f"q_{i:03d}" for i in range(120)]
    # Registration order runs newest verdict first (round 13 down to 2).
    verdicts = {k: (True, 13 - i // 10) for i, k in enumerate(keys)}
    order = verify_slate.order_keys(keys, {}, verdicts, changed=keys)
    prefix = [verdicts[k][1] for k in order[:DRIVER_PREFIX]]
    rest = [verdicts[k][1] for k in order[DRIVER_PREFIX:]]
    assert prefix == sorted(prefix) and max(prefix) <= min(rest)
    assert prefix[0] == 2 and 13 not in prefix


def test_order_buckets():
    verdicts = {
        "q_green_old": (True, 3), "q_changed_new": (True, 12),
        "q_changed_old": (True, 5), "q_failed": (False, 13),
    }
    keys = ["q_green_old", "q_changed_new", "q_rows_only", "q_changed_old",
            "q_failed", "q_unchecked"]
    order = verify_slate.order_keys(
        keys, {"q_unchecked": "SELECT 1"}, verdicts, ["q_changed_new", "q_changed_old"]
    )
    assert order == ["q_failed", "q_unchecked", "q_rows_only", "q_changed_old",
                     "q_changed_new", "q_green_old"]


@pytest.mark.parametrize("content", [None, "{not json"])
def test_missing_snapshot_yields_full_key_set(tmp_path, monkeypatch, content):
    path = tmp_path / "verify_snapshot.json"
    if content is not None:
        path.write_text(content)
    monkeypatch.setattr(verify_slate, "SNAPSHOT_PATH", str(path))
    queries = {f"q_{i}": (lambda spark, sf: None) for i in range(5)}
    order, changed = verify_slate.verification_order(queries, {})
    assert changed == [] and sorted(order) == sorted(queries)


# ----------------------------------------------------- this repo's slate


@pytest.fixture(scope="module")
def slate():
    """``(queries() order, changed keys, latest verdicts)`` of this repo."""
    import __spark_entry__ as entrymod
    from self_healing_data_pipeline_spark import registry

    queries, oracle = registry.QUERIES, registry.ORACLE
    order, changed = verify_slate.verification_order(queries, oracle)
    assert list(entrymod.queries()) == order
    assert sorted(order) == sorted(queries)
    return order, changed, verify_slate.latest_verdicts()


def test_snapshot_exists_and_covers_registry(slate):
    """Every registered key whose latest verdict is green and no newer
    than the snapshot is snapshotted at that verdict's round."""
    snap = verify_slate.load_snapshot()
    assert snap.get("keys"), "run tools/verify_slate.py --refresh"
    order, _, verdicts = slate
    for key in order:
        green, rnd = verdicts.get(key, (False, 0))
        if green and rnd <= snap["refreshed_round"]:
            assert snap["keys"].get(key, {}).get("round") == rnd, key


def test_snapshot_absorbed_latest_driver_round():
    """When a new CORRECTNESS_r{N}.json lands, the snapshot must absorb
    it. One round behind is a warning, not a failure: the driver writes
    CORRECTNESS_r{N} at round end and the suite then runs on that very
    tree. Two rounds behind fails."""
    have = verify_slate.load_snapshot().get("refreshed_round")
    rnd = max((r for r, _ in verify_slate.correctness_files()), default=0)
    if have == rnd:
        return
    assert have is not None and rnd - have == 1, (
        f"slate snapshot is {rnd - (have or 0)} rounds behind "
        f"(refreshed_round={have}, latest CORRECTNESS round={rnd}) — "
        "run `python tools/verify_slate.py --refresh`"
    )
    warnings.warn(
        f"CORRECTNESS_r{rnd:02d}.json not yet absorbed "
        f"(refreshed_round={have}); run `python tools/verify_slate.py --refresh`",
        stacklevel=1,
    )


def _unchanged_green(key, changed, verdicts) -> bool:
    return verdicts.get(key, (False,))[0] and key not in changed


def test_changed_keys_precede_vintage_greens(slate):
    order, changed, verdicts = slate
    idx = {k: i for i, k in enumerate(order)}
    changed = set(changed)
    greens = [i for i, k in enumerate(order) if _unchanged_green(k, changed, verdicts)]
    if changed and greens:
        assert max(idx[k] for k in changed) < min(greens)


def test_slate_budget_or_explicit_overflow(slate):
    """Within budget, the whole slate fits the driver's prefix. Over
    budget, the prefix holds no unchanged green key, so the driver
    spends it on changed code and the tail carries to the next round."""
    order, changed, verdicts = slate
    prefix = order[:DRIVER_PREFIX]
    if len(changed) <= verify_slate.SLATE_BUDGET:
        assert set(changed) <= set(prefix)
    else:
        greens = [k for k in prefix if _unchanged_green(k, changed, verdicts)]
        assert not greens, f"unchanged green keys in an over-budget prefix: {greens}"
