"""Per-query bench regression tripwire.

The headline bench metric is the suite total, where one regressed plan
can hide. This test compares ``bench_queries.json`` (``python
bench.py``) with ``tools/bench_baseline.json`` key by key.

1. **Suspects.** Each key's run/baseline ratio is divided by the run's
   median ratio, floored at 1.0 (a slower host is not a plan
   regression); a key whose normalized time breaches :func:`_breaches`
   is a suspect. So is the key nearest the median ratio among keys of
   at least ``MIN_DELTA_SEC``: the check for a regression every key
   shares, which the division hides.
2. **Same-window A/B.** Each suspect is re-timed by ``tools/retime.py``
   in ``PAIRS`` pairs of fresh subprocesses, one on the working tree and
   one on the baseline's ``commit`` (``git archive`` to a temp dir,
   ``--root``), alternating which runs first. Only the code differs
   within a pair, so host speed cancels. A key is red when the median
   per-pair tree/base ratio is >= ``THRESHOLD`` and the median per-pair
   difference >= ``MIN_DELTA_SEC``, or when either side cannot run it.
   The message quotes both sides' executed jobs/stages: a plan that
   grew, or the same plan slower.

Baseline refresh: ``python bench.py`` on a clean tree (it records
``"dirty": false`` and its ``commit``), then ``cp bench_queries.json
tools/bench_baseline.json``.

``python tests/test_bench_regression.py OLD.json NEW.json`` prints the
stage-1 report for two bench files.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
THRESHOLD = 1.5
NOISE_FLOOR_SEC = 0.3  # sub-0.3s on both sides: scheduler jitter only
MIN_DELTA_SEC = 0.5  # a regression must also move this much wall time
PAIRS = 3


def _load(path: str) -> dict:
    with open(path) as f:
        data = json.load(f)
    if not isinstance(data.get("queries"), dict):
        raise ValueError(f"{path}: no 'queries' dict found")
    return data


def _times(data: dict) -> dict[str, float]:
    return {k: float(v) for k, v in data["queries"].items()}


def _breaches(old: float, new: float) -> bool:
    return (
        max(old, new) >= NOISE_FLOOR_SEC
        and old > 0
        and new / old >= THRESHOLD
        and new - old >= MIN_DELTA_SEC
    )


def _stage1(
    baseline: dict[str, float], current: dict[str, float]
) -> tuple[list[str], str | None, float]:
    """``(suspects, median_key, median_ratio)`` of a bench run."""
    common = sorted(k for k in set(baseline) & set(current) if baseline[k] > 0)
    ratio = {k: current[k] / baseline[k] for k in common}
    if not ratio:
        return [], None, 1.0
    med = statistics.median(ratio.values())
    cal = max(1.0, med)
    suspects = [k for k in ratio if _breaches(baseline[k], current[k] / cal)]
    long_keys = [k for k in ratio if baseline[k] >= MIN_DELTA_SEC]
    median_key = min(long_keys, key=lambda k: abs(ratio[k] - med), default=None)
    return suspects, median_key, med


def _judge(pairs: list[tuple[dict, dict]], keys: list[str]) -> dict[str, str]:
    """Red key -> reason, from ``PAIRS`` (tree, base) retime outputs."""
    red: dict[str, str] = {}
    for k in keys:
        failed = [
            f"{side} tree cannot run it: {info['failed'][k]}"
            for pair in pairs
            for side, info in zip(("working", "base"), pair)
            if k in info["failed"]
        ]
        if failed:
            red[k] = failed[0]
            continue
        tree = [t["queries"][k] for t, _ in pairs]
        base = [b["queries"][k] for _, b in pairs]
        ratio = statistics.median(t / b for t, b in zip(tree, base))
        delta = statistics.median(t - b for t, b in zip(tree, base))
        if ratio >= THRESHOLD and delta >= MIN_DELTA_SEC:
            tree_c, base_c = pairs[0][0]["counts"][k], pairs[0][1]["counts"][k]
            grew = any(t > b for t, b in zip(tree_c, base_c))
            red[k] = (
                f"tree {tree} s vs base {base} s: median {ratio:.2f}x, "
                f"+{delta:.2f} s; jobs/stages tree {tree_c} base {base_c} "
                f"({'the plan grew' if grew else 'no more jobs or stages ran'})"
            )
    return red


def _run_retime(args: list[str], root: str = REPO) -> dict:
    """Run tools/retime.py in a FRESH process (fresh JVM, bench session,
    local[$SPARK_GRAFT_CPUS]) on the checkout at ``root``; parse its
    last stdout line and check it ran the bench session on ``root``."""
    proc = subprocess.run(
        [sys.executable, os.path.join(REPO, "tools", "retime.py"), *args],
        capture_output=True,
        text=True,
        cwd=root,
    )
    assert proc.returncode == 0, (
        f"tools/retime.py failed (rc={proc.returncode}) on {root}:\n"
        f"stdout tail: {proc.stdout[-2000:]}\nstderr tail: {proc.stderr[-2000:]}"
    )
    info = json.loads(proc.stdout.strip().splitlines()[-1])
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    assert info["master"] == f"local[{cpus}]", f"inherited session: {info}"
    assert os.path.realpath(info["root"]) == os.path.realpath(root), info
    return info


def _ab(keys: list[str], commit: str) -> list[tuple[dict, dict]]:
    """``PAIRS`` (tree, base) retime outputs, the base being ``commit``."""
    with tempfile.TemporaryDirectory() as tmp:
        base_root = os.path.join(tmp, "base")
        tar = os.path.join(tmp, "base.tar")
        subprocess.run(["git", "archive", "-o", tar, commit], cwd=REPO, check=True)
        shutil.unpack_archive(tar, base_root)
        roots = (REPO, base_root)
        pairs = []
        for i in range(PAIRS):
            info = {}
            for root in roots if i % 2 == 0 else roots[::-1]:
                extra = [] if root == REPO else ["--root", root]
                info[root] = _run_retime([*extra, *keys], root)
            pairs.append((info[REPO], info[base_root]))
    return pairs


def test_retime_subprocess_is_isolated():
    """A retime subprocess must get a fresh bench-config JVM
    (local[$SPARK_GRAFT_CPUS]) even while pytest owns a local[4] session
    in THIS process. --probe starts the session and reports master
    without timing any query."""
    _run_retime(["--probe"])


def _info(queries: dict[str, float], failed: dict | None = None) -> dict:
    """A retime output line: ``queries`` timed, ``failed`` not run."""
    return {"queries": queries, "counts": dict.fromkeys(queries, [3, 5]),
            "failed": failed or {}}


def test_judge_seeded_regression_is_red():
    times = ((2.1, 1.0), (1.9, 1.05), (2.0, 0.95))
    red = _judge([(_info({"q_x": t}), _info({"q_x": b})) for t, b in times], ["q_x"])
    assert list(red) == ["q_x"] and "no more jobs or stages ran" in red["q_x"]


def test_key_equal_on_both_sides_is_green_however_far_it_breached():
    baseline = {f"q_{i}": 1.0 for i in range(9)} | {"q_x": 1.0}
    current = dict(baseline, q_x=10.0)
    suspects, _, _ = _stage1(baseline, current)
    assert suspects == ["q_x"]
    pairs = [(_info({"q_x": t}), _info({"q_x": t})) for t in (1.3, 1.1, 1.2)]
    assert _judge(pairs, suspects) == {}


def test_global_regression_reds_the_median_key():
    """Every key 2x slower: stage 1 normalizes all of them away, and the
    A/B of the key at the median ratio reds the tree."""
    baseline = {f"q_{i}": 0.2 + 0.3 * i for i in range(9)}
    current = {k: 2 * v for k, v in baseline.items()}
    suspects, median_key, med = _stage1(baseline, current)
    assert suspects == [] and med == 2.0
    b = baseline[median_key]
    assert b >= MIN_DELTA_SEC
    pairs = [(_info({median_key: 2 * b}), _info({median_key: b}))] * PAIRS
    assert list(_judge(pairs, [median_key])) == [median_key]


def test_key_the_base_tree_cannot_run_is_reported():
    pairs = [(_info({"q_new": 0.4}), _info({}, {"q_new": "KeyError: 'q_new'"}))]
    red = _judge(pairs * PAIRS, ["q_new"])
    assert "base tree cannot run it" in red["q_new"]


def test_retime_reports_steal_pct():
    """tools/retime.py's steal meter reads /proc/stat correctly: over
    any window the percentage is 0-100 (or None where unsupported)."""
    import time

    sys.path.insert(0, os.path.join(REPO, "tools"))
    import retime as rt

    pct_fn = rt.steal_window()
    # burn a little CPU so dtotal > 0 even on a fast sample
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < 0.05:
        pass
    pct = pct_fn()
    assert pct is None or 0.0 <= pct <= 100.0


def test_no_per_query_bench_regression():
    current_path = os.path.join(REPO, "bench_queries.json")
    if not os.path.exists(current_path):
        pytest.skip("no bench_queries.json — run `python bench.py` first")
    base_data = _load(os.path.join(REPO, "tools", "bench_baseline.json"))
    assert not base_data.get("dirty"), "the baseline came from a dirty tree"
    current = _times(_load(current_path))
    suspects, median_key, _ = _stage1(_times(base_data), current)
    if median_key is None:
        pytest.skip("bench_queries.json shares no keys with the baseline")
    keys = sorted(set(suspects) | {median_key})
    red = _judge(_ab(keys, base_data["commit"]), keys)
    assert not red, (
        f"queries slower on the working tree than on the baseline commit "
        f"{base_data['commit']} in a same-window A/B: {red} — compare the "
        "bench files with `python tests/test_bench_regression.py "
        "tools/bench_baseline.json bench_queries.json`; refresh the "
        "baseline only after accepting the regression"
    )


def main(old_path: str, new_path: str) -> None:
    """Print the stage-1 report of NEW against OLD."""
    old, new = _times(_load(old_path)), _times(_load(new_path))
    suspects, median_key, med = _stage1(old, new)
    improved = [k for k in sorted(set(old) & set(new)) if _breaches(new[k], old[k])]
    print(f"median ratio {med:.2f}x (key {median_key})")
    for title, keys in (("suspects", suspects), ("improved", improved)):
        print(f"{title}: {len(keys)}")
        for k in keys:
            print(f"  {k}: {old[k]:.2f}s -> {new[k]:.2f}s ({new[k] / old[k]:.2f}x)")
    print(f"only in NEW: {sorted(set(new) - set(old))}")
    print(f"only in OLD: {sorted(set(old) - set(new))}")


if __name__ == "__main__":
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    main(sys.argv[1], sys.argv[2])
