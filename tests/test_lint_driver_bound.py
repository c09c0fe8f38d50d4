"""CI gate for the driver-materialization boundedness census
(tools/lint_driver_bound.py, round 12): every ``.collect()`` /
``.toPandas()`` / ``.toLocalIterator()`` in the package must carry an
audited boundedness justification, and the audit must not go stale.
Pure AST work — no Spark session."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))

import lint_driver_bound  # noqa: E402


def test_selftest_fixtures():
    assert lint_driver_bound._selftest() == 0


def test_tree_is_fully_audited():
    unaudited, stale = lint_driver_bound.lint()
    assert not unaudited, (
        "new driver materialization site(s) — prove the bound and add "
        f"to AUDITED: {[s['key'] for s in unaudited]}"
    )
    assert not stale, f"stale AUDITED entries (site gone/moved): {stale}"


def test_known_fixed_sites_still_capped():
    """The two round-12 findings stay fixed: the ivfadc panel collect
    is capped and the neardup-registry set compare stays distributed
    (no collect at all in that function)."""
    sites = {s["key"] for s in lint_driver_bound.census()}
    assert "queries/similarity.py::ivfadc_per_probe#0" in sites
    assert not any("q_neardup_registry" in k for k in sites)
    from self_healing_data_pipeline_spark.queries import similarity

    assert similarity._PANEL_CAP == 40
