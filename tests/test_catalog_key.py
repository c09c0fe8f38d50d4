"""`_catalog_key` fingerprints parquet DIRECTORIES one level deep
(round-11 advisor item): rewriting an inner part-file without touching
the directory entry's own mtime must still invalidate the FK/lineage
catalogs, or a regenerated fixture would serve stale memo entries while
the DuckDB oracle reads fresh data.
"""

from __future__ import annotations

import os

from self_healing_data_pipeline_spark.queries.catalog import _catalog_key


class _FakeSpark:
    class sparkContext:  # noqa: N801 - mimics the pyspark attribute
        applicationId = "app-test"


def _mk_fixture(root):
    d = os.path.join(root, "sf_fake")
    os.makedirs(os.path.join(d, "events.parquet"))
    with open(os.path.join(d, "events.parquet", "part-00000"), "w") as f:
        f.write("aaaa")
    with open(os.path.join(d, "docs.parquet"), "w") as f:
        f.write("bbbb")
    return d


def test_inner_part_file_rewrite_changes_key(tmp_path):
    d = _mk_fixture(str(tmp_path))
    before = _catalog_key(_FakeSpark, d)
    part = os.path.join(d, "events.parquet", "part-00000")
    with open(part, "w") as f:
        f.write("cccc-different-size")
    # freeze the DIRECTORY entry's own mtime: only the inner file moved
    os.utime(os.path.join(d, "events.parquet"), ns=(0, 0))
    os.utime(part, ns=(1, 1))
    after = _catalog_key(_FakeSpark, d)
    assert before != after


def test_plain_file_rewrite_changes_key(tmp_path):
    d = _mk_fixture(str(tmp_path))
    before = _catalog_key(_FakeSpark, d)
    with open(os.path.join(d, "docs.parquet"), "w") as f:
        f.write("bbbb-longer")
    assert _catalog_key(_FakeSpark, d) != before


def test_untouched_fixture_keeps_key(tmp_path):
    d = _mk_fixture(str(tmp_path))
    assert _catalog_key(_FakeSpark, d) == _catalog_key(_FakeSpark, d)
