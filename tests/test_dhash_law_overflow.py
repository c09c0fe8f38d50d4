"""The dhash fixture laws are total for any doc_id (r11 advisor item).

The original law squared the raw mix ``s = 7919*d + 104729*r +
1299709*c + 12345`` in int64/BIGINT; past ``doc_id = 28,662`` the noise
mix's square exceeds 2^63-1 — numpy wraps silently while DuckDB raises,
so a larger fixture would silently diverge. The fix reduces mod 2^32
BEFORE squaring (identical by modular arithmetic, product < 2^64 so
exact in uint64/HUGEINT). These tests pin (a) equivalence with the raw
square where the raw square is still exact, and (b) totality +
cross-engine agreement far past the old bound.
"""

from __future__ import annotations

import duckdb
import numpy as np

from self_healing_data_pipeline_spark.queries.multimodal import (
    _NOISE_LAW,
    _PX_LAW,
)


def _np_px(d, r, c):
    s = d * 7919 + r * 104729 + c * 1299709 + 12345
    sm = (s % 2**32).astype(np.uint64)
    return ((sm * sm) % 2**32 // 2**24).astype(np.int64)


def _np_noise(d, r, c):
    t = d * 104729 + r * 7919 + c * 999331 + 54321
    tm = (t % 2**32).astype(np.uint64)
    return (((tm * tm) % 2**32) % 3).astype(np.int64) - 1


def _py_raw_px(d, r, c):
    s = int(d) * 7919 + int(r) * 104729 + int(c) * 1299709 + 12345
    return (s * s) % 2**32 // 2**24  # arbitrary-precision ground truth


def _py_raw_noise(d, r, c):
    t = int(d) * 104729 + int(r) * 7919 + int(c) * 999331 + 54321
    return ((t * t) % 2**32) % 3 - 1


def test_reduced_square_equals_raw_square_everywhere():
    rr, cc = np.mgrid[0:24, 0:36]
    rr, cc = rr.astype(np.int64), cc.astype(np.int64)
    # spans the old int64-safe region AND far beyond it (5e7 >> 28,662)
    for d in (0, 20, 4999, 28_662, 28_663, 377_458, 50_000_000):
        px = _np_px(np.int64(d), rr, cc)
        nz = _np_noise(np.int64(d), rr, cc)
        for r, c in ((0, 0), (23, 35), (11, 17)):
            assert px[r, c] == _py_raw_px(d, r, c), (d, r, c)
            assert nz[r, c] == _py_raw_noise(d, r, c), (d, r, c)
        assert px.min() >= 0 and px.max() <= 255
        assert set(np.unique(nz)) <= {-1, 0, 1}


def test_oracle_law_total_and_matching_past_old_bound():
    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT d, r, c, {_PX_LAW} AS px, {_NOISE_LAW} AS noise
        FROM (
            -- cast d like the real oracle's BIGINT doc_id column
            SELECT CAST(v.d AS BIGINT) AS d, v.r, v.c
            FROM (VALUES (28663, 23, 35), (50000000, 0, 0),
                         (50000000, 23, 35), (4999, 11, 17)) AS v(d, r, c)
        ) AS t
        """
    ).fetchall()
    assert rows, "oracle law raised past the old overflow bound"
    for d, r, c, px, noise in rows:
        assert px == _py_raw_px(d, r, c), (d, r, c)
        assert noise == _py_raw_noise(d, r, c), (d, r, c)
