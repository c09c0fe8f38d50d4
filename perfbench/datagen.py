"""Input generation for the benchmark: fixture tables and ingest files.

Two families, both written as plain files before the measured process
starts, so generation never counts in any timing:

- ``write_tables(out_dir, sf)`` writes the TPC-H-shaped star schema plus
  ``events`` and ``documents`` as one parquet file per table, with the
  same column names, types and value domains as the engine's test
  fixtures (``FIXTURES.md``).  The tables use a fixed internal seed, so
  every benchmark seed runs the query workloads over identical data and
  the per-seed spread measures the engine, not the data.
- ``write_ingest_files(out_dir, seed, rows)`` writes the ingest workload's
  upload files from the benchmark seed and returns their ground truth:
  row count, the profile's inferred SQL type per column, and null counts.
"""

from __future__ import annotations

import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLE_SEED = 42
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
)

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_P_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_P_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_P_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["de", "en", "es", "fr", "zh"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key"
    " line merge order part query row scan slow small sort spark stream"
    " table the value vector window"
).split()


def _day_stamps(rng, n: int, first: str, last: str) -> np.ndarray:
    lo = np.datetime64(first, "D").astype(np.int64)
    hi = np.datetime64(last, "D").astype(np.int64)
    days = rng.integers(lo, hi + 1, n)
    return days.astype("datetime64[D]").astype("datetime64[us]")


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng, values: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def build_tables(sf: float) -> dict[str, pa.Table]:
    """The fixture tables at scale factor ``sf`` (lineitem ~ 6M x sf rows)."""
    rng = np.random.default_rng(TABLE_SEED)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_doc = int(1_000_000 * sf), int(50_000 * sf)
    i32 = pa.int32()
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), i32),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), i32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, _SEGMENTS, n_cust),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in _P_ADJ for b in _P_NOUN]
    keys = np.arange(n_part, dtype=np.int64)
    out["part"] = pa.table(
        {
            "p_partkey": keys,
            "p_name": _pick(rng, names, n_part),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
            "p_type": _pick(rng, _P_TYPES, n_part),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], n_ord),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
            "o_orderdate": _day_stamps(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, _PRIORITIES, n_ord),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_line),
            "l_partkey": rng.integers(0, n_part, n_line),
            "l_suppkey": rng.integers(0, n_supp, n_line),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _pick(rng, ["F", "O"], n_line),
            "l_shipdate": _day_stamps(rng, n_line, "1995-01-02", "2001-11-04"),
        }
    )
    gaps = rng.exponential(26.0, n_ev) * 1e6
    start = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": (start + np.cumsum(gaps).astype(np.int64)).astype("datetime64[us]"),
            "user_id": rng.integers(0, max(int(15_000 * sf), 1), n_ev),
            "event_type": _pick(rng, _EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    texts = [
        " ".join(np.asarray(_WORDS, dtype=object)[rng.integers(0, len(_WORDS), w)])
        for w in rng.integers(10, 101, n_doc)
    ]
    # ~5% near-duplicates (another document plus one token) and a few
    # exact copies, so the dedup and near-dup registries suppress real rows.
    for i in rng.choice(n_doc, n_doc // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))] + " dup"
    for i in rng.choice(n_doc, max(n_doc // 600, 1), replace=False):
        texts[i] = texts[int(rng.integers(0, n_doc))]
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_doc, dtype=np.int64),
            "text": texts,
            "lang": _pick(rng, _LANGS, n_doc, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
            "source": [f"src{i % 20}" for i in range(n_doc)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return out


def write_tables(out_dir: str, sf: float) -> None:
    """Write the fixture tables once; an existing complete set is reused."""
    marker = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(marker):
        return
    tmp = out_dir + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    for name, table in build_tables(sf).items():
        pq.write_table(table, os.path.join(tmp, f"{name}.parquet"))
    open(os.path.join(tmp, "_COMPLETE"), "w").close()
    shutil.rmtree(out_dir, ignore_errors=True)
    os.rename(tmp, out_dir)


# ---------------------------------------------------------------------------
# Ingest upload files
# ---------------------------------------------------------------------------

# Column -> the profile's inferred SQL type.  ``qty`` is numeric with stray
# strings, so the profiler must fall back to TEXT (mixed types); ``amount``
# carries 4-sigma outliers; ``day`` is an ISO date string promoted to DATE.
INGEST_TYPES = {
    "id": "INTEGER",
    "amount": "REAL",
    "qty": "TEXT",
    "category": "TEXT",
    "day": "DATE",
    "email": "TEXT",
}
_CATEGORIES = ["alpha", "beta", "gamma", "delta", "epsilon"]
_STRAYS = ["n/a", "unknown", "-", "TBD"]
_NULLABLE = ("amount", "qty", "category", "day", "email")


def _ingest_rows(rng, n: int) -> tuple[dict[str, list], dict[str, int]]:
    amount = np.round(rng.normal(100.0, 15.0, n), 2)
    outliers = rng.choice(n, max(n // 500, 1), replace=False)
    amount[outliers] = np.round(100.0 + 15.0 * rng.uniform(6.0, 9.0, len(outliers)), 2)
    qty: list = [int(q) for q in rng.integers(0, 1000, n)]
    for i in rng.choice(n, max(n // 200, 1), replace=False):
        qty[i] = _STRAYS[int(rng.integers(0, len(_STRAYS)))]
    days = _day_stamps(rng, n, "2020-01-01", "2024-12-31").astype("datetime64[D]")
    cols: dict[str, list] = {
        "id": list(range(1, n + 1)),
        "amount": [float(a) for a in amount],
        "qty": qty,
        "category": [_CATEGORIES[int(c)] for c in rng.integers(0, 5, n)],
        "day": [str(d) for d in days],
        "email": [f"user{int(u)}@example.com" for u in rng.integers(0, 10**6, n)],
    }
    nulls = {}
    for c in _NULLABLE:
        idx = rng.choice(n, int(n * rng.uniform(0.005, 0.03)), replace=False)
        for i in idx:
            cols[c][i] = None
        nulls[c] = len(idx)
    nulls["id"] = 0
    return cols, nulls


def _write_csv(path: str, cols: dict[str, list], n: int) -> None:
    names = list(cols)
    with open(path, "w") as f:
        f.write(",".join(names) + "\n")
        for i in range(n):
            f.write(",".join("" if cols[c][i] is None else str(cols[c][i]) for c in names))
            f.write("\n")


def write_ingest_files(out_dir: str, seed: int, rows: list[int]) -> list[dict]:
    """Write the ingest workload's files for ``seed``; return their truth.

    ``rows`` gives the row count of each file, which alternate between CSV
    with a header and a JSON array of objects.  A header-only CSV is added
    last: the pipeline must end in its recoverable ``Error`` state on it.
    """
    rng = np.random.default_rng(seed)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    files = []
    for i, n in enumerate(rows):
        cols, nulls = _ingest_rows(rng, n)
        ext = ("csv", "json")[i % 2]
        path = os.path.join(out_dir, f"upload_{i:02d}.{ext}")
        if ext == "csv":
            _write_csv(path, cols, n)
        else:
            with open(path, "w") as f:
                json.dump([{c: cols[c][r] for c in cols} for r in range(n)], f)
        files.append(
            {"path": path, "ok": True, "rows": n, "types": dict(INGEST_TYPES), "nulls": nulls}
        )
    path = os.path.join(out_dir, "upload_header_only.csv")
    with open(path, "w") as f:
        f.write(",".join(INGEST_TYPES) + "\n")
    files.append({"path": path, "ok": False, "rows": 0, "types": {}, "nulls": {}})
    return files
