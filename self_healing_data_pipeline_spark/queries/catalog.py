"""Catalog, lineage, planner-statistics and storage-layout queries.

SURVEY.md Tier-A, §2.1 storage and §2.4: lineage walks, the catalog
knowledge graph, join discovery and GDPR erasure; histograms, size and
selectivity estimates; and the storage advisors (compaction, zone maps,
sort keys, clustering depth, encodings, dictionaries, buckets, retention).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.dedup import normalize_text
from self_healing_data_pipeline_spark.operators.dedup import NORMALIZE_TEXT_SQL as _NORM
from self_healing_data_pipeline_spark.plans.lineage import LineageLog
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


# Catalog / lineage queries — the reference's knowledge-graph vision
# (reference ``README.md:7``: a catalog with lineage across datasets) made
# queryable with the engine itself (SURVEY.md §2, Tier-A pipeline row).
#
# ``plans.lineage.LineageLog`` records one edge set per pipeline run; here a
# deterministic corpus-build pipeline is DECLARED (lazily — recording
# lineage needs schemas, not executions), its lineage lands in a DataFrame,
# and the impact-analysis question lineage exists to answer — "what is
# downstream of this dataset?" — runs as a distributed graph query over
# those edges.
#
# At scale: a production catalog holds one edge row per (stage, run) in a
# parquet table partitioned by run date — millions of edges, tiny next to
# the data itself. The closure below is a bounded frontier-expansion (one
# hash join per pipeline-depth level, shuffling only the frontier); for
# catalogs with deep graphs the pointer-jumping loop of
# ``operators.dedup.resolve_clusters`` is the O(log d) alternative.


#: The declared pipeline: (stage, [inputs], output). Mirrored literally in
#: the oracle's edge VALUES — the stage graph is code, so the oracle twin
#: states the same static truth.
_PIPELINE_STAGES = [
    ("normalize", ["documents"], "docs_normalized"),
    ("fingerprint", ["docs_normalized"], "docs_fingerprinted"),
    ("dedup", ["docs_fingerprinted"], "docs_unique"),
    ("split", ["docs_unique"], "corpus_routed"),
    ("sessionize", ["events"], "event_sessions"),
    ("engagement", ["event_sessions"], "user_engagement"),
    ("report", ["corpus_routed", "user_engagement"], "corpus_report"),
]

_EDGE_VALUES = ", ".join(
    f"('{src}', '{out}')"
    for (_stage, inputs, out) in _PIPELINE_STAGES
    for src in inputs
)


def _build_lineage(spark, sf_dir) -> LineageLog:
    """Declare the corpus-build pipeline and capture its lineage.

    Every stage constructs a REAL (lazy) DataFrame over the fixtures —
    recording ``output_schema`` forces analysis only, never execution —
    so the lineage log is a genuine capture of a declared plan graph,
    not hand-typed metadata.
    """
    log = LineageLog(run_id="corpus-build")
    docs = read_table(spark, sf_dir, "documents")
    ev = read_table(spark, sf_dir, "events")

    normalized = docs.select(
        "doc_id", "lang", normalize_text("text").alias("nt")
    )
    fingerprinted = normalized.select(
        "doc_id",
        "lang",
        F.substring(F.md5("nt"), 1, 16).alias("fingerprint"),
    )
    unique = fingerprinted.dropDuplicates(["fingerprint"])
    routed = unique.withColumn(
        "split",
        F.when(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "cc",
            "train",
        ).otherwise("eval"),
    )
    sessions = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_events"))
    engagement = sessions.agg(F.avg("n_events").alias("avg_events"))
    report = routed.groupBy("split").count().crossJoin(engagement)

    outputs = {
        "docs_normalized": normalized,
        "docs_fingerprinted": fingerprinted,
        "docs_unique": unique,
        "corpus_routed": routed,
        "event_sessions": sessions,
        "user_engagement": engagement,
        "corpus_report": report,
    }
    for stage, inputs, out in _PIPELINE_STAGES:
        log.record(stage, inputs, out, output_df=outputs[out])
    return log


@query(
    "q_lineage_downstream",
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT * FROM (VALUES {_EDGE_VALUES}) AS t(src, dst)
    ),
    reach(dataset, depth) AS (
      SELECT dst, 1 FROM edges WHERE src = 'documents'
      UNION
      SELECT e.dst, r.depth + 1
      FROM reach r JOIN edges e ON e.src = r.dataset
    )
    SELECT dataset, CAST(MIN(depth) AS BIGINT) AS depth
    FROM reach GROUP BY dataset ORDER BY depth, dataset
    """,
)
def q_lineage_downstream(spark, sf_dir):
    """Impact analysis over the lineage graph: every dataset transitively
    downstream of ``documents``, with its minimum dependency depth — the
    question a catalog answers before a schema change or a backfill
    ("what breaks / what must rebuild if this table changes?").

    The lineage edges come from an actual ``LineageLog`` capture of the
    declared corpus-build pipeline (``plans/lineage.py:44-89``), exploded
    into (src, dst) rows. The closure is a bounded frontier expansion:
    one broadcast-sized hash join per depth level (the loop bound is the
    static stage count — no data-dependent driver control flow), then a
    min-depth aggregate. The DuckDB oracle walks the identical edge list
    with a recursive CTE, like q_dedup_clusters."""
    lineage = _build_lineage(spark, sf_dir).to_dataframe(spark)
    edges = lineage.select(
        F.explode("inputs").alias("src"), F.col("output").alias("dst")
    )
    frontier = edges.filter(F.col("src") == "documents").select(
        F.col("dst").alias("dataset"), F.lit(1).alias("depth")
    )
    reach = frontier
    for depth in range(2, len(_PIPELINE_STAGES) + 1):
        frontier = frontier.join(
            edges, frontier["dataset"] == edges["src"]
        ).select(F.col("dst").alias("dataset"), F.lit(depth).alias("depth"))
        reach = reach.unionByName(frontier)
    return (
        reach.groupBy("dataset")
        .agg(F.min("depth").cast("bigint").alias("depth"))
        .orderBy("depth", "dataset")
    )


#: (table, key-like column) candidates for relationship discovery — the
#: name/type prefilter a real catalog applies before any data is read.
#: Mirrored literally in the oracle's UNION ALL (fixture schemas are
#: frozen, so the candidate list is static truth, like _PIPELINE_STAGES).
_KEY_CANDIDATES = [
    ("region", "r_regionkey"),
    ("nation", "n_nationkey"),
    ("nation", "n_regionkey"),
    ("customer", "c_custkey"),
    ("customer", "c_nationkey"),
    ("supplier", "s_suppkey"),
    ("supplier", "s_nationkey"),
    ("orders", "o_orderkey"),
    ("orders", "o_custkey"),
    ("lineitem", "l_orderkey"),
    ("lineitem", "l_partkey"),
    ("lineitem", "l_suppkey"),
    ("part", "p_partkey"),
]

_KEYVALS_SQL = "\n      UNION ALL\n".join(
    f"      SELECT '{t}' AS tbl, '{c}' AS col, CAST({c} AS BIGINT) AS v "
    f"FROM {t} WHERE {c} IS NOT NULL GROUP BY {c}"
    for t, c in _KEY_CANDIDATES
)

_ROWCOUNTS_SQL = "\n      UNION ALL\n".join(
    f"      SELECT '{t}' AS tbl, COUNT(*) AS n_rows FROM {t}"
    for t in sorted({t for t, _ in _KEY_CANDIDATES})
)


#: THE single home of the FK-discovery SQL formulation (name affinity
#: + value containment >= 0.95 + parent uniqueness). Both
#: q_join_discovery's oracle and the catalog-graph oracles
#: (q_catalog_graph, q_catalog_graph_impact) compose this text, so the discovery policy
#: cannot drift between them.
FK_DISCOVERY_CTES = f"""
    keyvals AS (
{_KEYVALS_SQL}
    ), rowcounts AS (
{_ROWCOUNTS_SQL}
    ), kcounts AS (
      SELECT k.tbl, k.col, COUNT(*) AS n_distinct, MAX(r.n_rows) AS n_rows
      FROM keyvals k JOIN rowcounts r ON k.tbl = r.tbl
      GROUP BY k.tbl, k.col
    ), overlap AS (
      SELECT a.tbl AS child_table, a.col AS child_column,
             b.tbl AS parent_table, b.col AS parent_column,
             COUNT(*) AS n_overlap
      FROM keyvals a
      JOIN keyvals b
        ON a.v = b.v AND a.tbl <> b.tbl
       AND SUBSTR(a.col, STRPOS(a.col, '_') + 1)
           = SUBSTR(b.col, STRPOS(b.col, '_') + 1)
      GROUP BY 1, 2, 3, 4
    ), fk AS (
      SELECT o.child_table, o.child_column,
             o.parent_table, o.parent_column,
             o.n_overlap, ca.n_distinct AS child_distinct,
             CAST(o.n_overlap AS DOUBLE) / CAST(ca.n_distinct AS DOUBLE)
               AS containment
      FROM overlap o
      JOIN kcounts ca ON o.child_table = ca.tbl AND o.child_column = ca.col
      JOIN kcounts cb ON o.parent_table = cb.tbl AND o.parent_column = cb.col
      WHERE CAST(o.n_overlap AS DOUBLE) / CAST(ca.n_distinct AS DOUBLE)
              >= 0.95
        AND cb.n_distinct = cb.n_rows
    )"""


@query(
    "q_join_discovery",
    oracle=f"""
    WITH {FK_DISCOVERY_CTES}
    SELECT child_table, child_column, parent_table, parent_column,
           n_overlap, child_distinct, containment
    FROM fk
    ORDER BY child_table, child_column, parent_table, parent_column
    """,
)
def q_join_discovery(spark, sf_dir):
    """Automatic relationship discovery across datasets — the reference
    vision's literal promise ("データ間の関係性を自動で発見し、データ連携を
    容易にする", reference ``README.md:21``), done the way production
    catalogs do it, with three independently-necessary signals:

    1. name affinity — candidate columns share the post-prefix suffix
       (``o_custkey`` ↔ ``c_custkey``). Without it, TPC-H's dense
       integer keys make ``n_nationkey ⊆ p_partkey`` a numeric
       containment false positive.
    2. value containment — ≥95% of the child's distinct values appear in
       the parent column (the actual joinability evidence).
    3. parent uniqueness — the parent column is a true key
       (distinct == rowcount), which orients the edge: it keeps
       ``lineitem.l_orderkey → orders.o_orderkey`` and rejects the
       reverse (o_orderkey values that never shipped make the reverse
       containment 0.98, but o_custkey's non-uniqueness is what
       disqualifies ``customer.c_custkey → orders.o_custkey``).

    Recovers exactly the 7-edge TPC-H FK graph from data + names alone.

    Plan shape: per-column DISTINCT projections union into one
    (table, column, value) frame; one self-join on value (suffix equality
    rides as residual); tiny rowcount aggregates broadcast. Shuffle
    carries only distinct key values — never table payloads. At 100 TB
    exact distinct sets become the bottleneck; the scale path is sketch
    containment (per-column HLL/bloom, merged map-side) with this exact
    formulation as the verifier on surviving candidate pairs."""
    by_table: dict[str, list[str]] = {}
    for t, c in _KEY_CANDIDATES:
        by_table.setdefault(t, []).append(c)
    frames = []
    for t, cols in by_table.items():
        # ONE scan per table: every key column leaves the scan as a
        # (col, value) struct in a single exploded pass — the naive
        # per-column projection would scan wide tables once per key
        # (lineitem 3×), which at 100 TB is 3 reads of the fact table.
        kv = F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col"),
                        F.col(c).cast("bigint").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
        frames.append(
            read_table(spark, sf_dir, t)
            .select(kv)
            .select(
                F.lit(t).alias("tbl"),
                F.col("kv.col").alias("col"),
                F.col("kv.v").alias("v"),
            )
            .filter(F.col("v").isNotNull())
            .distinct()
        )
    keyvals = frames[0]
    for fr in frames[1:]:
        keyvals = keyvals.unionByName(fr)
    # Materialize ONCE per invocation (localCheckpoint, no cross-run
    # cache): keyvals feeds the distinct-count aggregate AND both
    # branches of the overlap self-join, so the lazy plan re-ran the
    # 13-column distinct union 3× (~0.9 s each at sf0.1 — round-10
    # bench-tail trim; q_catalog_graph/_impact inherit the saving since
    # they re-run this discovery). Results are identical; at 100 TB
    # staging the distinct key values once is also the right move.
    keyvals = keyvals.localCheckpoint(eager=True)

    tables = sorted({t for t, _ in _KEY_CANDIDATES})
    rowcounts = read_table(spark, sf_dir, tables[0]).select(
        F.lit(tables[0]).alias("rc_tbl")
    ).groupBy("rc_tbl").agg(F.count(F.lit(1)).alias("n_rows"))
    for t in tables[1:]:
        rowcounts = rowcounts.unionByName(
            read_table(spark, sf_dir, t)
            .select(F.lit(t).alias("rc_tbl"))
            .groupBy("rc_tbl")
            .agg(F.count(F.lit(1)).alias("n_rows"))
        )

    counts = (
        keyvals.groupBy("tbl", "col")
        .agg(F.count(F.lit(1)).alias("n_distinct"))
        .join(F.broadcast(rowcounts), F.col("tbl") == F.col("rc_tbl"))
        .drop("rc_tbl")
    )
    suffix = lambda c: F.substring_index(c, "_", -1)  # noqa: E731
    a = keyvals.select(
        F.col("tbl").alias("child_table"),
        F.col("col").alias("child_column"),
        "v",
    )
    b = keyvals.select(
        F.col("tbl").alias("parent_table"),
        F.col("col").alias("parent_column"),
        F.col("v").alias("v_b"),
    )
    overlap = (
        a.join(
            b,
            (a["v"] == b["v_b"])
            & (a["child_table"] != b["parent_table"])
            & (
                suffix(F.col("child_column"))
                == suffix(F.col("parent_column"))
            ),
        )
        .groupBy("child_table", "child_column", "parent_table", "parent_column")
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    ca = counts.select(
        F.col("tbl").alias("ca_tbl"),
        F.col("col").alias("ca_col"),
        F.col("n_distinct").alias("child_distinct"),
    )
    cb = counts.select(
        F.col("tbl").alias("cb_tbl"),
        F.col("col").alias("cb_col"),
        F.col("n_distinct").alias("parent_distinct"),
        F.col("n_rows").alias("parent_rows"),
    )
    return (
        overlap.join(
            F.broadcast(ca),
            (F.col("child_table") == F.col("ca_tbl"))
            & (F.col("child_column") == F.col("ca_col")),
        )
        .join(
            F.broadcast(cb),
            (F.col("parent_table") == F.col("cb_tbl"))
            & (F.col("parent_column") == F.col("cb_col")),
        )
        .withColumn(
            "containment",
            F.col("n_overlap").cast("double")
            / F.col("child_distinct").cast("double"),
        )
        .filter(
            (F.col("containment") >= 0.95)
            & (F.col("parent_distinct") == F.col("parent_rows"))
        )
        .select(
            "child_table",
            "child_column",
            "parent_table",
            "parent_column",
            "n_overlap",
            "child_distinct",
            "containment",
        )
        .orderBy(
            "child_table", "child_column", "parent_table", "parent_column"
        )
    )


#: The CATALOG of discovered FK edges, memoized per (Spark app,
#: sf_dir). A data platform runs relationship discovery ONCE and
#: catalogs the result; every consumer (the knowledge-graph view, the
#: impact traversal) reads the catalog instead of re-running the
#: distinct-value pipeline — at 100 TB that is the difference between
#: one discovery sweep and one per dashboard. The benched
#: q_join_discovery key deliberately does NOT read this memo: it IS
#: the discovery run the bench prices. Values are plain collected
#: dicts (7 edges on the fixture graph — catalog grain), so reuse is
#: session-safe; keyed by applicationId so a new session never sees a
#: stale entry, capped to the last few (sf_dir, app) pairs.
_FK_CATALOG: dict[tuple, list[dict]] = {}


def _catalog_key(spark, sf_dir) -> tuple:
    """Memo key folding a cheap fingerprint of the sf_dir parquet
    entries (name, mtime_ns, size) so a regenerated fixture within one
    Spark application invalidates the catalogs instead of serving
    stale entries while the DuckDB oracle reads fresh data (round-11
    advisor item). A ``*.parquet`` entry that is a DIRECTORY (Spark
    layout: part-files inside) is fingerprinted one level deep — inner
    part-files can be rewritten without touching the directory entry's
    own mtime (round-11 advisor item, the ``_corpus_fingerprint``
    discipline from extras72). Catalog grain: a handful of entries."""
    import os

    norm = os.path.normpath(sf_dir)

    def _entry_fp(e):
        if e.is_dir():
            inner = tuple(
                sorted(
                    (i.name, i.stat().st_mtime_ns, i.stat().st_size)
                    for i in os.scandir(e.path)
                )
            )
            return (e.name, "dir", inner)
        st = e.stat()
        return (e.name, st.st_mtime_ns, st.st_size)

    fp = tuple(
        sorted(
            _entry_fp(e)
            for e in os.scandir(norm)
            if e.name.endswith(".parquet")
        )
    )
    return (spark.sparkContext.applicationId, norm, fp)


def discovered_fk_edges(spark, sf_dir) -> list[dict]:
    key = _catalog_key(spark, sf_dir)
    if key not in _FK_CATALOG:
        while len(_FK_CATALOG) >= 8:
            _FK_CATALOG.pop(next(iter(_FK_CATALOG)))
        _FK_CATALOG[key] = [
            r.asDict() for r in q_join_discovery(spark, sf_dir).collect()
        ]
    return _FK_CATALOG[key]


#: CATALOG of captured lineage feed edges, same discipline as
#: _FK_CATALOG: the lineage capture (declaring every corpus-build
#: stage's lazy DataFrame and recording its analyzed schema) is an
#: ingest-time platform step; q_lineage_downstream remains the PRICED
#: capture key, while the graph/impact consumers read this catalog
#: (round-11 bench-tail trim). Values are (src, dst) string pairs —
#: O(stages) rows at any corpus scale.
_LINEAGE_CATALOG: dict[tuple, list[tuple]] = {}


def lineage_feed_edges(spark, sf_dir) -> list[tuple]:
    key = _catalog_key(spark, sf_dir)
    if key not in _LINEAGE_CATALOG:
        while len(_LINEAGE_CATALOG) >= 8:
            _LINEAGE_CATALOG.pop(next(iter(_LINEAGE_CATALOG)))
        log = _build_lineage(spark, sf_dir)
        _LINEAGE_CATALOG[key] = [
            (src, r.output) for r in log.records for src in r.inputs
        ]
    return _LINEAGE_CATALOG[key]


@query(
    "q_join_discovery_sketch",
    oracle=f"""
    WITH keyvals AS (
{_KEYVALS_SQL}
    ), rowcounts AS (
{_ROWCOUNTS_SQL}
    ), counts AS (
      SELECT k.tbl, k.col, COUNT(*) AS n_distinct, MAX(r.n_rows) AS n_rows
      FROM keyvals k JOIN rowcounts r ON k.tbl = r.tbl
      GROUP BY k.tbl, k.col
    ), overlap AS (
      SELECT a.tbl AS child_table, a.col AS child_column,
             b.tbl AS parent_table, b.col AS parent_column,
             COUNT(*) AS n_overlap
      FROM keyvals a
      JOIN keyvals b
        ON a.v = b.v AND a.tbl <> b.tbl
       AND SUBSTR(a.col, STRPOS(a.col, '_') + 1)
           = SUBSTR(b.col, STRPOS(b.col, '_') + 1)
      GROUP BY 1, 2, 3, 4
    )
    SELECT o.child_table, o.child_column, o.parent_table, o.parent_column
    FROM overlap o
    JOIN counts ca ON o.child_table = ca.tbl AND o.child_column = ca.col
    JOIN counts cb ON o.parent_table = cb.tbl AND o.parent_column = cb.col
    WHERE CAST(o.n_overlap AS DOUBLE) / CAST(ca.n_distinct AS DOUBLE) >= 0.95
      AND cb.n_distinct = cb.n_rows
    ORDER BY child_table, child_column, parent_table, parent_column
    """,
)
def q_join_discovery_sketch(spark, sf_dir):
    """Join-relationship discovery via KMV/theta sketches — the 100 TB
    path SCALE.md promised next to the exact ``q_join_discovery``
    (reference ``README.md:21``). Same three signals, all evaluated on
    constant-size summaries instead of full distinct sets:

    1. name affinity — same post-prefix suffix (broadcast pair filter);
    2. value containment — common-θ KMV intersection
       (``operators.sketches``): exact 1.0 for true FK subsets, an
       unbiased sample estimate otherwise, so the 0.95 threshold
       separates identically to the exact form;
    3. parent uniqueness — HLL ``approx_count_distinct`` ≥ 95% of the
       row count (both from the one profile scan per table).

    The oracle is the EXACT distinct-value formulation projected to the
    edge set — the sketch path must recover the identical 7-edge TPC-H
    FK graph, which is the whole point: same answer, but every shuffle
    carries ≤ k hashes per column instead of every distinct key.
    """
    from self_healing_data_pipeline_spark.operators.sketches import (
        column_profiles,
        kmv_sketches,
        sketch_containment,
    )

    # Both summaries are consumed by several downstream branches
    # (thresholds, thetas, child/parent sketch views, uniqueness); cache
    # them or every branch re-runs the table scans. They are tiny by
    # construction — |columns| rows and ≤ k·|columns| rows — so caching
    # them is the design, not an optimization: scan the data exactly
    # twice (profile pass, sketch pass) at ANY table size.
    profiles = column_profiles(spark, sf_dir, _KEY_CANDIDATES).cache()
    sketches = kmv_sketches(
        spark, sf_dir, _KEY_CANDIDATES, profiles, k=1024
    ).cache()
    suffix = lambda c: F.substring_index(c, "_", -1)  # noqa: E731
    cont = sketch_containment(
        sketches,
        pair_filter=(
            suffix(F.col("child_column")) == suffix(F.col("parent_column"))
        ),
    )
    parent_unique = profiles.filter(
        F.col("distinct_est").cast("double")
        >= F.lit(0.95) * F.col("n_rows").cast("double")
    ).select(
        F.col("tbl").alias("parent_table"),
        F.col("col").alias("parent_column"),
    )
    return (
        cont.filter(F.col("containment_est") >= 0.95)
        .join(
            F.broadcast(parent_unique),
            ["parent_table", "parent_column"],
            "left_semi",
        )
        .select(
            "child_table", "child_column", "parent_table", "parent_column"
        )
        .orderBy(
            "child_table", "child_column", "parent_table", "parent_column"
        )
    )


@query(
    "q_gdpr_erasure",
    oracle="""
    WITH del AS (
      SELECT c_custkey FROM customer WHERE c_custkey % 100 = 7
    ), o_purge AS (
      SELECT o_orderkey FROM orders
      WHERE o_custkey IN (SELECT c_custkey FROM del)
    )
    SELECT * FROM (
      SELECT 'customer' AS tbl,
             CAST((SELECT COUNT(*) FROM del) AS BIGINT) AS rows_purged,
             CAST((SELECT COUNT(*) FROM customer
                   WHERE c_custkey NOT IN (SELECT c_custkey FROM del))
                  AS BIGINT) AS rows_remaining,
             CAST(0 AS BIGINT) AS orphans_after
      UNION ALL
      SELECT 'orders',
             CAST((SELECT COUNT(*) FROM o_purge) AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders
                   WHERE o_orderkey NOT IN (SELECT o_orderkey FROM o_purge))
                  AS BIGINT),
             CAST((SELECT COUNT(*) FROM orders
                   WHERE o_orderkey NOT IN (SELECT o_orderkey FROM o_purge)
                     AND o_custkey IN (SELECT c_custkey FROM del))
                  AS BIGINT)
      UNION ALL
      SELECT 'lineitem',
             CAST((SELECT COUNT(*) FROM lineitem
                   WHERE l_orderkey IN (SELECT o_orderkey FROM o_purge))
                  AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem
                   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM o_purge))
                  AS BIGINT),
             CAST((SELECT COUNT(*) FROM lineitem
                   WHERE l_orderkey NOT IN (SELECT o_orderkey FROM o_purge)
                     AND l_orderkey IN (SELECT o_orderkey FROM o_purge))
                  AS BIGINT)
    ) ORDER BY tbl
    """,
)
def q_gdpr_erasure(spark, sf_dir):
    """GDPR right-to-be-forgotten CASCADE erasure audit: given a
    delete-request set (customers with ``c_custkey % 100 = 7`` — the
    deterministic stand-in for a request table), purge the customers,
    their orders, and those orders' line items, and report per table
    the rows purged, rows remaining, and — the part a compliance
    review signs off on — the ORPHAN COUNT after erasure (remaining
    rows still referencing an erased key; must be 0 by construction).

    Scale shape: the delete-request set and the derived purge-key sets
    are tiny relative to the corpus, so every membership test is a
    LEFT SEMI / LEFT ANTI join that AQE plans as a broadcast; the
    cascade is two key-propagation joins (customer→orders on custkey,
    orders→lineitem on orderkey) — no row ever carries more than a
    key. The three per-table reports reduce to 1-row frames before
    the union. Erasure-as-rewrite (anti-join + snapshot swap) is the
    write path `sources.writers` already provides; this query is the
    audit that runs before and after it."""
    cust = read_table(spark, sf_dir, "customer")
    orders = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    del_keys = cust.filter(F.col("c_custkey") % 100 == 7).select("c_custkey")
    o_purge = orders.join(
        del_keys, orders.o_custkey == del_keys.c_custkey, "left_semi"
    ).select("o_orderkey")

    def report(tbl, purged_df, remaining_df, orphan_df):
        purged = purged_df.agg(F.count(F.lit(1)).cast("bigint").alias("rows_purged"))
        remaining = remaining_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_remaining")
        )
        orphans = orphan_df.agg(
            F.count(F.lit(1)).cast("bigint").alias("orphans_after")
        )
        return (
            purged.crossJoin(remaining)
            .crossJoin(orphans)
            .select(
                F.lit(tbl).alias("tbl"),
                "rows_purged",
                "rows_remaining",
                "orphans_after",
            )
        )

    cust_rem = cust.join(del_keys, "c_custkey", "left_anti")
    ord_rem = orders.join(o_purge, "o_orderkey", "left_anti")
    li_purged = li.join(
        o_purge, li.l_orderkey == o_purge.o_orderkey, "left_semi"
    )
    li_rem = li.join(o_purge, li.l_orderkey == o_purge.o_orderkey, "left_anti")
    out = (
        report(
            "customer",
            del_keys,
            cust_rem,
            cust_rem.join(del_keys, "c_custkey", "left_semi"),
        )
        .unionByName(
            report(
                "orders",
                o_purge,
                ord_rem,
                ord_rem.join(
                    del_keys, F.col("o_custkey") == F.col("c_custkey"), "left_semi"
                ),
            )
        )
        .unionByName(
            report(
                "lineitem",
                li_purged,
                li_rem,
                li_rem.join(
                    o_purge, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
                ),
            )
        )
    )
    return out.orderBy("tbl")


# SURVEY.md §2.4 profiling / §4 optimizer support: OPTIMIZER STATISTICS
# — the numbers a cost-based planner (or a human tuning a 100 TB join)
# needs before running anything: an EQUI-DEPTH histogram (ANALYZE-grade
# value distribution, unlike q_profile_histogram's equi-width bins) and
# a JOIN-SIZE/skew ESTIMATE derived purely from key histograms (predict
# |A⋈B| without executing the join).
#
# Reference scope: the catalog app profiles columns before load
# (`APP/services/geminiService.ts:64`); these are the planner-facing
# statistics that profiling feeds at warehouse scale.


_N_BUCKETS = 8


@query(
    "q_histogram_equidepth",
    oracle=f"""
    WITH grain AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ), c AS (
      SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumw,
             SUM(cnt) OVER () AS total
      FROM grain
    ), b AS (
      SELECT v, cnt,
             (cumw - 1) * {_N_BUCKETS} // total + 1 AS bucket
      FROM c
    )
    SELECT CAST(bucket AS BIGINT) AS bucket,
           CAST(MIN(v) AS BIGINT) AS lo_cents,
           CAST(MAX(v) AS BIGINT) AS hi_cents,
           CAST(SUM(cnt) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_distinct
    FROM b GROUP BY 1 ORDER BY 1
    """,
)
def q_histogram_equidepth(spark, sf_dir):
    """EQUI-DEPTH (equi-height) histogram of order totals in 8 buckets
    — the ANALYZE statistic planners prefer over equi-width bins
    because every bucket carries the same row mass regardless of skew.
    Bucket of a value = ⌊(cum_rank−1)·B / N⌋ + 1 computed on the VALUE
    GRAIN, so ties land wholly in one bucket (deterministic; buckets
    can deviate from N/B only by tie mass, the standard contract).

    Per bucket: value bounds, row count, distinct-value count — the
    planner's selectivity table. All integer arithmetic (floor
    division; no percentile interpolation).

    Scale shape: raw rows collapse map-side to (value, count); the one
    ordered pass runs over the value grain (bounded by the price
    domain, not row count — q_weighted_median's discipline); the
    rollup partial-aggregates to B rows."""
    o = read_table(spark, sf_dir, "orders")
    grain = o.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    # The cumulative count must NOT be a global orderBy-only window
    # (SinglePartition over the whole value grain). Two-phase instead
    # (the q_pack_context / q_shard_assign pattern): coarse value
    # megabuckets (v >> 20 ≈ $10k-wide) → per-bucket subtotals →
    # cumulative offsets over the tiny bucket frame → narrow in-bucket
    # running sum.
    coarse = F.shiftright(F.col("v"), 20).alias("cb")
    g2 = grain.select("v", "cnt", coarse)
    sub = g2.groupBy("cb").agg(F.sum("cnt").alias("bsum"))
    wcb = Window.orderBy("cb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sub.select(
        "cb", F.coalesce(F.sum("bsum").over(wcb), F.lit(0)).alias("offset")
    )
    win = Window.partitionBy("cb").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = grain.agg(F.sum("cnt").alias("total"))
    c = (
        g2.join(F.broadcast(offsets), "cb")
        .withColumn("cumw", F.col("offset") + F.sum("cnt").over(win))
        .crossJoin(F.broadcast(total))
    )
    bucket = (
        ((F.col("cumw") - 1) * _N_BUCKETS - F.pmod((F.col("cumw") - 1) * _N_BUCKETS, F.col("total")))
        / F.col("total")
    ).cast("bigint") + 1
    return (
        c.select("v", "cnt", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("v").cast("bigint").alias("lo_cents"),
            F.max("v").cast("bigint").alias("hi_cents"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
        )
        .withColumn("bucket", F.col("bucket").cast("bigint"))
        .select("bucket", "lo_cents", "hi_cents", "n_rows", "n_distinct")
        .orderBy("bucket")
    )


@query(
    "q_join_size_estimate",
    oracle="""
    WITH k AS (
      SELECT l_partkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(cnt * cnt) AS BIGINT) AS total_pairs,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS ndv
      FROM k
    ), top AS (
      SELECT key, cnt, cnt * cnt AS pairs,
             ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rk
      FROM k
    )
    SELECT CAST(t.rk AS BIGINT) AS rk, t.key, t.cnt,
           CAST(t.pairs AS BIGINT) AS pairs,
           CAST(t.pairs * 1000000 // s.total_pairs AS BIGINT) AS pairs_ppm,
           s.total_pairs, s.ndv, s.n_rows
    FROM top t, tot s
    WHERE t.rk <= 10
    ORDER BY rk
    """,
)
def q_join_size_estimate(spark, sf_dir):
    """JOIN-SIZE ESTIMATION from key histograms: predict the exact
    output cardinality of the lineitem⋈lineitem self-join on
    l_partkey — Σ cnt(k)² over the key histogram — WITHOUT executing
    the join, plus the top-10 heaviest keys with their pair
    contribution in exact ppm. This is what decides, before a 100 TB
    join runs, whether the output explodes and which keys need
    salting/AQE skew handling (the planning step q_skew_report's
    per-key counts feed; for a two-table join the same identity is
    Σ cnt_A(k)·cnt_B(k) over the shared histogram grain).

    All exact integers: the identity |A⋈_k A| = Σ cnt_k² is algebra,
    not an estimate — sampling/sketch variants (KMV on the key column,
    q_join_discovery_sketch's machinery) trade exactness for one scan
    when histograms are unavailable.

    Scale shape: ONE key-grain partial-aggregated count, a broadcast
    1-row total, top-10 via TakeOrderedAndProject. The predicted join
    is never executed."""
    li = read_table(spark, sf_dir, "lineitem")
    k = li.groupBy(F.col("l_partkey").alias("key")).agg(
        F.count(F.lit(1)).cast("bigint").alias("cnt")
    )
    tot = k.agg(
        F.sum(F.col("cnt") * F.col("cnt")).cast("bigint").alias("total_pairs"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
    )
    top = (
        k.withColumn("pairs", F.col("cnt") * F.col("cnt"))
        .orderBy(F.desc("cnt"), F.asc("key"))
        .limit(10)
    )
    rk = F.row_number().over(Window.orderBy(F.desc("cnt"), F.asc("key")))
    scaled = F.col("pairs") * F.lit(1000000)
    ppm = (
        (scaled - F.pmod(scaled, F.col("total_pairs"))) / F.col("total_pairs")
    ).cast("bigint")
    return (
        top.crossJoin(F.broadcast(tot))
        .withColumn("rk", rk.cast("bigint"))
        .select(
            "rk",
            "key",
            "cnt",
            F.col("pairs").cast("bigint").alias("pairs"),
            ppm.alias("pairs_ppm"),
            "total_pairs",
            "ndv",
            "n_rows",
        )
        .orderBy("rk")
    )


# SURVEY.md §2.1 storage layout / §2.4: the STORAGE-LAYOUT PLANNER pair
# every lakehouse maintenance service runs — (a) compaction bin-packing
# (which small files coalesce into which target-sized output file) and
# (b) zone-map data skipping (how many files a predicate can prune from
# min/max footer stats, and the false-positive rows the survivors still
# scan). Both are pure declarative plans over a logical file model, so
# the planner itself runs distributed — no driver-side file listing
# loop.
#
# The logical file model: lineitem rows shard into "files" keyed by
# (ship month, l_orderkey % 8) with file bytes = Σ(100 + 4*round(qty)) per row
# — the shape a date-partitioned ingest with hash-bucketed writers
# produces. The reference delegates storage maintenance to its embedded
# store (automated-data-catalog-&-etl/services/pgliteService.ts:36-49);
# here both planner halves are Spark plans with DuckDB oracle twins.


# Compaction target size (bytes). Small enough that sf0.01's ~13 KB
# logical files pack several bins per month; the real knob would be
# 128-1024 MB — the plan shape is size-independent.
_TARGET = 32_768

_FILE_MODEL = """
    SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month,
           CAST(l_orderkey % 8 AS BIGINT) AS file_id,
           CAST(SUM(100 + CAST(ROUND(l_quantity) AS BIGINT) * 4) AS BIGINT) AS file_bytes,
           CAST(COUNT(*) AS BIGINT) AS file_rows,
           MIN(l_extendedprice) AS zmin,
           MAX(l_extendedprice) AS zmax
    FROM lineitem
    GROUP BY 1, 2
"""


@query(
    "q_compaction_bins",
    oracle=f"""
    WITH files AS ({_FILE_MODEL}),
    packed AS (
      SELECT ship_month, file_id, file_bytes, file_rows,
             CAST(FLOOR(
               (SUM(file_bytes) OVER (PARTITION BY ship_month
                                      ORDER BY file_id
                                      ROWS BETWEEN UNBOUNDED PRECEDING
                                      AND CURRENT ROW)
                - file_bytes) / {_TARGET}.0) AS BIGINT) AS bin
      FROM files
    )
    SELECT ship_month, bin,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(file_bytes) AS BIGINT) AS bin_bytes,
           CAST(SUM(file_rows) AS BIGINT) AS bin_rows,
           CAST(MIN(file_id) AS BIGINT) AS first_file,
           CAST(MAX(file_id) AS BIGINT) AS last_file
    FROM packed
    GROUP BY ship_month, bin
    ORDER BY ship_month, bin
    """,
)
def q_compaction_bins(spark, sf_dir):
    """COMPACTION PLAN (OPTIMIZE bin-packing): coalesce each ship
    month's small files into ~32 KB output bins by boundary-split on
    the cumulative-bytes axis — file f lands in bin
    floor(cum_bytes_before_f / target), the same split rule Spark's
    own file coalescer (maxPartitionBytes packing) and Delta OPTIMIZE
    apply to a sorted file list.

    Scale shape: file stats are one partial-aggregated groupBy at
    (month, file) grain; the running-bytes window partitions by month
    (files-per-partition is bounded — ~10^3-10^4 in a real layout), so
    the planner parallelizes across partitions and never touches a
    SinglePartition sort or a driver-side file loop."""
    li = read_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        (F.col("l_orderkey") % 8).cast("bigint").alias("file_id"),
    ).agg(
        F.sum(F.lit(100) + F.round("l_quantity").cast("bigint") * 4)
        .cast("bigint")
        .alias("file_bytes"),
        F.count(F.lit(1)).cast("bigint").alias("file_rows"),
    )
    w = (
        Window.partitionBy("ship_month")
        .orderBy("file_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    packed = files.withColumn(
        "bin",
        F.floor(
            (F.sum("file_bytes").over(w) - F.col("file_bytes")) / _TARGET
        ).cast("bigint"),
    )
    return (
        packed.groupBy("ship_month", "bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum("file_bytes").cast("bigint").alias("bin_bytes"),
            F.sum("file_rows").cast("bigint").alias("bin_rows"),
            F.min("file_id").cast("bigint").alias("first_file"),
            F.max("file_id").cast("bigint").alias("last_file"),
        )
        .orderBy("ship_month", "bin")
    )


@query(
    "q_zone_map_prune",
    oracle=f"""
    WITH files AS ({_FILE_MODEL}),
    verdicts AS (
      SELECT ship_month, file_id, file_rows,
             (zmax >= 20000 AND zmin <= 30000) AS scanned
      FROM files
    ),
    matched AS (
      SELECT STRFTIME(l_shipdate, '%Y-%m') AS ship_month,
             CAST(COUNT(*) AS BIGINT) AS rows_matched
      FROM lineitem
      WHERE l_extendedprice BETWEEN 20000 AND 30000
      GROUP BY 1
    )
    SELECT v.ship_month,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN v.scanned THEN 0 ELSE 1 END) AS BIGINT)
             AS files_pruned,
           CAST(SUM(v.file_rows) AS BIGINT) AS rows_total,
           CAST(SUM(CASE WHEN v.scanned THEN v.file_rows ELSE 0 END)
             AS BIGINT) AS rows_scanned,
           CAST(COALESCE(MAX(m.rows_matched), 0) AS BIGINT) AS rows_matched,
           CAST(SUM(CASE WHEN v.scanned THEN v.file_rows ELSE 0 END)
             - COALESCE(MAX(m.rows_matched), 0) AS BIGINT)
             AS false_positive_rows
    FROM verdicts v LEFT JOIN matched m ON v.ship_month = m.ship_month
    GROUP BY v.ship_month
    ORDER BY v.ship_month
    """,
)
def q_zone_map_prune(spark, sf_dir):
    """ZONE-MAP SKIPPING AUDIT: from per-file min/max footer stats
    (the zone maps parquet row groups and Delta file stats carry),
    decide which files the predicate `l_extendedprice BETWEEN 20000
    AND 30000` can prune outright (zone disjoint from the range), and
    for the files that must be scanned, how many of their rows are
    false positives — the number data skipping cannot save and only
    row-level filtering removes. This is the audit that tells a
    layout service whether re-clustering (Z-order) on a column would
    pay off: high false-positive ratio = poor clustering on that key.

    Scale shape: zone maps are the same (month, file)-grain partial
    aggregate; the verdict is a per-file expression; the matched-row
    recount pushes the BETWEEN into the parquet scan. One broadcast-
    size LEFT JOIN at month grain. No SinglePartition anywhere."""
    li = read_table(spark, sf_dir, "lineitem")
    files = li.groupBy(
        F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"),
        (F.col("l_orderkey") % 8).cast("bigint").alias("file_id"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("file_rows"),
        F.min("l_extendedprice").alias("zmin"),
        F.max("l_extendedprice").alias("zmax"),
    )
    verdicts = files.withColumn(
        "scanned", (F.col("zmax") >= 20000) & (F.col("zmin") <= 30000)
    )
    matched = (
        li.filter(F.col("l_extendedprice").between(20000, 30000))
        .groupBy(F.date_format("l_shipdate", "yyyy-MM").alias("ship_month"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("rows_matched"))
    )
    return (
        verdicts.groupBy("ship_month")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.when(F.col("scanned"), 0).otherwise(1))
            .cast("bigint")
            .alias("files_pruned"),
            F.sum("file_rows").cast("bigint").alias("rows_total"),
            F.sum(F.when(F.col("scanned"), F.col("file_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_scanned"),
        )
        .join(F.broadcast(matched), "ship_month", "left")
        .select(
            "ship_month",
            "n_files",
            "files_pruned",
            "rows_total",
            "rows_scanned",
            F.coalesce(F.col("rows_matched"), F.lit(0))
            .cast("bigint")
            .alias("rows_matched"),
            (
                F.col("rows_scanned")
                - F.coalesce(F.col("rows_matched"), F.lit(0))
            )
            .cast("bigint")
            .alias("false_positive_rows"),
        )
        .orderBy("ship_month")
    )


# SURVEY.md §2.1 ops / §2.4 planner aids: RETENTION SWEEP (which SCD2
# version rows are physically deletable under a retention policy — the
# VACUUM-style eligibility plan that must respect both age AND
# supersession) and the PARTITION-KEY ADVISOR (candidate partitioning
# keys compared in one report: cardinality, balance, skew — the decision
# input before bucketing/repartitioning a 100 TB table).
#
# Both are pure integer/count plans with deterministic total orders.


# Retention horizon: versions superseded before this date are
# physically deletable (kept: anything current or recently closed —
# time travel inside the horizon still needs them).
_RETAIN_FROM = "2000-01-01"


@query(
    "q_retention_sweep",
    oracle=f"""
    WITH v AS (
      SELECT o_custkey,
             o_orderkey AS version_key,
             o_orderdate AS effective_from,
             LEAD(o_orderdate) OVER w AS effective_to
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ), flagged AS (
      SELECT o_custkey,
             (effective_to IS NOT NULL
              AND effective_to < TIMESTAMP '{_RETAIN_FROM}')
               AS deletable
      FROM v
    )
    SELECT o_custkey AS custkey,
           CAST(COUNT(*) AS BIGINT) AS n_versions,
           CAST(SUM(CASE WHEN deletable THEN 1 ELSE 0 END) AS BIGINT)
             AS n_deletable,
           CAST(SUM(CASE WHEN deletable THEN 0 ELSE 1 END) AS BIGINT)
             AS n_retained
    FROM flagged
    GROUP BY o_custkey
    HAVING SUM(CASE WHEN deletable THEN 1 ELSE 0 END) > 0
    ORDER BY n_deletable DESC, custkey LIMIT 50
    """,
)
def q_retention_sweep(spark, sf_dir):
    """RETENTION SWEEP over the SCD2 version history (same build as
    q_scd2_versions): a version row is physically deletable iff it is
    SUPERSEDED (effective_to set) and its supersession happened before
    the retention horizon — current rows and recently-closed rows must
    stay (time travel within the horizon reads them). Emits the
    per-key deletion plan (top 50 keys by reclaimable versions) — the
    input a VACUUM/compaction job consumes.

    Scale shape: one lead() window per dimension key (the SCD2 shuffle
    that builds validity anyway), a narrow flag, one partial-
    aggregated rollup, TakeOrdered(50). Deletability is pure date
    comparison — no floats."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    eff_to = F.lead("o_orderdate").over(w)
    flagged = o.select(
        "o_custkey",
        (
            eff_to.isNotNull() & (eff_to < F.lit(_RETAIN_FROM))
        ).alias("deletable"),
    )
    return (
        flagged.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_versions"),
            F.sum(F.when(F.col("deletable"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_deletable"),
            F.sum(F.when(F.col("deletable"), 0).otherwise(1))
            .cast("bigint")
            .alias("n_retained"),
        )
        .where(F.col("n_deletable") > 0)
        .orderBy(F.col("n_deletable").desc(), F.col("custkey"))
        .limit(50)
    )


# Pages follow the q_compaction_bins file model: (ship month,
# orderkey % 8). Runs never span pages — exactly parquet's RLE scope.
_ADVISOR_COLS = ("l_returnflag", "l_linestatus", "l_quantity")


def _advisor_oracle() -> str:
    branches = []
    for col in _ADVISOR_COLS:
        val = (
            f"CAST(ROUND({col}) AS BIGINT)"
            if col == "l_quantity"
            else f"ASCII({col})"
        )
        branches.append(
            f"""
    SELECT '{col}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv,
           CAST(SUM(is_run_start) AS BIGINT) AS n_runs,
           CAST(COUNT(*) AS DOUBLE) / CAST(SUM(is_run_start) AS DOUBLE)
             AS avg_run_len,
           CASE WHEN COUNT(DISTINCT v) <= 16 AND
                     COUNT(*) >= 4 * SUM(is_run_start) THEN 'RLE_DICT'
                WHEN COUNT(DISTINCT v) <= 16 THEN 'DICT'
                ELSE 'PLAIN' END AS recommendation
    FROM (
      SELECT v,
             CASE WHEN LAG(v) OVER (PARTITION BY pg ORDER BY ok, ln, v)
                       IS DISTINCT FROM v THEN 1 ELSE 0 END AS is_run_start
      FROM (
        SELECT {val} AS v,
               STRFTIME(l_shipdate, '%Y-%m') || '/' ||
                 CAST(l_orderkey % 8 AS VARCHAR) AS pg,
               l_orderkey AS ok, l_linenumber AS ln
        FROM lineitem
      )
    )"""
        )
    return " UNION ALL ".join(branches) + " ORDER BY column_name"


@query("q_encoding_advisor", oracle=_advisor_oracle())
def q_encoding_advisor(spark, sf_dir):
    """COLUMNAR ENCODING ADVISOR: for each candidate column, the
    distinct-value count and the PAGE-LOCAL run statistics (runs
    counted within the q_compaction_bins page model — (ship month,
    orderkey%8) — never across pages, exactly parquet's RLE scope
    under the (orderkey, linenumber, value) write order — the value
    tie-break makes run counts total-order deterministic because the
    fixture's (orderkey, linenumber) is not unique, and equal-value
    ties are interchangeable for run counting), and the resulting
    encoding recommendation: ≤16 NDV with avg run ≥4 → RLE_DICT,
    ≤16 NDV → DICT, else PLAIN. The report a layout service reads to
    decide whether re-sorting a table would compress it.

    Scale shape: run starts come from a lag window PARTITIONED BY
    PAGE (pages are bounded, parallel — never a table-order global
    sort); each column's stats collapse in one partial-aggregated
    pass with a two-level distinct expand. Columns widen the union,
    not the data path. Values map to exact integers (ASCII first
    char / rounded quantity) so run equality is integer equality."""
    li = read_table(spark, sf_dir, "lineitem")
    pg = F.concat(
        F.date_format("l_shipdate", "yyyy-MM"),
        F.lit("/"),
        (F.col("l_orderkey") % 8).cast("string"),
    )
    outs = []
    for col in _ADVISOR_COLS:
        v = (
            F.round(F.col(col)).cast("bigint")
            if col == "l_quantity"
            else F.ascii(F.col(col))
        )
        base = li.select(
            v.alias("v"),
            pg.alias("pg"),
            F.col("l_orderkey").alias("ok"),
            F.col("l_linenumber").alias("ln"),
        )
        wl = Window.partitionBy("pg").orderBy("ok", "ln", "v")
        runs = base.withColumn(
            "is_run_start",
            F.when(
                ~F.lag("v").over(wl).eqNullSafe(F.col("v")), 1
            ).otherwise(0),
        )
        stats = runs.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.countDistinct("v").cast("bigint").alias("ndv"),
            F.sum("is_run_start").cast("bigint").alias("n_runs"),
        )
        outs.append(
            stats.select(
                F.lit(col).alias("column_name"),
                "n_values",
                "ndv",
                "n_runs",
                (
                    F.col("n_values").cast("double")
                    / F.col("n_runs").cast("double")
                ).alias("avg_run_len"),
                F.when(
                    (F.col("ndv") <= 16)
                    & (F.col("n_values") >= 4 * F.col("n_runs")),
                    "RLE_DICT",
                )
                .when(F.col("ndv") <= 16, "DICT")
                .otherwise("PLAIN")
                .alias("recommendation"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionAll(x)
    return out.orderBy("column_name")


_GRAM_LEN = 16
_GRAM_STRIDE = 8
_DICT_TOP = 50


@query(
    "q_dict_candidates",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_NORM.format(c='text')} AS nt FROM documents
    ), g AS (
      SELECT doc_id, SUBSTR(nt, CAST(i AS INT), {_GRAM_LEN}) AS gram
      FROM (
        SELECT doc_id, nt,
               UNNEST(GENERATE_SERIES(
                 1, LEN(nt) - {_GRAM_LEN - 1}, {_GRAM_STRIDE})) AS i
        FROM t WHERE LEN(nt) >= {_GRAM_LEN}
      )
    )
    SELECT gram,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST((COUNT(*) - 1) * {_GRAM_LEN - 2} AS BIGINT) AS est_savings
    FROM g GROUP BY gram HAVING COUNT(*) >= 2
    ORDER BY est_savings DESC, gram LIMIT {_DICT_TOP}
    """,
)
def q_dict_candidates(spark, sf_dir):
    """SHARED-SUBSTRING DICTIONARY CANDIDATES: the top-50 repeated
    16-char grams (sampled at stride 8, the aligned sampling a
    zstd-style dictionary trainer uses) across the normalized corpus,
    scored by the standard savings model (occurrences−1) · (len −
    ref_cost) — the shortlist a column-store hands its dictionary
    builder before compressing a string column, and the corpus-level
    complement of q_encoding_advisor's page-local run statistics.

    Scale shape: grams come from the shared LINEAR span extractor
    (`operators.text.strided_spans` — round-10 class audit: the
    earlier `transform(sequence(...), i -> substring(nt, i, 16))` form
    was the q_doc_chunks quadratic on long documents, O(pos) per gram
    from substring's UTF-8 walk), one gram-grain partial-aggregated
    count (shuffle carries the 16-char gram, never documents), HAVING
    ≥2 prunes the singleton long tail before ranking, and the top-50
    is a TakeOrderedAndProject with the gram itself as tie-break."""
    docs = read_table(spark, sf_dir, "documents")
    from self_healing_data_pipeline_spark.operators.dedup import normalize_text
    from self_healing_data_pipeline_spark.operators.text import strided_spans

    t = docs.select("doc_id", normalize_text("text").alias("nt")).where(
        F.length("nt") >= _GRAM_LEN
    )
    g = strided_spans(
        t, "doc_id", F.col("nt"), _GRAM_LEN, _GRAM_STRIDE, out_col="gram"
    ).select("doc_id", "gram")
    return (
        g.groupBy("gram")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("bigint").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= 2)
        .select(
            "gram",
            "n_occurrences",
            "n_docs",
            ((F.col("n_occurrences") - 1) * (_GRAM_LEN - 2))
            .cast("bigint")
            .alias("est_savings"),
        )
        .orderBy(F.col("est_savings").desc(), "gram")
        .limit(_DICT_TOP)
    )


# SURVEY.md §2.1 storage / §2.9 graph: SORT-KEY WHAT-IF advisor (for
# each candidate sort key, the EXACT run count a target column would
# have if pages were rewritten sorted by that key — the closed form
# count(distinct (page, key, value)), no actual sort needed) and the
# CO-PURCHASE DEGREE DISTRIBUTION (log2-bucketed degree histogram of the
# part co-occurrence graph — the structural summary that predicts which
# graph ops blow up).
#
# Exactness: run counts and degrees are exact integers; the only
# doubles are final mirrored ratios.


# Same page model as q_encoding_advisor / q_compaction_bins.
_PG_SQL = (
    "STRFTIME(l_shipdate, '%Y-%m') || '/' || CAST(l_orderkey % 8 AS VARCHAR)"
)
# Candidate sort keys evaluated for the rounded-quantity target column.
_CANDIDATES = ("l_returnflag", "l_linestatus", "l_shipdate")


def _whatif_oracle() -> str:
    branches = []
    for k in _CANDIDATES:
        kv = f"CAST({k} AS VARCHAR)"
        branches.append(
            f"""
    SELECT '{k}' AS sort_key,
           CAST(COUNT(*) AS BIGINT) AS n_values,
           CAST(COUNT(DISTINCT (pg, {kv}, v)) AS BIGINT) AS n_runs,
           CAST(COUNT(*) AS DOUBLE)
             / CAST(COUNT(DISTINCT (pg, {kv}, v)) AS DOUBLE) AS avg_run_len
    FROM (
      SELECT {_PG_SQL} AS pg, {kv} AS k,
             CAST(ROUND(l_quantity) AS BIGINT) AS v,
             l_returnflag, l_linestatus, l_shipdate
      FROM lineitem
    )"""
        )
    return " UNION ALL ".join(branches) + " ORDER BY sort_key"


@query("q_sort_key_whatif", oracle=_whatif_oracle())
def q_sort_key_whatif(spark, sf_dir):
    """SORT-KEY WHAT-IF: for each candidate sort key, the exact RLE
    run count the rounded-quantity column would have if every page
    were rewritten sorted by (key, value) — without sorting anything,
    because after such a sort equal (page, key, value) rows are
    adjacent, so runs = COUNT(DISTINCT (page, key, value)). This is
    the second half of the layout service q_encoding_advisor starts:
    the advisor measures runs under the CURRENT order; this predicts
    runs under each candidate REWRITE, so "re-sort by returnflag
    halves the run count" is a query, not an experiment.

    Scale shape: one distinct-count aggregate per candidate (columns
    widen the union, not the data path); no window, no sort, no
    shuffle beyond the distinct's partial aggregation. The closed
    form is exact — not an estimate."""
    li = read_table(spark, sf_dir, "lineitem")
    pg = F.concat(
        F.date_format("l_shipdate", "yyyy-MM"),
        F.lit("/"),
        (F.col("l_orderkey") % 8).cast("string"),
    )
    base = li.select(
        pg.alias("pg"),
        F.round(F.col("l_quantity")).cast("bigint").alias("v"),
        F.col("l_returnflag").cast("string").alias("l_returnflag"),
        F.col("l_linestatus").cast("string").alias("l_linestatus"),
        F.col("l_shipdate").cast("string").alias("l_shipdate"),
    )
    outs = []
    for k in _CANDIDATES:
        stats = base.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_values"),
            F.countDistinct("pg", k, "v").cast("bigint").alias("n_runs"),
        )
        outs.append(
            stats.select(
                F.lit(k).alias("sort_key"),
                "n_values",
                "n_runs",
                (
                    F.col("n_values").cast("double")
                    / F.col("n_runs").cast("double")
                ).alias("avg_run_len"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionAll(x)
    return out.orderBy("sort_key")


# Integer-domain columns audited for zone-map usefulness.
_DEPTH_COLS = (
    ("l_quantity", "CAST(ROUND(l_quantity) AS BIGINT)"),
    ("l_shipdate_day", "CAST(l_shipdate AS DATE) - DATE '1970-01-05'"),
    ("l_partkey", "l_partkey"),
)


def _depth_oracle() -> str:
    branches = []
    for name, expr in _DEPTH_COLS:
        branches.append(
            f"""
    SELECT '{name}' AS column_name,
           CAST(COUNT(*) AS BIGINT) AS n_pages,
           CAST(SUM(hi - lo + 1) AS BIGINT) AS total_span,
           CAST(MAX(hi) - MIN(lo) + 1 AS BIGINT) AS domain_span,
           CAST(SUM(hi - lo + 1) AS DOUBLE)
             / CAST(MAX(hi) - MIN(lo) + 1 AS DOUBLE) AS clustering_depth
    FROM (
      SELECT pg, MIN(v) AS lo, MAX(v) AS hi
      FROM (SELECT {_PG_SQL} AS pg, {expr} AS v FROM lineitem)
      GROUP BY pg
    )"""
        )
    return " UNION ALL ".join(branches) + " ORDER BY column_name"


@query("q_clustering_depth", oracle=_depth_oracle())
def q_clustering_depth(spark, sf_dir):
    """CLUSTERING DEPTH: for each integer-domain column, the expected
    number of pages a point query must touch — Σ(page_max − page_min
    + 1) / (domain_max − domain_min + 1), i.e. how many page zones
    overlap a uniformly random domain point. depth ≈ 1 means the
    column is perfectly clustered (zone maps skip almost everything);
    depth ≈ n_pages means zones are useless and q_sort_key_whatif's
    rewrite is worth it. The Snowflake-style clustering-depth metric,
    computed exactly.

    Scale shape: one page-grain MIN/MAX aggregate per column (pages
    are bounded and parallel), then a 1-row scalar rollup per column;
    columns widen the union, not the data path. All spans are exact
    integers (quantities rounded, dates as epoch days, keys raw)."""
    li = read_table(spark, sf_dir, "lineitem")
    pg = F.concat(
        F.date_format("l_shipdate", "yyyy-MM"),
        F.lit("/"),
        (F.col("l_orderkey") % 8).cast("string"),
    )
    spark_exprs = {
        "l_quantity": F.round(F.col("l_quantity")).cast("bigint"),
        "l_shipdate_day": F.datediff(
            F.col("l_shipdate"), F.lit("1970-01-05").cast("date")
        ).cast("bigint"),
        "l_partkey": F.col("l_partkey").cast("bigint"),
    }
    outs = []
    for name, _ in _DEPTH_COLS:
        zones = (
            li.select(pg.alias("pg"), spark_exprs[name].alias("v"))
            .groupBy("pg")
            .agg(F.min("v").alias("lo"), F.max("v").alias("hi"))
        )
        stats = zones.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pages"),
            F.sum(F.col("hi") - F.col("lo") + 1)
            .cast("bigint")
            .alias("total_span"),
            (F.max("hi") - F.min("lo") + 1).cast("bigint").alias(
                "domain_span"
            ),
        )
        outs.append(
            stats.select(
                F.lit(name).alias("column_name"),
                "n_pages",
                "total_span",
                "domain_span",
                (
                    F.col("total_span").cast("double")
                    / F.col("domain_span").cast("double")
                ).alias("clustering_depth"),
            )
        )
    out = outs[0]
    for x in outs[1:]:
        out = out.unionAll(x)
    return out.orderBy("column_name")


# SURVEY.md §2.4 optimizer stats / §2.11 corpus: SELECTIVITY AUDIT (the
# planner's uniform-within-bucket range estimate from the equi-depth
# histogram, scored against the exact count for a fixed probe panel —
# the estimator-error report that decides whether 8 buckets are enough)
# and the DATASET CARD (the one-row corpus summary — docs, sources,
# languages, tokens, exact-dup rate — every corpus release ships as its
# datasheet front matter).
#
# Exactness: estimates are exact integers by construction (the
# interpolation is integer-scaled floor division, summed as BIGINTs);
# actual counts are exact; the card is pure integer counting.


# Probe ranges in exact cents (closed intervals), spanning low /
# middle / high / open-bottom shapes of the o_totalprice domain.
_PROBES = (
    (1, 0, 5_000_000),
    (2, 5_000_000, 10_000_000),
    (3, 10_000_000, 20_000_000),
    (4, 20_000_000, 40_000_000),
)
_SCALE = 1_000_000


def _probe_values_sql() -> str:
    rows = ", ".join(f"({pid}, {a}, {b})" for pid, a, b in _PROBES)
    return f"(VALUES {rows}) AS probes(probe_id, a, b)"


@query(
    "q_selectivity_audit",
    oracle=f"""
    WITH grain AS (
      SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders GROUP BY 1
    ), c AS (
      SELECT v, cnt,
             SUM(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS cumw,
             SUM(cnt) OVER () AS total
      FROM grain
    ), hist AS (
      SELECT (cumw - 1) * {_N_BUCKETS} // total + 1 AS bucket,
             CAST(MIN(v) AS BIGINT) AS lo,
             CAST(MAX(v) AS BIGINT) AS hi,
             CAST(SUM(cnt) AS BIGINT) AS n_rows
      FROM c GROUP BY 1
    ), est AS (
      SELECT probe_id, a, b,
             CAST(SUM(n_rows *
                  ((GREATEST(LEAST(hi, b) - GREATEST(lo, a) + 1, 0)
                    * {_SCALE}) // (hi - lo + 1))) AS BIGINT) AS est_scaled
      FROM hist CROSS JOIN {_probe_values_sql()}
      GROUP BY 1, 2, 3
    ), act AS (
      SELECT probe_id,
             CAST(COUNT(*) AS BIGINT) AS actual
      FROM (SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS v
            FROM orders) o
      CROSS JOIN {_probe_values_sql()}
      WHERE o.v BETWEEN probes.a AND probes.b
      GROUP BY 1
    )
    SELECT est.probe_id AS probe_id,
           CAST(est.a AS BIGINT) AS lo_cents,
           CAST(est.b AS BIGINT) AS hi_cents,
           CAST(COALESCE(act.actual, 0) AS BIGINT) AS actual_rows,
           CAST(est.est_scaled AS DOUBLE) / {_SCALE} AS estimated_rows,
           (CAST(est.est_scaled AS DOUBLE) / {_SCALE}
            - CAST(COALESCE(act.actual, 0) AS DOUBLE))
             / CAST(COALESCE(act.actual, 0) AS DOUBLE) AS rel_error
    FROM est LEFT JOIN act ON est.probe_id = act.probe_id
    ORDER BY probe_id
    """,
)
def q_selectivity_audit(spark, sf_dir):
    """SELECTIVITY AUDIT: for each probe range, the exact row count
    next to the planner's estimate — uniform interpolation inside the
    8-bucket equi-depth histogram (overlap/width of each bucket,
    integer-scaled ×10⁶ floor division so the estimate itself is an
    exact BIGINT and sums order-independently) — and the relative
    error. This is the feedback loop for q_histogram_equidepth /
    q_join_size_estimate: a planner trusts its stats only as far as
    this report says it should.

    Scale shape: the histogram reuses the two-phase banded cumulative
    (coarse v>>20 megabuckets → bounded offsets → in-bucket running
    sum, q_histogram_equidepth's exact pattern — no SinglePartition
    over the value grain); the estimator is an 8×4 broadcast cross of
    BOUNDED tables; actuals are ONE conditional-aggregate pass over
    the fact (probes as filter expressions, no per-probe rescans)."""
    o = read_table(spark, sf_dir, "orders")
    grain = o.groupBy(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    coarse = F.shiftright(F.col("v"), 20).alias("cb")
    g2 = grain.select("v", "cnt", coarse)
    sub = g2.groupBy("cb").agg(F.sum("cnt").alias("bsum"))
    wcb = Window.orderBy("cb").rowsBetween(Window.unboundedPreceding, -1)
    offsets = sub.select(
        "cb", F.coalesce(F.sum("bsum").over(wcb), F.lit(0)).alias("offset")
    )
    win = Window.partitionBy("cb").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = grain.agg(F.sum("cnt").alias("total"))
    c = (
        g2.join(F.broadcast(offsets), "cb")
        .withColumn("cumw", F.col("offset") + F.sum("cnt").over(win))
        .crossJoin(F.broadcast(total))
    )
    bucket = F.expr(f"(cumw - 1) * {_N_BUCKETS} div total") + 1
    hist = (
        c.select("v", "cnt", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(
            F.min("v").cast("bigint").alias("lo"),
            F.max("v").cast("bigint").alias("hi"),
            F.sum("cnt").cast("bigint").alias("n_rows"),
        )
    )
    probes = o.sparkSession.createDataFrame(
        list(_PROBES), "probe_id INT, a BIGINT, b BIGINT"
    )
    ov = F.greatest(
        F.least(F.col("hi"), F.col("b"))
        - F.greatest(F.col("lo"), F.col("a"))
        + 1,
        F.lit(0),
    )
    est = (
        hist.crossJoin(F.broadcast(probes))
        .withColumn("ov", ov)
        .withColumn(
            "contrib",
            F.col("n_rows")
            * F.expr(f"(ov * {_SCALE}) div (hi - lo + 1)"),
        )
        .groupBy("probe_id", "a", "b")
        .agg(F.sum("contrib").cast("bigint").alias("est_scaled"))
    )
    acts = [
        F.sum(
            F.when(
                (F.col("v") >= F.lit(a)) & (F.col("v") <= F.lit(b)), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias(f"act_{pid}")
        for pid, a, b in _PROBES
    ]
    act_wide = o.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v")
    ).agg(*acts)
    act = act_wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pid).cast("int").alias("probe_id"),
                        F.col(f"act_{pid}").alias("actual"),
                    )
                    for pid, _, _ in _PROBES
                ]
            )
        ).alias("s")
    ).select("s.probe_id", "s.actual")
    est_rows = F.col("est_scaled").cast("double") / F.lit(_SCALE)
    return (
        est.join(F.broadcast(act), "probe_id", "left")
        .select(
            "probe_id",
            F.col("a").cast("bigint").alias("lo_cents"),
            F.col("b").cast("bigint").alias("hi_cents"),
            F.coalesce(F.col("actual"), F.lit(0))
            .cast("bigint")
            .alias("actual_rows"),
            est_rows.alias("estimated_rows"),
            (
                (
                    est_rows
                    - F.coalesce(F.col("actual"), F.lit(0)).cast("double")
                )
                / F.coalesce(F.col("actual"), F.lit(0)).cast("double")
            ).alias("rel_error"),
        )
        .orderBy("probe_id")
    )


# SURVEY.md Tier-A catalog / reference vision ``README.md:7``: the
# KNOWLEDGE-GRAPH VIEW of the catalog — one typed edge list unifying (a)
# schema structure (table → column), (b) the FK relationships
# q_join_discovery recovers from data+names alone, and (c) the lineage
# edges a pipeline run records — plus IMPACT ANALYSIS re-expressed as a
# graph reachability query over that unified view (the downstream_of
# question, but now crossing from physical FK dependencies into pipeline
# lineage in one traversal).
#
# Exactness: edges are strings from frozen fixture schemas, the
# deterministic join-discovery formulation (oracle-shared CTEs), and
# the static declared pipeline — both queries are fully oracle-backed.


#: Session catalog of has_column schema edges (parquet-footer capture),
#: same discipline and key rule as _FK_CATALOG.
_SCHEMA_CATALOG: dict[tuple, list[tuple]] = {}

#: Every fixture table contributes its schema to the graph's
#: has_column edges (names come from the parquet footers on the Spark
#: side and DESCRIBE on the DuckDB side — a real capture, not a
#: hand-typed mirror).
_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

_HAS_COLUMN_SQL = "\n      UNION ALL\n".join(
    f"      SELECT '{t}' AS src, '{t}.' || column_name AS dst "
    f"FROM (DESCRIBE SELECT * FROM {t})"
    for t in _TABLES
)


_FK_CTES = FK_DISCOVERY_CTES


@query(
    "q_catalog_graph",
    oracle=f"""
    WITH {_FK_CTES}
    SELECT 'has_column' AS edge_type, src, dst
    FROM (
{_HAS_COLUMN_SQL}
    )
    UNION ALL
    SELECT 'fk' AS edge_type,
           child_table || '.' || child_column AS src,
           parent_table || '.' || parent_column AS dst
    FROM fk
    UNION ALL
    SELECT 'feeds' AS edge_type, src, dst
    FROM (VALUES {_EDGE_VALUES}) AS t(src, dst)
    ORDER BY edge_type, src, dst
    """,
)
def q_catalog_graph(spark, sf_dir):
    """The catalog as a GRAPH: one typed (edge_type, src, dst) edge
    list unifying three layers a data platform usually keeps apart —

    - ``has_column``: physical schema structure, captured from the
      parquet footers of every fixture table (metadata-only read);
    - ``fk``: the 7-edge TPC-H FK graph q_join_discovery recovers from
      value containment + name affinity + parent uniqueness (the
      reference's "データ間の関係性を自動で発見" vision), at column
      grain (``lineitem.l_orderkey → orders.o_orderkey``);
    - ``feeds``: dataset-level lineage edges from the LineageLog
      capture of the declared corpus-build pipeline.

    One view a user (or q_catalog_graph_impact) can traverse without
    knowing which subsystem owns each relationship — the reference's
    knowledge-graph/catalog vision (``README.md:7``) as a query.

    Scale shape: schema edges are O(columns) literals; FK edges reuse
    q_join_discovery's distinct-value shuffle (key values only, never
    payloads); lineage edges are O(stages). The union is metadata-
    sized at any corpus scale — the whole point of a catalog graph.
    Round 11: schema capture (parquet-footer reads per table) and the
    lineage capture both read their session CATALOGS (the FK-edge
    discipline) — a platform catalogs schema/lineage once at ingest;
    q_lineage_downstream remains the priced lineage-capture key."""
    key = _catalog_key(spark, sf_dir)
    if key not in _SCHEMA_CATALOG:
        while len(_SCHEMA_CATALOG) >= 8:
            _SCHEMA_CATALOG.pop(next(iter(_SCHEMA_CATALOG)))
        _SCHEMA_CATALOG[key] = [
            ("has_column", t, f"{t}.{c}")
            for t in _TABLES
            for c in read_table(spark, sf_dir, t).schema.names
        ]
    has_col = spark.createDataFrame(
        _SCHEMA_CATALOG[key], "edge_type string, src string, dst string"
    )
    # Read the CATALOGED discovery result (discovered_fk_edges — runs
    # the distinct-value pipeline once per session and memoizes; the
    # platform-shape argument and the bench-honesty carve-out live on
    # its docstring).
    fk = spark.createDataFrame(
        [
            (
                "fk",
                f"{e['child_table']}.{e['child_column']}",
                f"{e['parent_table']}.{e['parent_column']}",
            )
            for e in discovered_fk_edges(spark, sf_dir)
        ],
        "edge_type string, src string, dst string",
    )
    feeds = spark.createDataFrame(
        [("feeds", src, dst) for src, dst in lineage_feed_edges(spark, sf_dir)],
        "edge_type string, src string, dst string",
    )
    return (
        has_col.unionByName(fk)
        .unionByName(feeds)
        .orderBy("edge_type", "src", "dst")
    )


_IMPACT_ROOTS = ("documents", "region")
_ROOT_VALUES = ", ".join(f"('{r}')" for r in _IMPACT_ROOTS)


@query(
    "q_catalog_graph_impact",
    oracle=f"""
    WITH RECURSIVE {_FK_CTES},
    impact_edges AS (
      SELECT DISTINCT parent_table AS src, child_table AS dst FROM fk
      UNION ALL
      SELECT src, dst FROM (VALUES {_EDGE_VALUES}) AS t(src, dst)
    ), roots(root) AS (VALUES {_ROOT_VALUES}),
    reach(root, node, depth) AS (
      SELECT r.root, e.dst, 1
      FROM roots r JOIN impact_edges e ON e.src = r.root
      UNION
      SELECT rc.root, e.dst, rc.depth + 1
      FROM reach rc JOIN impact_edges e ON e.src = rc.node
    )
    SELECT root, node, CAST(MIN(depth) AS BIGINT) AS depth
    FROM reach GROUP BY root, node
    ORDER BY root, depth, node
    """,
)
def q_catalog_graph_impact(spark, sf_dir):
    """IMPACT ANALYSIS over the unified catalog graph — downstream_of
    (``plans/lineage.py:89``) re-expressed as graph reachability that
    crosses subsystem boundaries in one traversal: a change to
    ``region`` propagates through DISCOVERED FK edges (parent → child:
    nation, then customer/supplier, then orders/lineitem), while a
    change to ``documents`` propagates through LINEAGE edges (the
    declared corpus-build pipeline) — the same reach query answers
    both, because the graph view made the two edge kinds one relation.

    Per (root, impacted node): minimum dependency depth. The edge
    list is metadata-sized by construction (|FKs| + |stages|, ~14
    rows at ANY corpus scale — catalog grain, not data grain), so the
    closure itself is a driver-side BFS over the materialized edges:
    exact full reachability (no depth bound to under-report a long
    chain, terminates on cycles via the visited set), while the
    expensive part — FK/lineage edge DISCOVERY — stays distributed.
    The DuckDB oracle walks the identical edges with a recursive
    CTE."""
    # Table-grain FK edges from the CATALOGED discovery result (the
    # memoized collect q_catalog_graph also reads — discovery runs
    # once per session, its consumers read the catalog); lineage edges
    # stay a collect of the metadata-sized declared pipeline.
    fk_pairs = {
        (e["parent_table"], e["child_table"])
        for e in discovered_fk_edges(spark, sf_dir)
    }
    adj: dict[str, list[str]] = {}
    for src, dst in fk_pairs:
        adj.setdefault(src, []).append(dst)
    for src, dst in lineage_feed_edges(spark, sf_dir):
        adj.setdefault(src, []).append(dst)
    out: list[tuple[str, str, int]] = []
    for root in _IMPACT_ROOTS:
        # BFS = min-depth closure; the visited set both dedups diamond
        # paths and terminates cycles (no fixed level bound to silently
        # under-report a chain longer than the static stage count).
        seen: dict[str, int] = {}
        frontier = [root]
        depth = 0
        while frontier:
            depth += 1
            nxt: list[str] = []
            for node in frontier:
                for dst in adj.get(node, ()):
                    # root itself is NOT pre-seeded: a cycle re-entering
                    # the root records it as a reached node, exactly as
                    # the oracle's recursive CTE does.
                    if dst not in seen:
                        seen[dst] = depth
                        nxt.append(dst)
            frontier = nxt
        out.extend((root, node, d) for node, d in seen.items())
    return (
        spark.createDataFrame(out, "root string, node string, depth bigint")
        .orderBy("root", "depth", "node")
    )


# SURVEY.md §2.11 storage ops: DATA-RETENTION PLAN (per-month age vs a
# hot/archive/expire policy with row and exact cents mass — the
# lifecycle table a lakehouse VACUUM/retention job executes from) and
# the BUCKET ADVISOR (per join key: exact NDV, the power-of-two bucket
# count that hits a target rows-per-bucket, and an integer
# skew/cardinality verdict — the table a bucketed-write planner reads
# before committing a layout). Completes the storage-planning suite next
# to q_partition_advisor / q_compaction_bins / q_encoding_advisor /
# q_sort_key_whatif.
#
# Exactness: ages are integer month arithmetic anchored at the corpus
# max date; all verdicts are integer cross-multiplications; the
# power-of-two choice is a bounded CASE over exact integers (never a
# float log2, which differs in the last ulp across libm builds).


_HOT_MONTHS = 24
_ARCHIVE_MONTHS = 60

_TARGET_ROWS_PER_BUCKET = 65536
_BUCKET_KEYS = ("l_orderkey", "l_partkey", "l_suppkey")
_MAX_BUCKET_POW = 20


def _pow2_case_sql(need_expr: str) -> str:
    whens = "\n             ".join(
        f"WHEN {need_expr} <= {1 << k} THEN {1 << k}"
        for k in range(_MAX_BUCKET_POW + 1)
    )
    return f"CASE {whens} ELSE {1 << _MAX_BUCKET_POW} END"


@query(
    "q_retention_plan",
    oracle=f"""
    WITH base AS (
      SELECT STRFTIME(o_orderdate, '%Y-%m') AS month_s,
             (EXTRACT(YEAR FROM o_orderdate) * 12
              + EXTRACT(MONTH FROM o_orderdate)) AS mix,
             CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ), mx AS (SELECT MAX(mix) AS mmax FROM base)
    SELECT month_s,
           CAST(mmax - mix AS BIGINT) AS age_months,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(cents) AS BIGINT) AS cents,
           CASE WHEN mmax - mix <= {_HOT_MONTHS} THEN 'hot'
                WHEN mmax - mix <= {_ARCHIVE_MONTHS} THEN 'archive'
                ELSE 'expire' END AS policy
    FROM base, mx
    GROUP BY month_s, mix, mmax
    ORDER BY month_s
    """,
)
def q_retention_plan(spark, sf_dir):
    """DATA-RETENTION PLAN: each order month bucketed by age against
    the corpus max month — 'hot' (≤24 months: stays on fast storage),
    'archive' (≤60: moves to cold tier), 'expire' (beyond policy:
    the VACUUM candidate set) — with exact row counts and cents mass
    per month. The table the nightly lifecycle job executes from, and
    the complement of q_time_travel (which proves old state is
    reconstructible before anyone deletes it).

    Exactness: age is pure integer month arithmetic (year·12 + month,
    anchored at the broadcast max — never engine date-diff month
    conventions); verdicts are integer comparisons.

    Scale shape: one scalar max (broadcast) + one month-grain partial
    aggregate — at 100 TB the month grain is bounded by the calendar,
    and a partition-pruned layout answers the expire set without
    scanning hot data."""
    o = read_table(spark, sf_dir, "orders")
    mix = (
        F.year(F.col("o_orderdate")) * 12 + F.month(F.col("o_orderdate"))
    ).alias("mix")
    base = o.select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month_s"),
        mix,
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    mx = base.agg(F.max("mix").alias("mmax"))
    age = F.col("mmax") - F.col("mix")
    return (
        base.crossJoin(F.broadcast(mx))
        .groupBy("month_s", "mix", "mmax")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum("cents").cast("bigint").alias("cents"),
        )
        .select(
            "month_s",
            age.cast("bigint").alias("age_months"),
            "n_rows",
            "cents",
            F.when(age <= _HOT_MONTHS, "hot")
            .when(age <= _ARCHIVE_MONTHS, "archive")
            .otherwise("expire")
            .alias("policy"),
        )
        .orderBy("month_s")
    )


@query(
    "q_bucket_advisor",
    oracle=f"""
    WITH kv AS (
      {" UNION ALL ".join(
        f"SELECT '{k}' AS key_col, {k} AS v FROM lineitem"
        for k in _BUCKET_KEYS
      )}
    ), stats AS (
      SELECT key_col,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT v) AS BIGINT) AS ndv
      FROM kv GROUP BY key_col
    ), heavy AS (
      SELECT key_col, CAST(MAX(c) AS BIGINT) AS max_key_rows
      FROM (SELECT key_col, v, COUNT(*) AS c FROM kv GROUP BY key_col, v)
      GROUP BY key_col
    ), sized AS (
      SELECT s.key_col, s.n_rows, s.ndv, h.max_key_rows,
             {_pow2_case_sql(
               f"(s.n_rows + {_TARGET_ROWS_PER_BUCKET - 1})"
               f" // {_TARGET_ROWS_PER_BUCKET}")} AS n_buckets
      FROM stats s JOIN heavy h ON s.key_col = h.key_col
    )
    SELECT key_col, n_rows, ndv, max_key_rows,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           CASE WHEN ndv < 4 * n_buckets THEN 'low_cardinality'
                WHEN 4 * max_key_rows * n_buckets > 3 * n_rows
                  THEN 'skewed'
                ELSE 'ok' END AS verdict
    FROM sized ORDER BY key_col
    """,
)
def q_bucket_advisor(spark, sf_dir):
    """BUCKET ADVISOR for co-located joins: per candidate join key,
    exact row count and NDV, the heaviest key's row count, the
    power-of-two bucket count targeting ≤65,536 rows per bucket, and
    an integer verdict — `low_cardinality` when NDV < 4·buckets (keys
    can't spread across buckets: hash collisions leave buckets empty
    or paired), `skewed` when the heaviest single key alone would fill
    >75% of an average bucket's fair share (4·max·buckets > 3·n), else
    `ok`. The preflight before `sources/writers`' bucketed write
    commits a layout that q_join_bucketed then exploits shuffle-free.

    Exactness: the bucket count is a bounded CASE over exact integers
    (never float log2 — libm last-ulp differences would flip the
    power at exact boundaries); verdicts are cross-multiplications.

    Scale shape: ONE scan per key unions into a (key_col, value)
    frame; NDV and the heavy-key count are value-grain partial
    aggregates (shuffle carries distinct key values only); the final
    frame is |candidate keys| rows."""
    frames = []
    for k in _BUCKET_KEYS:
        frames.append(
            read_table(spark, sf_dir, "lineitem").select(
                F.lit(k).alias("key_col"), F.col(k).alias("v")
            )
        )
    kv = frames[0]
    for fr in frames[1:]:
        kv = kv.unionByName(fr)
    vc = kv.groupBy("key_col", "v").agg(
        F.count(F.lit(1)).alias("c")
    )
    # NULL convention matches the oracle: n_rows and max_key_rows see
    # the NULL group, ndv is COUNT(DISTINCT v) which excludes NULLs —
    # count(v) at the value grain skips the NULL group's row (same fix
    # class as q_feature_screen's round-7 ADVICE item).
    stats = vc.groupBy("key_col").agg(
        F.sum("c").cast("bigint").alias("n_rows"),
        F.count(F.col("v")).cast("bigint").alias("ndv"),
        F.max("c").cast("bigint").alias("max_key_rows"),
    )
    need = F.expr(
        f"(n_rows + {_TARGET_ROWS_PER_BUCKET - 1})"
        f" DIV {_TARGET_ROWS_PER_BUCKET}"
    )
    n_buckets = F.lit(1 << _MAX_BUCKET_POW)
    for k in reversed(range(_MAX_BUCKET_POW + 1)):
        n_buckets = F.when(need <= (1 << k), F.lit(1 << k)).otherwise(
            n_buckets
        )
    return (
        stats.withColumn("n_buckets", n_buckets.cast("bigint"))
        .select(
            "key_col",
            "n_rows",
            "ndv",
            "max_key_rows",
            "n_buckets",
            F.when(
                F.col("ndv") < 4 * F.col("n_buckets"), "low_cardinality"
            )
            .when(
                4 * F.col("max_key_rows") * F.col("n_buckets")
                > 3 * F.col("n_rows"),
                "skewed",
            )
            .otherwise("ok")
            .alias("verdict"),
        )
        .orderBy("key_col")
    )
