"""Training-corpus operators (SURVEY.md §2.11).

Deterministic sampling and splits, leakage and bias audits, sharding,
chunking and packing, filter cascades, token budgets, contamination checks
and dataset cards.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.dedup import normalize_text
from self_healing_data_pipeline_spark.operators.dedup import (
    NORMALIZE_TEXT_SQL as _NORM_SQL,
)
from self_healing_data_pipeline_spark.operators.dedup import NORMALIZE_TEXT_SQL as _NORM
from self_healing_data_pipeline_spark.operators.text import _STOPWORDS
from self_healing_data_pipeline_spark.queries.text import (
    _langid_case_sql,
    _marker_counts_sql,
)
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_stratified_cap",
    oracle="""
    SELECT lang, source, doc_id FROM (
      SELECT lang, source, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 5
    """,
)
def q_stratified_cap(spark, sf_dir):
    """Per-stratum cap (keep ≤ N docs per (lang, source)) — the
    deterministic stratified-sampling shape training-data pipelines use
    for per-source quotas. One shuffle on the stratum key; at 100 TB the
    rank-and-filter prunes to N·|strata| rows before anything downstream."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy("doc_id")
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("lang", "source", "doc_id")
    )


# Training-data pipeline operators: deterministic sampling, dataset
# splits, document chunking, PII scanning, decontamination, repetition
# scoring (SURVEY.md §2.11 — the ops a 100 TB LLM-corpus build needs beyond
# the reference's catalog/ETL surface).
#
# Every query here is ORACLE-CHECKED: randomness is replaced by md5-based
# deterministic hashing (identical hex output in Spark and DuckDB), so
# sampling/splitting/dedup decisions are reproducible across engines, runs,
# and partitionings — the property that makes a corpus build auditable.
#
# Scale notes (100 TB):
# - hash sample/split are stateless narrow maps — no shuffle, no coordination,
#   any executor can route any row; this is why hash-mod beats reservoir
#   sampling at scale (reservoir needs a global pass + driver state);
# - chunking explodes rows by ~len/stride — partition sizes grow by that
#   factor, governed by maxPartitionBytes at the scan; no shuffle;
# - the contamination join shuffles md5-hashed 20-char shingles (16 bytes/
#   shingle), never document text, and the probe side broadcasts when small;
# - repetition scoring bounds its explode at the first 300 chars per doc so
#   per-row cost is O(1), not O(document).


@query(
    "q_sample_hash",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a'
    """,
)
def q_sample_hash(spark, sf_dir):
    """Deterministic ~10% sample via md5 hex-prefix threshold ('1a'/'100'
    = 26/256 ≈ 10.2%). Stateless narrow map: no shuffle, no seed state,
    reproducible on any cluster — the scale-safe replacement for
    rand()-based sampling, whose results change with partitioning."""
    d = read_table(spark, sf_dir, "documents")
    return d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2) < "1a"
    ).select("doc_id", "lang", "n_chars")


@query(
    "q_split_assign",
    oracle="""
    SELECT CASE WHEN h < 'cc' THEN 'train'
                WHEN h < 'e6' THEN 'val'
                ELSE 'test' END AS split,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT n_chars,
                 SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
          FROM documents)
    GROUP BY 1 ORDER BY 1
    """,
)
def q_split_assign(spark, sf_dir):
    """Deterministic train/val/test assignment by md5 bucket (~80/10/10 via
    hex thresholds 'cc'=204/256, 'e6'=230/256). A document's split is a
    pure function of its id — stable across corpus rebuilds, so no
    train/test leakage when data is re-ingested or re-partitioned."""
    d = read_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = (
        F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("split")
    )


@query(
    "q_doc_chunks",
    oracle="""
    WITH base AS (
      SELECT doc_id, text,
             CAST(CEIL(GREATEST(LENGTH(text) - 200, 0) / 150.0) AS BIGINT)
               AS hi
      FROM documents
    ), ex AS (
      SELECT doc_id, text, UNNEST(generate_series(0, hi)) AS k FROM base
    )
    SELECT doc_id,
           CAST(k AS BIGINT) AS chunk_idx,
           CAST(LENGTH(SUBSTRING(text, 1 + k * 150, 200)) AS BIGINT)
             AS chunk_len,
           SUBSTRING(MD5(SUBSTRING(text, 1 + k * 150, 200)), 1, 16)
             AS chunk_hash
    FROM ex
    """,
)
def q_doc_chunks(spark, sf_dir):
    """Fixed-window document chunking: 200-char chunks on a 150-char
    stride (50-char overlap so no boundary context is lost; the final
    chunk shortens to end exactly at the document tail) — the standard
    pre-tokenization segmentation for long documents. All engine-side,
    no UDF; the output carries a 16-hex chunk hash, not the chunk text,
    so downstream chunk-level dedup shuffles 16 bytes per chunk.

    Long-document shape (round-10 fix, caught by the new sf1 --longdoc
    adversarial tier, measured **52x** wall on ~250 docs of 100-300 KB):
    TWO quadratic terms hid in the first cut. (1) posexplode-then-
    project made every chunk row carry the FULL document text --
    O(len^2/stride) bytes per doc. (2) subtler: ``substring(text, pos,
    W)`` walks the UTF-8 string from the START to find the character
    offset -- O(pos) per chunk, O(len^2/stride) total; measured ~55 us
    per deep substring on 300 KB docs, ~90 ms/doc. (A cells-array HOF
    rewrite was measured and REJECTED too: a computed-expression outer
    reference inside a lambda re-evaluates PER ELEMENT, so the regex
    split itself became the quadratic term -- 167 s on the tier.)

    The linear shape: split each doc ONCE into 50-char CELLS
    (single-pass ``(?s)(?<=\\G.{50})`` regex split; 50 =
    gcd(window, stride)), posexplode cells to rows, and reassemble
    chunk i = cells 3i..3i+3 with three ``lead``s over the
    (doc_id, cell_idx) window -- identical characters to
    substring(1+150i, 200), each cell touched O(1) times. The window is
    ONE shuffle at cell grain (50-char payloads), the form that scales
    to megabyte documents; the tier re-probes linear. Same rows, same
    oracle."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    # CEIL, not floor: floor((n-W)/S) leaves an uncovered tail of up to
    # S-1 characters whenever (n-W) % S != 0 (349 of 500 fixture docs) --
    # the round-6 chunk-coverage audit (q_chunk_coverage_audit) caught
    # this; with ceil the last (possibly shorter) chunk always reaches
    # the end of the document.
    n_chunks_minus1 = F.ceil(
        F.greatest(F.length("text") - 200, F.lit(0)) / 150.0
    ).cast("bigint")
    cells = d.select(
        "doc_id",
        n_chunks_minus1.alias("ncm1"),
        F.posexplode(F.split("text", r"(?s)(?<=\G.{50})")).alias(
            "cell_idx", "cell"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy("cell_idx")
    chunk = F.concat_ws(
        "",
        F.col("cell"),
        *[
            F.coalesce(F.lead("cell", j).over(w), F.lit(""))
            for j in (1, 2, 3)
        ],
    )
    return (
        cells.withColumn("chunk", chunk)
        .where(
            (F.col("cell_idx") % 3 == 0)
            & (F.col("cell_idx") / 3 <= F.col("ncm1"))
        )
        .select(
            "doc_id",
            (F.col("cell_idx") / 3).cast("bigint").alias("chunk_idx"),
            F.length("chunk").cast("bigint").alias("chunk_len"),
            F.substring(F.md5("chunk"), 1, 16).alias("chunk_hash"),
        )
    )


_SHINGLE_ORACLE = f"""
      SELECT doc_id,
             SUBSTRING(MD5(SUBSTRING(nt, 1 + k * 10, 20)), 1, 16) AS g
      FROM (
        SELECT doc_id, nt, UNNEST(generate_series(0, hi)) AS k
        FROM (SELECT doc_id, {_NORM_SQL.format(c='text')} AS nt,
                     CAST(FLOOR(GREATEST(
                       LENGTH({_NORM_SQL.format(c='text')}) - 20, 0) / 10.0)
                       AS BIGINT) AS hi
              FROM documents)
      )
      WHERE LENGTH(SUBSTRING(nt, 1 + k * 10, 20)) = 20
"""


#: Grams seen in more than this many documents are boilerplate, not
#: contamination evidence; dropping them bounds the per-gram candidate
#: sets (the 100 TB guard). Mirrored EXACTLY in the oracle CTE below so
#: the twin stays bit-exact.
_CONTAM_GRAM_DF_CAP = 50


@query(
    "q_contamination",
    oracle=f"""
    WITH shingles AS ({_SHINGLE_ORACLE}),
    capped AS (
      SELECT s.doc_id, s.g FROM shingles s
      JOIN (SELECT g FROM shingles
            GROUP BY g
            HAVING COUNT(DISTINCT doc_id) <= {_CONTAM_GRAM_DF_CAP}) ok
        ON s.g = ok.g
    ),
    probes AS (SELECT doc_id AS probe_id, g FROM capped
               WHERE doc_id % 10 = 0),
    corpus AS (SELECT doc_id, g FROM capped WHERE doc_id % 10 <> 0)
    SELECT p.probe_id, c.doc_id,
           COUNT(DISTINCT p.g) AS n_shared_shingles
    FROM probes p JOIN corpus c ON p.g = c.g
    GROUP BY p.probe_id, c.doc_id
    HAVING COUNT(DISTINCT p.g) >= 2
    """,
)
def q_contamination(spark, sf_dir):
    """Benchmark-decontamination check: which corpus documents share ≥2
    20-char shingles (stride 10, normalized text) with any probe document
    (the held-out/benchmark stand-in: doc_id % 10 = 0).

    Single-pass shape: instead of self-joining two branches of the shingle
    explode (which would SCAN AND HASH THE CORPUS TEXT TWICE — Catalyst
    does not share common subplans across join branches), shingles are
    computed once, tagged probe/corpus, and grouped by gram: each gram
    collects its probe set and corpus set, cross-expands to candidate
    pairs, and the final aggregate counts distinct shared grams per pair.
    One scan, one shuffle on the 16-hex gram hash — text never shuffles.

    Scale guard: grams whose document frequency exceeds
    ``_CONTAM_GRAM_DF_CAP`` are dropped BEFORE the set-collect — an
    ultra-common boilerplate gram would otherwise accumulate an unbounded
    probe×corpus candidate set at production scale (and such grams are
    noise, not contamination evidence — the same reasoning as
    operators.dedup.pairs_within_buckets). The identical HAVING predicate
    runs in the DuckDB oracle CTE, so the twin stays bit-exact WITH the
    cap in force."""
    # Shingle extraction via the shared linear cell/lead-window form
    # (operators.text.strided_spans — round-10 long-doc fix; the
    # explode-then-substring original was quadratic per doc on 100 KB+
    # documents: O(pos) char scans plus full-text span rows). Same
    # spans: 20-char windows at stride 10, full-length only.
    from self_healing_data_pipeline_spark.operators.text import (
        strided_spans,
    )

    d = read_table(spark, sf_dir, "documents")
    shingles = strided_spans(
        d.select("doc_id", normalize_text("text").alias("nt")),
        "doc_id",
        F.col("nt"),
        20,
        10,
    ).select("doc_id", F.substring(F.md5("span_text"), 1, 16).alias("g"))
    # The cap must land BEFORE the set-collect (a post-agg filter would
    # still build the unbounded set in the aggregation buffer), and
    # WITHOUT a join-back (two branches over the shingle subplan would
    # scan the documents parquet twice — Catalyst does not share common
    # subplans). Shape: dedup to distinct (gram, doc) pairs (bounded
    # buffers), count pairs per gram with a WINDOW (constant state),
    # filter, then collect — every collect_set holds ≤ cap doc ids,
    # still one scan. The window and the final groupBy share the g
    # partitioning, so the filter adds no extra shuffle.
    from pyspark.sql import Window

    pairs = shingles.groupBy("g", "doc_id").agg(F.lit(1).alias("_one"))
    gram_df = F.count(F.lit(1)).over(Window.partitionBy("g"))
    per_gram = (
        pairs.withColumn("gram_df", gram_df)
        .filter(F.col("gram_df") <= _CONTAM_GRAM_DF_CAP)
        .groupBy("g")
        .agg(
            F.collect_set(
                F.when(F.col("doc_id") % 10 == 0, F.col("doc_id"))
            ).alias("probes"),
            F.collect_set(
                F.when(F.col("doc_id") % 10 != 0, F.col("doc_id"))
            ).alias("docs"),
        )
        .filter((F.size("probes") > 0) & (F.size("docs") > 0))
    )
    pairs = per_gram.select(
        "g", F.explode("probes").alias("probe_id"), "docs"
    ).select("g", "probe_id", F.explode("docs").alias("doc_id"))
    return (
        pairs.groupBy("probe_id", "doc_id")
        .agg(F.countDistinct("g").alias("n_shared_shingles"))
        .filter(F.col("n_shared_shingles") >= 2)
    )


@query(
    "q_corpus_build",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, lang, n_chars,
             SUBSTRING(MD5({_NORM_SQL.format(c='text')}), 1, 16) AS fingerprint,
             SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS h
      FROM documents
    ), ranked AS (
      SELECT *, MIN(doc_id) OVER (PARTITION BY fingerprint) AS rep_id
      FROM fp
    )
    SELECT doc_id, lang, n_chars, fingerprint,
           doc_id = rep_id AS is_representative,
           CASE WHEN doc_id <> rep_id THEN 'dropped_duplicate'
                WHEN h < 'cc' THEN 'train'
                WHEN h < 'e6' THEN 'val'
                ELSE 'test' END AS route
    FROM ranked
    """,
)
def q_corpus_build(spark, sf_dir):
    """The corpus-build routing pipeline as ONE declarative plan: exact
    dedup (min-doc_id representative per normalized-text fingerprint)
    composed with the deterministic train/val/test split — every document
    gets a route: dropped_duplicate, train, val, or test. One window over
    the 16-hex fingerprint (the only shuffle) plus narrow hash maps; this
    is the composition a user runs nightly over the whole corpus, and the
    oracle checks the entire routing decision end-to-end."""
    from pyspark.sql import Window

    d = read_table(spark, sf_dir, "documents")
    fp = F.substring(F.md5(normalize_text("text")), 1, 16)
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    w = Window.partitionBy("fingerprint")
    ranked = d.select(
        "doc_id", "lang", "n_chars", fp.alias("fingerprint"), h.alias("h")
    ).withColumn("rep_id", F.min("doc_id").over(w))
    return ranked.select(
        "doc_id",
        "lang",
        "n_chars",
        "fingerprint",
        (F.col("doc_id") == F.col("rep_id")).alias("is_representative"),
        F.when(F.col("doc_id") != F.col("rep_id"), "dropped_duplicate")
        .when(F.col("h") < "cc", "train")
        .when(F.col("h") < "e6", "val")
        .otherwise("test")
        .alias("route"),
    )


#: Chars per output shard (the packing budget).
_SHARD_CAP = 100_000


@query(
    "q_shard_assign",
    oracle=f"""
    WITH c AS (
      SELECT lang, doc_id, n_chars,
             SUM(n_chars) OVER (PARTITION BY lang ORDER BY doc_id
                                ROWS BETWEEN UNBOUNDED PRECEDING
                                AND CURRENT ROW) AS cum
      FROM documents
    )
    SELECT lang,
           CAST(FLOOR((cum - n_chars) / {_SHARD_CAP}.0) AS BIGINT)
             AS shard_id,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM c
    GROUP BY lang, shard_id
    ORDER BY lang, shard_id
    """,
)
def q_shard_assign(spark, sf_dir):
    """Shard packing: assign each document to a fixed-budget output shard
    (~100k chars) within its language, by running size over doc_id order
    — the deterministic "write the corpus as N similar-sized files per
    language" step of a corpus build. A document's shard is
    floor(start_offset / cap), so shards are contiguous id ranges and
    every shard except the last holds ≥ cap-minus-one-doc chars.

    One window (partition lang, order doc_id) = one shuffle on lang; the
    running sum is a linear per-partition scan. Packing WITHIN a
    partition key is the scale-safe form — a corpus-global running sum
    cannot parallelize."""
    d = read_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    start = F.sum("n_chars").over(w) - F.col("n_chars")
    return (
        d.select(
            "lang",
            "n_chars",
            F.floor(start / float(_SHARD_CAP)).cast("bigint").alias("shard_id"),
        )
        .groupBy("lang", "shard_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("lang", "shard_id")
    )


@query(
    "q_quality_funnel",
    oracle="""
    WITH scored AS (
      SELECT n_chars,
             LEN(string_split(text, ' ')) AS n_tokens,
             CASE WHEN n_chars < 80 THEN 'too_short'
                  WHEN LEN(string_split(text, ' ')) < 15
                    THEN 'too_few_tokens'
                  WHEN CAST(n_chars AS DOUBLE)
                       / LEN(string_split(text, ' ')) > 5.8
                    THEN 'long_tokens'
                  ELSE 'pass' END AS route
      FROM documents
    )
    SELECT route, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM scored GROUP BY route ORDER BY route
    """,
)
def q_quality_funnel(spark, sf_dir):
    """Quality-filter funnel: every document routed by its FIRST failing
    rule (too short → too few tokens → over-long average token → pass),
    with per-route document and char counts — the cleaning report a
    corpus build emits so filter rules can be audited individually
    instead of as one opaque drop rate. First-match CASE semantics make
    the routes disjoint and exhaustive. Narrow map + 4-group aggregate:
    one scan, the only shuffle carries ≤4 rows per partition."""
    d = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split(F.col("text"), " "))
    route = (
        F.when(F.col("n_chars") < 80, "too_short")
        .when(n_tokens < 15, "too_few_tokens")
        .when(F.col("n_chars").cast("double") / n_tokens > 5.8, "long_tokens")
        .otherwise("pass")
    )
    return (
        d.select(route.alias("route"), "n_chars")
        .groupBy("route")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
        )
        .orderBy("route")
    )


# SURVEY.md §2.11 corpus/LLM-pipeline ops + §2.4 sketch accuracy + §2.9
# event analytics: context-window packing, domain mixture rebalancing,
# Markov transition matrices, HLL accuracy gates, bigram coherence
# scoring, and cross-document substring-span dedup.
#
# Scale notes follow the repo discipline: every aggregate is a map-side
# partial, ratios are single IEEE divisions over exact integer sums, and
# nothing shuffles text when a fingerprint suffices (substring dedup
# shuffles 32-hex span hashes, never spans).


_CTX = 512  # tokens per packed context window


_PFX_BUCKET = 4096  # doc_ids per prefix-sum bucket (two-phase running sum)


@query(
    "q_pack_context",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, source,
             LEN(string_split(text, ' ')) AS n_tokens
      FROM documents
    ), spans AS (
      SELECT doc_id, source, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens
               AS start_tok
      FROM toks
    )
    , wins AS (
      SELECT source, doc_id,
             UNNEST(generate_series(
               CAST(FLOOR(start_tok / {_CTX}.0) AS BIGINT),
               CAST(FLOOR((start_tok + n_tokens - 1) / {_CTX}.0) AS BIGINT)
             )) AS window_id
      FROM spans
    )
    SELECT source, window_id,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
    FROM wins
    GROUP BY source, window_id
    ORDER BY source, window_id
    """,
)
def q_pack_context(spark, sf_dir):
    """Context-window packing — the training-data step that concatenates
    documents per source and slices the token stream into fixed
    512-token windows (how LLM pretraining actually packs sequences;
    cf. the fixed-budget shard packing of ``q_shard_assign``, which packs
    whole docs by chars). Output: per (source, window) the documents the
    window draws from — the provenance index needed for per-example
    attribution and loss masking at window boundaries.

    Plan: the running token offset is a TWO-PHASE distributed prefix sum
    (a corpus has few sources, so a plain per-source ordered window would
    serialize each source through one task): docs bucket into contiguous
    doc_id ranges (4096 ids/bucket), phase 1 aggregates one token
    subtotal per (source, bucket) — a table 3-4 orders of magnitude
    smaller than the corpus — and turns it into per-bucket cumulative
    offsets with a window over that small table (partitioned by source;
    input is bucket-grain, never doc-grain); phase 2 broadcasts the
    offsets back and runs the running sum WITHIN each (source, bucket)
    partition, which parallelizes across buckets. Then an engine-side
    ``explode(sequence(...))`` over each doc's touched window range —
    expansion is bounded by tokens/512 per doc, and the shuffle key is
    (source, window_id): partition-parallel at any corpus size
    (tests/test_scale_shapes.py asserts no SinglePartition and that the
    doc-bearing window partitions by the bucket)."""
    d = read_table(spark, sf_dir, "documents")
    n_tokens = F.size(F.split("text", " "))
    toks = d.select(
        "doc_id",
        "source",
        n_tokens.alias("n_tokens"),
        F.floor(F.col("doc_id") / _PFX_BUCKET).alias("__pfx_bucket"),
    )
    # phase 1: per-(source, bucket) subtotals -> cumulative bucket offsets
    wb = (
        Window.partitionBy("source")
        .orderBy("__pfx_bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        toks.groupBy("source", "__pfx_bucket")
        .agg(F.sum("n_tokens").alias("__sub"))
        .select(
            "source",
            "__pfx_bucket",
            F.coalesce(F.sum("__sub").over(wb), F.lit(0)).alias("__bucket_off"),
        )
    )
    # phase 2: narrow within-bucket running sum + the broadcast offset
    ww = (
        Window.partitionBy("source", "__pfx_bucket")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    spans = (
        toks.join(F.broadcast(offsets), ["source", "__pfx_bucket"])
        .withColumn(
            "start_tok",
            F.col("__bucket_off") + F.sum("n_tokens").over(ww) - F.col("n_tokens"),
        )
    )
    return (
        spans.select(
            "doc_id",
            "source",
            F.explode(
                F.sequence(
                    F.floor(F.col("start_tok") / _CTX),
                    F.floor((F.col("start_tok") + F.col("n_tokens") - 1) / _CTX),
                )
            ).alias("window_id"),
        )
        .groupBy("source", "window_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
        .orderBy("source", "window_id")
    )


@query(
    "q_domain_mixture",
    oracle="""
    WITH counts AS (
      SELECT source, COUNT(*) AS n_before FROM documents GROUP BY source
    ), target AS (
      SELECT MIN(n_before) AS floor_n FROM counts
    ), rated AS (
      SELECT c.source, c.n_before,
             CAST(FLOOR(256.0 * t.floor_n / c.n_before) AS BIGINT) AS keep_256
      FROM counts c CROSS JOIN target t
    )
    SELECT d.source, r.n_before, r.keep_256,
           COUNT(*) FILTER (
             WHERE r.keep_256 >= 256
                OR SUBSTRING(MD5(CAST(d.doc_id AS VARCHAR)), 1, 2)
                   < printf('%02x', r.keep_256)
           ) AS n_kept
    FROM documents d JOIN rated r ON d.source = r.source
    GROUP BY d.source, r.n_before, r.keep_256
    ORDER BY d.source
    """,
)
def q_domain_mixture(spark, sf_dir):
    """Domain-mixture rebalancing: downsample every source to (about)
    the smallest source's size with a DETERMINISTIC per-row hash test —
    the corpus-mixing step of a pretraining data recipe, seedless and
    partition-invariant like ``q_sample_hash``. The keep rate is
    quantized to k/256 and applied as a 2-hex-digit md5 prefix
    threshold, so membership is a pure function of doc_id and the
    per-source count: re-ingesting or re-partitioning the corpus keeps
    the SAME documents.

    Plan: one tiny per-source count aggregate (broadcast back), then a
    narrow map-side filter — no shuffle touches document text."""
    d = read_table(spark, sf_dir, "documents")
    # the smallest source's size is a window min OVER the per-source
    # counts (one subtree; a separate agg branch would re-scan), so the
    # whole query reads documents exactly twice: once for rates, once
    # for the filtered count — the two-pass minimum for global-rate
    # sampling
    counts = d.groupBy("source").agg(F.count(F.lit(1)).alias("n_before"))
    rated = counts.select(
        "source",
        "n_before",
        F.floor(
            256.0
            * F.min("n_before").over(Window.partitionBy())
            / F.col("n_before")
        )
        .cast("bigint")
        .alias("keep_256"),
    )
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    thresh = F.lpad(F.lower(F.conv(F.col("keep_256").cast("string"), 10, 16)), 2, "0")
    return (
        d.join(F.broadcast(rated), "source")
        .groupBy("source", "n_before", "keep_256")
        .agg(
            F.count(
                F.when((F.col("keep_256") >= 256) | (h < thresh), 1)
            ).alias("n_kept")
        )
        .orderBy("source")
    )


@query(
    "q_sample_weighted",
    oracle="""
    WITH mx AS (SELECT MAX(n_chars) AS w FROM documents),
    rated AS (
      SELECT d.source, d.n_chars,
             CAST(FLOOR(65536.0 * d.n_chars / m.w) AS BIGINT) AS keep_65536,
             SUBSTRING(MD5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS h4
      FROM documents d CROSS JOIN mx m
    )
    SELECT source,
           COUNT(*) AS n_docs,
           COUNT(*) FILTER (
             WHERE keep_65536 >= 65536 OR h4 < printf('%04x', keep_65536)
           ) AS n_kept,
           CAST(COALESCE(SUM(n_chars) FILTER (
             WHERE keep_65536 >= 65536 OR h4 < printf('%04x', keep_65536)
           ), 0) AS BIGINT) AS kept_chars
    FROM rated GROUP BY source ORDER BY source
    """,
)
def q_sample_weighted(spark, sf_dir):
    """Weight-proportional deterministic sampling: keep each document
    with probability n_chars / max(n_chars) — the length-weighted
    Bernoulli draw a corpus recipe uses to bias toward substantive
    documents WITHOUT an RNG. Like ``q_sample_hash``/``q_domain_mixture``
    the draw is a pure function of doc_id: the keep rate quantizes to
    k/65536 and applies as a 4-hex-digit md5-prefix threshold, so
    membership is partition- and rerun-invariant, and the threshold
    compare is string-lexicographic on both engines (no float
    comparison anywhere near the decision).

    Plan: one-row corpus max broadcast back (broadcast-scalar pattern —
    a global window here would plan SinglePartition), then a narrow
    map-side filter + per-source aggregate. Shuffle carries ≤ |sources|
    partial rows."""
    d = read_table(spark, sf_dir, "documents")
    mx = d.agg(F.max("n_chars").alias("w"))
    rated = d.crossJoin(F.broadcast(mx)).select(
        "source",
        "n_chars",
        F.floor(65536.0 * F.col("n_chars") / F.col("w"))
        .cast("bigint")
        .alias("keep_65536"),
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4).alias("h4"),
    )
    kept = (F.col("keep_65536") >= 65536) | (
        F.col("h4") < F.format_string("%04x", F.col("keep_65536"))
    )
    return (
        rated.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count(F.when(kept, 1)).alias("n_kept"),
            F.coalesce(F.sum(F.when(kept, F.col("n_chars"))), F.lit(0))
            .cast("bigint")
            .alias("kept_chars"),
        )
        .orderBy("source")
    )


# SURVEY.md §2.9/§2.11: split-leakage auditing, rolling-active
# stickiness, readability scoring, and order-backlog tracking — the
# audit/engagement metrics that close out the BI and corpus-hygiene
# surface.
#
# Same scale discipline as the rest of the repo: exact integer masses
# with at most one IEEE division per output row, calendar-bounded or
# fingerprint-grain shuffles, no global ordered stage anywhere.


@query(
    "q_split_leakage",
    oracle=r"""
    WITH tagged AS (
      SELECT CASE WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc'
                  THEN 'train'
                  WHEN SUBSTRING(MD5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                  THEN 'val' ELSE 'test' END AS split,
             MD5(TRIM(REGEXP_REPLACE(LOWER(text), '\s+', ' ', 'g'))) AS fp
      FROM documents
    ), per_fp AS (
      SELECT fp,
             COUNT(*) FILTER (WHERE split = 'train') AS n_train,
             COUNT(*) FILTER (WHERE split = 'val') AS n_val,
             COUNT(*) FILTER (WHERE split = 'test') AS n_test
      FROM tagged GROUP BY fp
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_contents,
           CAST(COUNT(*) FILTER (
             WHERE (n_train > 0 AND (n_val > 0 OR n_test > 0))
                OR (n_val > 0 AND n_test > 0)
           ) AS BIGINT) AS n_leaking,
           CAST(COUNT(*) FILTER (WHERE n_train + n_val + n_test > 1)
                AS BIGINT) AS n_duplicated,
           CAST(SUM(CASE WHEN n_train > 0 AND n_test > 0
                         THEN n_test ELSE 0 END) AS BIGINT)
             AS test_docs_seen_in_train
    FROM per_fp
    """,
)
def q_split_leakage(spark, sf_dir):
    """Train/test split LEAKAGE AUDIT — the check behind
    ``q_split_assign``'s "leakage-stable" claim: identical CONTENT
    (normalized fingerprint, the ``q_dedup_normalized`` key) must not
    straddle split boundaries, because id-hash splitting only prevents
    the same DOCUMENT from moving — duplicated content with different
    ids still leaks evaluation data into training. Reports corpus-level
    counts: distinct contents, contents present in >1 split, duplicated
    contents, and the head count every eval paper cares about — test
    documents whose content also appears in train.

    Plan: one narrow map (split tag + fingerprint), one
    fingerprint-grain aggregate with conditional counters (map-side
    partial), one 1-row rollup. Shuffle carries 32-hex fingerprints
    only; no text, no joins, nothing ordered."""
    d = read_table(spark, sf_dir, "documents")
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    split = F.when(h < "cc", "train").when(h < "e6", "val").otherwise("test")
    fp = F.md5(F.trim(F.regexp_replace(F.lower("text"), r"\s+", " ")))
    per_fp = (
        d.select(split.alias("split"), fp.alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.when(F.col("split") == "train", 1)).alias("n_train"),
            F.count(F.when(F.col("split") == "val", 1)).alias("n_val"),
            F.count(F.when(F.col("split") == "test", 1)).alias("n_test"),
        )
    )
    leak = (
        ((F.col("n_train") > 0) & ((F.col("n_val") > 0) | (F.col("n_test") > 0)))
        | ((F.col("n_val") > 0) & (F.col("n_test") > 0))
    )
    return per_fp.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_contents"),
        F.count(F.when(leak, 1)).cast("bigint").alias("n_leaking"),
        F.count(
            F.when(F.col("n_train") + F.col("n_val") + F.col("n_test") > 1, 1)
        )
        .cast("bigint")
        .alias("n_duplicated"),
        F.sum(
            F.when(
                (F.col("n_train") > 0) & (F.col("n_test") > 0),
                F.col("n_test"),
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("test_docs_seen_in_train"),
    )


@query(
    "q_source_coverage",
    oracle=f"""
    WITH tok AS (
      SELECT source, UNNEST(STRING_SPLIT({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ), cnt AS (
      SELECT source, term, COUNT(*) AS n
      FROM tok WHERE LENGTH(term) > 0 GROUP BY source, term
    ), top100 AS (
      SELECT term FROM (
        SELECT term, SUM(n) AS tot FROM cnt GROUP BY term
        ORDER BY tot DESC, term ASC LIMIT 100
      )
    )
    SELECT c.source,
           CAST(SUM(c.n) AS BIGINT) AS total_tokens,
           CAST(SUM(CASE WHEN t.term IS NOT NULL THEN c.n ELSE 0 END)
                AS BIGINT) AS covered_tokens,
           CAST(SUM(CASE WHEN t.term IS NOT NULL THEN c.n ELSE 0 END)
                AS DOUBLE) / SUM(c.n) AS coverage
    FROM cnt c LEFT JOIN top100 t ON c.term = t.term
    GROUP BY c.source ORDER BY c.source
    """,
)
def q_source_coverage(spark, sf_dir):
    """Head-vocabulary coverage per source: what fraction of each
    source's token mass the global top-100 terms cover — the quick
    domain-shift / tokenizer-fit diagnostic (a source whose mass the
    corpus head vocabulary misses is out-of-distribution for a
    tokenizer trained on the corpus).

    Plan: one tokenize pass → (source, term) counted grain (map-side
    partials collapse duplicate terms before the shuffle); the global
    top-100 is a bounded TakeOrderedAndProject over the term rollup and
    BROADCASTS back into the grain — no second shuffle of the token
    stream, no global window. Masses exact; one division per source."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    cnt = (
        docs.select("source", F.explode(toks).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top100 = (
        cnt.groupBy("term")
        .agg(F.sum("n").alias("tot"))
        .orderBy(F.col("tot").desc(), F.col("term").asc())
        .limit(100)
        .select("term", F.lit(True).alias("is_top"))
    )
    return (
        cnt.join(F.broadcast(top100), "term", "left")
        .groupBy("source")
        .agg(
            F.sum("n").cast("bigint").alias("total_tokens"),
            F.sum(F.when(F.col("is_top"), F.col("n")).otherwise(F.lit(0)))
            .cast("bigint")
            .alias("covered_tokens"),
        )
        .select(
            "source",
            "total_tokens",
            "covered_tokens",
            (F.col("covered_tokens").cast("double") / F.col("total_tokens")).alias(
                "coverage"
            ),
        )
        .orderBy("source")
    )


@query(
    "q_split_temporal",
    oracle="""
    WITH b AS (
      SELECT MIN(EPOCH_US(ts)) AS lo, MAX(EPOCH_US(ts)) AS hi FROM events
    ), tagged AS (
      SELECT CASE WHEN EPOCH_US(ts) < lo + (hi - lo) * 4 // 5
                  THEN 'train' ELSE 'test' END AS split,
             user_id
      FROM events, b
    ), per AS (
      SELECT split, CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
      FROM tagged GROUP BY split
    ), overlap AS (
      SELECT 'user_overlap' AS split, CAST(0 AS BIGINT) AS n_events,
             CAST(COUNT(*) AS BIGINT) AS n_users
      FROM (SELECT user_id FROM tagged WHERE split = 'train'
            INTERSECT
            SELECT user_id FROM tagged WHERE split = 'test')
    )
    SELECT * FROM (SELECT * FROM per UNION ALL SELECT * FROM overlap)
    ORDER BY split
    """,
)
def q_split_temporal(spark, sf_dir):
    """TEMPORAL train/test split at the 80% point of the observed time
    span, with the USER-LEAKAGE audit every temporal split needs: how
    many users appear on BOTH sides of the cut (their test events are
    not out-of-distribution future for a per-user model — the quiet
    leak temporal splits are chosen to avoid). Completes the split
    family: hash split (q_split_assign), group-leakage check
    (q_split_leakage), temporal split (here).

    Determinism: the cutoff is exact integer µs arithmetic
    (``lo + (hi−lo)·4 // 5`` — floor division mirrored cross-engine
    on non-negative spans); no floats anywhere.

    Scale shape: the (lo, hi) bounds are a 1-row broadcast; tagging is
    a narrow map; per-split counts partial-aggregate; the overlap is a
    distinct-user semi-join that shuffles user ids only."""
    ev = read_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    b = ev.agg(
        F.min(us).alias("lo"),
        F.max(us).alias("hi"),
    )
    tagged = ev.crossJoin(F.broadcast(b)).select(
        F.when(
            us < F.col("lo") + F.expr("(hi - lo) * 4 div 5"), F.lit("train")
        )
        .otherwise(F.lit("test"))
        .alias("split"),
        "user_id",
    )
    per = tagged.groupBy("split").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("n_users"),
    )
    tr = tagged.filter(F.col("split") == "train").select("user_id").distinct()
    te = tagged.filter(F.col("split") == "test").select("user_id").distinct()
    overlap = (
        tr.join(te, "user_id", "left_semi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))
        .select(
            F.lit("user_overlap").alias("split"),
            F.lit(0).cast("bigint").alias("n_events"),
            "n_users",
        )
    )
    return per.unionByName(overlap).orderBy("split")


# SURVEY.md §2.11 corpus ops / compliance: TEMPERATURE-BASED
# multilingual sampling (the p^(1/T) corpus-mixing rule from
# multilingual pretraining, in exact integer arithmetic at T=2) and a
# K-ANONYMITY audit (quasi-identifier group-size risk — the privacy
# check beside q_gdpr_erasure and q_pii_scan).
#
# Reference scope: corpus curation and privacy sign-off are the two
# gates every training-data pipeline clears before a crawl ships.


_SAMPLE_BUDGET = 200


@query(
    "q_sample_temperature",
    oracle=f"""
    WITH n AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY 1
    ), w AS (
      SELECT lang, n_docs,
             CAST(FLOOR(SQRT(CAST(n_docs AS DOUBLE))) AS BIGINT) AS weight
      FROM n
    ), tot AS (
      SELECT CAST(SUM(weight) AS BIGINT) AS wsum FROM w
    ), q AS (
      SELECT w.lang, w.n_docs, w.weight,
             CAST({_SAMPLE_BUDGET} * w.weight // t.wsum AS BIGINT) AS quota
      FROM w, tot t
    ), ranked AS (
      SELECT d.lang,
             ROW_NUMBER() OVER (PARTITION BY d.lang
                                ORDER BY MD5(CAST(d.doc_id AS VARCHAR)),
                                         d.doc_id) AS rn
      FROM documents d
    ), sel AS (
      SELECT r.lang, CAST(COUNT(*) AS BIGINT) AS n_selected
      FROM ranked r JOIN q ON r.lang = q.lang
      WHERE r.rn <= q.quota
      GROUP BY 1
    )
    SELECT q.lang, q.n_docs, q.weight, q.quota,
           COALESCE(s.n_selected, 0) AS n_selected
    FROM q LEFT JOIN sel s ON q.lang = s.lang
    ORDER BY q.lang
    """,
)
def q_sample_temperature(spark, sf_dir):
    """TEMPERATURE SAMPLING for multilingual corpus mixing: per-language
    quotas ∝ n^(1/T) with T=2 — the standard rule that upsamples
    low-resource languages relative to proportional sampling (T=1)
    without the uniform extreme (T→∞). The pipeline: language mass →
    weight = ⌊√n⌋ → integer quota = budget·wᵢ // Σw → deterministic
    md5-ranked selection of exactly quota docs per language.

    Determinism: √ is IEEE-correctly-rounded on both engines (the
    reason T=2 — a general p^(1/T) pow is last-ulp engine-specific);
    floor → exact integers; quotas are integer floor-division; doc
    selection ranks by (md5, doc_id) — rebuild-stable like
    q_split_assign, no RNG.

    Scale shape: language masses are a tiny partial-aggregated rollup;
    weights/quotas are a broadcast few-row frame; selection is ONE
    rank window PARTITIONED by language (quota-bounded output). At
    100 TB the rank window's per-language order is the only big sort —
    shard it further with the md5-prefix bucket trick (rank within
    (lang, md5-prefix), quota per bucket) if a single language
    dominates."""
    docs = read_table(spark, sf_dir, "documents")
    n = docs.groupBy("lang").agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
    w = n.withColumn(
        "weight",
        F.floor(F.sqrt(F.col("n_docs").cast("double"))).cast("bigint"),
    )
    tot = w.agg(F.sum("weight").cast("bigint").alias("wsum"))
    scaled = F.lit(_SAMPLE_BUDGET) * F.col("weight")
    quota = (
        (scaled - F.pmod(scaled, F.col("wsum"))) / F.col("wsum")
    ).cast("bigint")
    q = w.crossJoin(F.broadcast(tot)).withColumn("quota", quota).drop("wsum")

    rn = F.row_number().over(
        Window.partitionBy("lang").orderBy(
            F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
        )
    )
    sel = (
        docs.select("lang", rn.alias("rn"))
        .join(F.broadcast(q.select("lang", "quota")), "lang")
        .filter(F.col("rn") <= F.col("quota"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_selected"))
    )
    return (
        q.join(sel, "lang", "left")
        .select(
            "lang",
            "n_docs",
            "weight",
            "quota",
            F.coalesce(F.col("n_selected"), F.lit(0))
            .cast("bigint")
            .alias("n_selected"),
        )
        .orderBy("lang")
    )


# Same ~10.2% md5 hex-prefix rule as q_sample_hash: prefix < '1a' keeps
# 26 of 256 two-hex-digit buckets.
_P_NUM, _P_DEN = 26, 256


@query(
    "q_sample_bias_audit",
    oracle=f"""
    WITH pop AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n_pop,
             CAST(SUM(CASE WHEN SUBSTRING(MD5(CAST(event_id AS VARCHAR)), 1, 2)
                           < '1a' THEN 1 ELSE 0 END) AS BIGINT) AS n_sample
      FROM events GROUP BY 1
    )
    SELECT event_type, n_pop, n_sample,
           CAST(n_pop AS DOUBLE) * ({_P_NUM} / CAST({_P_DEN} AS DOUBLE))
             AS expected,
           (CAST(n_sample AS DOUBLE)
            - CAST(n_pop AS DOUBLE) * ({_P_NUM} / CAST({_P_DEN} AS DOUBLE)))
           * (CAST(n_sample AS DOUBLE)
              - CAST(n_pop AS DOUBLE) * ({_P_NUM} / CAST({_P_DEN} AS DOUBLE)))
           / (CAST(n_pop AS DOUBLE) * ({_P_NUM} / CAST({_P_DEN} AS DOUBLE))
              * (1 - {_P_NUM} / CAST({_P_DEN} AS DOUBLE))) AS z_sq,
           CASE WHEN (CAST(n_sample AS DOUBLE)
                      - CAST(n_pop AS DOUBLE)
                        * ({_P_NUM} / CAST({_P_DEN} AS DOUBLE)))
                     * (CAST(n_sample AS DOUBLE)
                        - CAST(n_pop AS DOUBLE)
                          * ({_P_NUM} / CAST({_P_DEN} AS DOUBLE)))
                     / (CAST(n_pop AS DOUBLE)
                        * ({_P_NUM} / CAST({_P_DEN} AS DOUBLE))
                        * (1 - {_P_NUM} / CAST({_P_DEN} AS DOUBLE)))
                     <= 3.841458820694124 THEN 'fair' ELSE 'biased' END
             AS verdict
    FROM pop ORDER BY event_type
    """,
)
def q_sample_bias_audit(spark, sf_dir):
    """HASH-SAMPLE BIAS AUDIT: for each event category, the exact
    population count, the exact count falling in the md5-prefix <'1a'
    sample (the q_sample_hash rule, expected rate 26/256), the
    binomial z² against that rate, and a fair/biased verdict at the
    χ²₁ 95% critical value (3.8415) — the audit that certifies
    deterministic hash sampling doesn't correlate with any category
    (md5 avalanche), run per-category so a failure names the stratum.

    Scale shape: ONE category-grain conditional aggregate (population
    and sample counted in the same pass — the sample is a filter
    expression, never a second scan), then pure per-row float math on
    two exact integers. The z² chain is written identically in both
    engines; no cross-row float accumulation anywhere."""
    ev = read_table(spark, sf_dir, "events")
    pop = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum(
            F.when(
                F.substring(F.md5(F.col("event_id").cast("string")), 1, 2)
                < "1a",
                1,
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_sample"),
    )
    p = F.lit(_P_NUM) / F.lit(_P_DEN).cast("double")
    expected = F.col("n_pop").cast("double") * p
    diff = F.col("n_sample").cast("double") - expected
    z_sq = diff * diff / (expected * (1 - p))
    return pop.select(
        "event_type",
        "n_pop",
        "n_sample",
        expected.alias("expected"),
        z_sq.alias("z_sq"),
        F.when(z_sq <= 3.841458820694124, "fair")
        .otherwise("biased")
        .alias("verdict"),
    ).orderBy("event_type")


@query(
    "q_dataset_card",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, lang, n_chars,
             {_NORM.format(c='text')} AS nt
      FROM documents
    ), toks AS (
      SELECT SUM(LEN(nt) - LEN(REPLACE(nt, ' ', '')) + 1) AS n_tokens
      FROM base WHERE LEN(nt) > 0
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           (SELECT CAST(n_tokens AS BIGINT) FROM toks) AS total_tokens,
           CAST(COUNT(*) - COUNT(DISTINCT nt) AS BIGINT) AS n_exact_dups,
           CAST(COUNT(*) - COUNT(DISTINCT nt) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS dup_rate,
           CAST(SUM(n_chars) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
             AS mean_chars
    FROM base
    """,
)
def q_dataset_card(spark, sf_dir):
    """DATASET CARD: the one-row corpus datasheet — document, source
    and language counts, total characters, whitespace-token total,
    normalized-text exact-duplicate count and rate, mean length —
    the summary block a corpus release prints first (Gebru et al.
    "Datasheets for Datasets"), assembled from the same normalization
    contract every dedup op uses so the dup rate here equals what
    q_dedup_normalized would remove.

    Scale shape: ONE aggregate pass over documents (token counting is
    a length expression, not an explode; the dup count is COUNT −
    COUNT(DISTINCT) over the normalized text — at corpus scale the
    16-hex fingerprint substitutes, same discipline as
    q_dedup_normalized). No joins, no windows."""
    from self_healing_data_pipeline_spark.operators.dedup import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        normalize_text("text").alias("nt"),
    )
    tok_count = F.when(
        F.length("nt") > 0,
        F.length("nt")
        - F.length(F.regexp_replace(F.col("nt"), " ", ""))
        + 1,
    ).otherwise(0)
    return base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("source").cast("bigint").alias("n_sources"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum(tok_count).cast("bigint").alias("total_tokens"),
        (F.count(F.lit(1)) - F.countDistinct("nt"))
        .cast("bigint")
        .alias("n_exact_dups"),
        (
            (F.count(F.lit(1)) - F.countDistinct("nt")).cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("dup_rate"),
        (
            F.sum("n_chars").cast("double")
            / F.count(F.lit(1)).cast("double")
        ).alias("mean_chars"),
    )


# SURVEY.md §2.11 corpus / dedup policy: CHUNK COVERAGE AUDIT (proves
# the 200/150 chunker loses no characters and quantifies its overlap
# cost — the RAG-pipeline DQ gate on q_doc_chunks' output) and the DEDUP
# THRESHOLD SWEEP (how many near-dup pairs each Jaccard threshold would
# remove, from ONE shared candidate/verify pass — the sensitivity table
# a data steward reads before picking 0.8).
#
# Exactness: coverage arithmetic is pure integers from the chunking
# closed form; sweep counts are exact pair counts per threshold.


_W, _S = 200, 150  # q_doc_chunks' window/stride contract


@query(
    "q_chunk_coverage_audit",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, LENGTH(text) AS n,
             CAST(CEIL(GREATEST(LENGTH(text) - 200, 0) / 150.0)
                  AS BIGINT) + 1 AS n_chunks
      FROM documents
    ), per_doc AS (
      SELECT doc_id, source, n, n_chunks,
             LEAST((n_chunks - 1) * 150 + 200, n) AS last_end,
             (n_chunks - 1) * 50 AS overlap_chars
      FROM base
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chunks) AS BIGINT) AS n_chunks,
           CAST(SUM(n) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN last_end >= n THEN 1 ELSE 0 END) AS BIGINT)
             AS fully_covered_docs,
           CAST(SUM(n - last_end) AS BIGINT) AS uncovered_chars,
           CAST(SUM(overlap_chars) AS BIGINT) AS overlap_chars,
           CAST(SUM(overlap_chars) AS DOUBLE) / CAST(SUM(n) AS DOUBLE)
             AS overlap_ratio
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def q_chunk_coverage_audit(spark, sf_dir):
    """CHUNK COVERAGE AUDIT for the q_doc_chunks 200/150 contract:
    per source, the chunk count, the proof that the LAST chunk reaches
    the end of every document (fully_covered_docs must equal n_docs
    and uncovered_chars must be 0 — the oracle pins both), and the
    exact overlap cost (n_chunks−1)·(W−S): the duplicated characters
    a RAG index embeds twice. Designing this audit CAUGHT a real
    defect — the chunker's original floor-based count left up to
    S−1 = 149 uncovered tail characters on 349 of 500 fixture docs;
    the operator now uses ceil and this audit gates the contract.

    Scale shape: pure integer column expressions per doc from the
    chunking CLOSED FORM (no explode — auditing a trillion chunks
    costs one scan of the doc table) + a source-grain partial
    aggregate."""
    docs = read_table(spark, sf_dir, "documents")
    n = F.length("text")
    n_chunks = (
        F.ceil(F.greatest(n - _W, F.lit(0)) / float(_S)).cast("bigint") + 1
    )
    last_end = F.least((n_chunks - 1) * _S + _W, n)
    per_doc = docs.select(
        "source",
        n.alias("n"),
        n_chunks.alias("n_chunks"),
        last_end.alias("last_end"),
        ((n_chunks - 1) * (_W - _S)).alias("overlap_chars"),
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chunks").cast("bigint").alias("n_chunks"),
            F.sum("n").cast("bigint").alias("total_chars"),
            F.sum(
                F.when(F.col("last_end") >= F.col("n"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("fully_covered_docs"),
            F.sum(F.col("n") - F.col("last_end"))
            .cast("bigint")
            .alias("uncovered_chars"),
            F.sum("overlap_chars").cast("bigint").alias("overlap_chars"),
        )
        .select(
            "source",
            "n_docs",
            "n_chunks",
            "total_chars",
            "fully_covered_docs",
            "uncovered_chars",
            "overlap_chars",
            (
                F.col("overlap_chars").cast("double")
                / F.col("total_chars").cast("double")
            ).alias("overlap_ratio"),
        )
        .orderBy("source")
    )


# SURVEY.md §2.11 corpus policy: the FILTER CASCADE report (per-stage
# survivor/attrition counts for the standard quality-filter sequence —
# the pipeline-composition table every corpus paper publishes, e.g.
# Gopher's and RefinedWeb's filter funnels) and the TOKEN-BUDGET
# allocator (greedy source selection under a corpus token budget, ranked
# by an exact integer quality proxy — the "which feeds fit in this
# training run" decision).
#
# Exactness: every filter verdict is an integer comparison or
# cross-multiplication (no float thresholds anywhere: alpha and
# word-length bands are cross-multiplied, the dedup stage is a
# keep-first window on an md5 fingerprint), so the cascade counts are
# engine-exact; the budget math is integer token sums with one ppm
# integer division for the rank key.


_STOP_PAT = r"\b(" + "|".join(_STOPWORDS) + r")\b"

#: Shared per-doc flag CTE (DuckDB side). Integer-only verdicts:
#: alpha >= 50% via 2*alpha >= len; mean word length in [3, 12] via
#: 3*n_toks <= n_chars <= 12*n_toks; dedup = keep-first per md5 of
#: normalized text. langid reuses q_text_langid's marker CASE.
_FLAGS_SQL = f"""
    base AS (
      SELECT doc_id, source, n_chars, text,
             {_NORM.format(c='text')} AS norm
      FROM documents
    ), scored AS (
      SELECT doc_id, source, n_chars, text, norm,
           {_marker_counts_sql()}
      FROM base
    ), flags AS (
      SELECT doc_id, source, MD5(norm) AS fp,
        (n_chars BETWEEN 100 AND 20000) AS pass_len,
        ({_langid_case_sql()} <> 'und') AS pass_lang,
        (2 * LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g'))
           >= LENGTH(text)) AS pass_alpha,
        (3 * (LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1)
           <= n_chars
         AND n_chars
           <= 12 * (LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1))
          AS pass_wlen
      FROM scored
    )"""


@query(
    "q_filter_cascade",
    oracle=f"""
    WITH {_FLAGS_SQL},
    surv0 AS (
      SELECT doc_id, fp, pass_len, pass_lang, pass_alpha,
             pass_len AND pass_lang AND pass_alpha AND pass_wlen AS s4
      FROM flags
    ), surv AS (
      SELECT pass_len AS s1,
             pass_len AND pass_lang AS s2,
             pass_len AND pass_lang AND pass_alpha AS s3,
             s4,
             (s4 AND doc_id = MIN(CASE WHEN s4 THEN doc_id END)
                              OVER (PARTITION BY fp)) AS s5
      FROM surv0
    ), agg AS (
      SELECT COUNT(*) AS n0,
             SUM(CASE WHEN s1 THEN 1 ELSE 0 END) AS n1,
             SUM(CASE WHEN s2 THEN 1 ELSE 0 END) AS n2,
             SUM(CASE WHEN s3 THEN 1 ELSE 0 END) AS n3,
             SUM(CASE WHEN s4 THEN 1 ELSE 0 END) AS n4,
             SUM(CASE WHEN s5 THEN 1 ELSE 0 END) AS n5
      FROM surv
    )
    SELECT stage_idx, stage,
           CAST(n_in AS BIGINT) AS n_in,
           CAST(n_in - n_out AS BIGINT) AS n_dropped,
           CAST(n_out AS BIGINT) AS n_out,
           CASE WHEN n_in = 0 THEN 0.0
                ELSE CAST(n_in - n_out AS DOUBLE) / CAST(n_in AS DOUBLE)
           END AS drop_rate
    FROM (
      SELECT 1 AS stage_idx, 'length' AS stage, n0 AS n_in, n1 AS n_out
        FROM agg
      UNION ALL SELECT 2, 'langid', n1, n2 FROM agg
      UNION ALL SELECT 3, 'alpha', n2, n3 FROM agg
      UNION ALL SELECT 4, 'word_len', n3, n4 FROM agg
      UNION ALL SELECT 5, 'exact_dedup', n4, n5 FROM agg
    )
    ORDER BY stage_idx
    """,
)
def q_filter_cascade(spark, sf_dir):
    """FILTER CASCADE attrition report: the five standard corpus
    filters applied in sequence — length band, language-ID confidence,
    alphabetic ratio, mean-word-length band, exact dedup — with
    per-stage n_in / n_dropped / n_out / drop_rate. The table a data
    steward reads before changing any knob: it shows WHERE documents
    die, which q_text_quality's blended score (one number per doc)
    cannot.

    Every verdict is integer arithmetic (cross-multiplied bands; the
    dedup stage keeps the first SURVIVOR of the prior gates per md5
    fingerprint — true sequential semantics, a doc eliminated upstream
    cannot shadow a survivor), so counts are engine-exact; drop_rate
    is one final IEEE division of exact longs.

    Scale shape: one scan computes the four row-local gates (langid
    regex counts and ratios are JVM expressions); the only shuffle is
    the dedup fingerprint window carrying (fp, doc_id, s4) tuples —
    text never shuffles;
    the cascade collapses to ONE 1-row conditional aggregate, then a
    5-row literal unpivot. Stage k's input count is by construction
    the survivor count of stage k-1 — the sequence semantics, with no
    per-stage rescan."""
    from self_healing_data_pipeline_spark.operators.cascade import (
        cascade_flags,
    )

    docs = read_table(spark, sf_dir, "documents")
    # Shared gate logic (operators/cascade.py — also drives the
    # streaming funnel twin); the dedup stage below is the BATCH
    # resolution of first-survivor-per-fingerprint.
    flags = cascade_flags(docs)
    # Sequential dedup semantics: a doc passes the dedup stage iff it
    # is the FIRST SURVIVOR of the prior gates in its fingerprint group
    # — a doc eliminated upstream cannot shadow a survivor (keep-first
    # over all docs would misstate the funnel). One conditional-MIN
    # window on (fp, doc_id, s4) tuples; text never shuffles.
    wfp = Window.partitionBy("fp")
    s = flags.withColumn(
        "s5",
        F.col("s4")
        & (
            F.col("doc_id")
            == F.min(F.when(F.col("s4"), F.col("doc_id"))).over(wfp)
        ),
    ).select(
        "pass_len",
        (F.col("pass_len") & F.col("pass_lang")).alias("s2"),
        (F.col("pass_len") & F.col("pass_lang") & F.col("pass_alpha")).alias(
            "s3"
        ),
        "s4",
        "s5",
    )
    agg = s.agg(
        F.count(F.lit(1)).alias("n0"),
        F.sum(F.col("pass_len").cast("int")).alias("n1"),
        F.sum(F.col("s2").cast("int")).alias("n2"),
        F.sum(F.col("s3").cast("int")).alias("n3"),
        F.sum(F.col("s4").cast("int")).alias("n4"),
        F.sum(F.col("s5").cast("int")).alias("n5"),
    )
    stages = agg.select(
        F.expr(
            "stack(5,"
            " 1, 'length', n0, n1,"
            " 2, 'langid', n1, n2,"
            " 3, 'alpha', n2, n3,"
            " 4, 'word_len', n3, n4,"
            " 5, 'exact_dedup', n4, n5"
            ") AS (stage_idx, stage, n_in, n_out)"
        )
    )
    return stages.select(
        "stage_idx",
        "stage",
        F.col("n_in").cast("bigint").alias("n_in"),
        (F.col("n_in") - F.col("n_out")).cast("bigint").alias("n_dropped"),
        F.col("n_out").cast("bigint").alias("n_out"),
        F.when(F.col("n_in") == 0, F.lit(0.0))
        .otherwise(
            (F.col("n_in") - F.col("n_out")).cast("double")
            / F.col("n_in").cast("double")
        )
        .alias("drop_rate"),
    ).orderBy("stage_idx")


@query(
    "q_token_budget",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, source, {_NORM.format(c='text')} AS norm
      FROM documents
    ), per_doc AS (
      SELECT source,
             LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1 AS toks,
             LEN(REGEXP_EXTRACT_ALL(norm, '{_STOP_PAT}')) AS stop_hits
      FROM base
    ), per_source AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(toks) AS BIGINT) AS toks,
             CAST((1000000 * SUM(stop_hits)) // SUM(toks) AS BIGINT)
               AS quality_ppm
      FROM per_doc GROUP BY source
    ), ranked AS (
      SELECT *,
             ROW_NUMBER() OVER (ORDER BY quality_ppm DESC, source)
               AS rank,
             SUM(toks) OVER (ORDER BY quality_ppm DESC, source
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND CURRENT ROW) AS cum_toks,
             SUM(toks) OVER () AS total_toks
      FROM per_source
    )
    SELECT source, CAST(rank AS BIGINT) AS rank, n_docs, toks,
           quality_ppm,
           CAST(cum_toks AS BIGINT) AS cum_toks,
           (cum_toks <= total_toks // 2) AS taken
    FROM ranked ORDER BY rank
    """,
)
def q_token_budget(spark, sf_dir):
    """TOKEN-BUDGET allocation: sources ranked by an exact integer
    quality proxy (stopword hits per million tokens — a fluency
    signal), greedily taken while the cumulative token count fits a
    50%-of-corpus budget. The "which feeds make the training run"
    decision as one deterministic table: rank, exact token counts,
    cumulative fill, and the taken verdict.

    Scale shape: one scan computes per-doc token/stopword integers
    (row-local regex counts), a source-grain partial aggregate
    collapses to ~|sources| rows, and the rank/cumulative windows run
    on that BOUNDED grain (10 rows here; a feed catalog is always
    metadata-sized — this is the legitimate SinglePartition case).
    Budget arithmetic is integer division throughout."""
    docs = read_table(spark, sf_dir, "documents")
    norm = normalize_text("text")
    n_toks = (
        F.length(norm) - F.length(F.regexp_replace(norm, " ", "")) + 1
    )
    stop_hits = F.regexp_count(norm, F.lit(_STOP_PAT))
    per_source = (
        docs.select(
            "source", n_toks.alias("toks"), stop_hits.alias("stop_hits")
        )
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("toks").cast("bigint").alias("toks"),
            F.expr("CAST(1000000 * SUM(stop_hits) DIV SUM(toks) AS BIGINT)")
            .alias("quality_ppm"),
        )
    )
    wrank = Window.orderBy(F.col("quality_ppm").desc(), F.col("source"))
    wcum = wrank.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        per_source.withColumn("rank", F.row_number().over(wrank))
        .withColumn("cum_toks", F.sum("toks").over(wcum))
        .withColumn("total_toks", F.sum("toks").over(wall))
        .select(
            "source",
            F.col("rank").cast("bigint").alias("rank"),
            "n_docs",
            "toks",
            "quality_ppm",
            F.col("cum_toks").cast("bigint").alias("cum_toks"),
            (
                F.col("cum_toks")
                <= F.expr("total_toks DIV 2")
            ).alias("taken"),
        )
        .orderBy("rank")
    )


@query(
    "q_label_balance",
    oracle="""
    WITH counts AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n
      FROM embeddings GROUP BY label
    ), m AS (SELECT MIN(n) AS min_n, MAX(n) AS max_n FROM counts)
    SELECT c.label, c.n,
           CAST(m.min_n AS BIGINT) AS downsample_to,
           c.n - m.min_n AS n_dropped,
           CAST(m.max_n AS DOUBLE) / CAST(m.min_n AS DOUBLE)
             AS imbalance_ratio
    FROM counts c, m
    ORDER BY c.label
    """,
)
def q_label_balance(spark, sf_dir):
    """LABEL-BALANCE audit + deterministic rebalancing plan over the
    embeddings' label column: per-class counts, the uniform downsample
    quota (= minority class size — the plan that makes every class
    equal without synthesis), rows each class would drop, and the
    max/min imbalance ratio every class sees (the alarm a training mix
    monitors). Counts are exact; the ratio is one IEEE division of
    exact longs broadcast from a one-row scalar frame."""
    emb = read_table(spark, sf_dir, "embeddings")
    counts = emb.groupBy("label").agg(F.count(F.lit(1)).alias("n"))
    m = counts.agg(
        F.min("n").alias("min_n"), F.max("n").alias("max_n")
    )
    return (
        counts.crossJoin(F.broadcast(m))
        .select(
            "label",
            "n",
            F.col("min_n").alias("downsample_to"),
            (F.col("n") - F.col("min_n")).alias("n_dropped"),
            (
                F.col("max_n").cast("double")
                / F.col("min_n").cast("double")
            ).alias("imbalance_ratio"),
        )
        .orderBy("label")
    )
