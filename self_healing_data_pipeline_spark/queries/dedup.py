"""Deduplication queries (SURVEY.md §2.11).

Exact, normalized, MinHash, SimHash, shingle-prefix, containment, substring
and embedding near-duplicate detection, with clustering, explainability and
threshold sweeps.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.functions.scalar import ts_str
from self_healing_data_pipeline_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard_udf,
    normalize_text,
    shingles,
    simhash_md5_sql,
    simhash_signatures_md5,
)
from self_healing_data_pipeline_spark.operators.dedup import (
    NORMALIZE_TEXT_SQL as _NORM_SQL,
)
from self_healing_data_pipeline_spark.operators.dedup import NORMALIZE_TEXT_SQL as _NORM
from self_healing_data_pipeline_spark.operators.similarity import (
    blocked_dedup_survivors,
)
from self_healing_data_pipeline_spark.operators.windows import keep_first
from self_healing_data_pipeline_spark.queries.similarity import _dot32, _dot64
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_dedup_keep_first",
    oracle="""
    SELECT event_id, user_id, event_type,
           STRFTIME(ts, '%Y-%m-%d %H:%M:%S') AS ts_s
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts, event_id) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_dedup_keep_first(spark, sf_dir):
    """Keep the first event per (user, type) under a total order — the
    batch twin of streaming dropDuplicatesWithinWatermark."""
    ev = read_table(spark, sf_dir, "events")
    first = keep_first(
        ev,
        keys=["user_id", "event_type"],
        order_by=[F.col("ts").asc(), F.col("event_id").asc()],
    )
    return first.select(
        "event_id", "user_id", "event_type", ts_str("ts").alias("ts_s")
    )


@query(
    "q_dedup_normalized",
    oracle=f"""
    SELECT SUBSTRING(MD5({_NORM_SQL.format(c='text')}), 1, 16) AS fingerprint,
           COUNT(*) AS n_copies,
           MIN(doc_id) AS representative_id
    FROM documents
    GROUP BY 1
    """,
)
def q_dedup_normalized(spark, sf_dir):
    """Normalized-text dedup groups keyed on a 64-bit fingerprint.

    normalize → md5-prefix fingerprint (computed map-side) → hash-groupBy.
    The shuffle key is 16 hex chars, not the document text, so shuffle
    bytes stay O(|groups| × 16) instead of O(corpus) — the difference
    between a metadata-sized shuffle and re-shuffling all 100 TB. md5 is
    computed identically over UTF-8 in Spark and DuckDB, so the oracle
    twins exactly.
    """
    docs = read_table(spark, sf_dir, "documents")
    fp = F.substring(F.md5(normalize_text("text")), 1, 16)
    return docs.groupBy(fp.alias("fingerprint")).agg(
        F.count(F.lit(1)).alias("n_copies"),
        F.min("doc_id").alias("representative_id"),
    )


@query(
    "q_dedup_keep_first_docs",
    oracle="""
    SELECT lang, source, doc_id, n_chars FROM (
      SELECT lang, source, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY lang, source
                                ORDER BY n_chars DESC, doc_id) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_keep_first_docs(spark, sf_dir):
    """Exact dedup by key with deterministic representative (longest doc,
    then lowest id) — dropDuplicates with a defined winner."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup_exact(
        docs.select("lang", "source", "doc_id", "n_chars"),
        keys=["lang", "source"],
        order_by=[F.col("n_chars").desc(), F.col("doc_id").asc()],
    )


@query(
    "q_dedup_pairs",
    oracle=f"""
    WITH n AS (SELECT doc_id, lang, {_NORM_SQL.format(c='text')} AS nt FROM documents)
    SELECT l.doc_id AS id_l, r.doc_id AS id_r
    FROM n l JOIN n r
      ON l.lang = r.lang AND SUBSTRING(l.nt, 1, 40) = SUBSTRING(r.nt, 1, 40)
     AND l.doc_id < r.doc_id
    """,
)
def q_dedup_pairs(spark, sf_dir):
    """Candidate dup pairs via blocked self-join (block = lang + normalized
    40-char prefix): the O(Σ|block|²) pattern that replaces O(n²) at scale."""
    docs = read_table(spark, sf_dir, "documents")
    n = docs.select(
        "doc_id",
        "lang",
        F.substring(normalize_text("text"), 1, 40).alias("blk"),
    )
    l = n.alias("l")
    r = n.alias("r")
    return (
        l.join(
            r,
            (F.col("l.lang") == F.col("r.lang"))
            & (F.col("l.blk") == F.col("r.blk"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("id_l"), F.col("r.doc_id").alias("id_r"))
    )


@query("q_dedup_minhash")  # LSH banding is not SQL-expressible → rows-only
def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH candidate pairs (32 hashes, 8 bands over 5-gram shingles).
    See operators.dedup.minhash_lsh_pairs for the scale analysis."""
    docs = read_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, "doc_id", "text")


@query(
    "q_dedup_embedding",
    oracle="""
    SELECT e.vec_id
    FROM embeddings e
    WHERE NOT EXISTS (
      SELECT 1 FROM embeddings l
      WHERE l.label = e.label AND l.vec_id < e.vec_id
        AND (SELECT SUM(CAST(l.embedding[i] * e.embedding[i] AS DOUBLE))
               FROM generate_series(1, 64) AS t(i))
            / (SQRT((SELECT SUM(CAST(l.embedding[i] * l.embedding[i] AS DOUBLE))
                       FROM generate_series(1, 64) AS t(i)))
               * SQRT((SELECT SUM(CAST(e.embedding[i] * e.embedding[i] AS DOUBLE))
                         FROM generate_series(1, 64) AS t(i))))
            >= 0.2
    )
    """,
)
def q_dedup_embedding(spark, sf_dir):
    """Embedding-cosine near-dup DEDUP: keep each row with no lower-id
    neighbor at cosine ≥ τ within its block (keep-first representative).

    Round 12: runs at VALUE grain via operators.similarity.
    blocked_dedup_survivors — the semdedup_drops collapse. The sf1
    probe caught the vector-grain form at 15.8× wall for 10× data
    (replicated corpora grow blocks linearly → the blocked pair join
    quadratically); collapsing bit-identical vectors first is EXACT
    for keep-first semantics (see the operator docstring) and re-probes
    linear. The DuckDB oracle deliberately stays at vector grain — an
    independent formulation, not a rewrite twin."""
    emb = read_table(spark, sf_dir, "embeddings")
    return blocked_dedup_survivors(
        emb, block_col="label", threshold=0.2
    ).select("vec_id")


@query("q_dedup_simhash", oracle=simhash_md5_sql("documents", ngram=3))
def q_dedup_simhash(spark, sf_dir):
    """64-bit SimHash fingerprints over 3-gram shingles; near-dups differ
    in few bits (banded Hamming join is the scale path). PROMOTED to
    oracle-backed (round-10): the term hash is md5-derived (two 32-bit
    halves — integer arithmetic both engines share bit-for-bit), so
    DuckDB replays the whole sign-sum pipeline and the driver hash gate
    checks every one of the 64 bits of every signature. The Arrow
    SipHash kernel (``simhash_signatures``) remains the engine-internal
    fast path used by ``q_dedup_simhash_pairs``."""
    docs = read_table(spark, sf_dir, "documents")
    return simhash_signatures_md5(docs, "doc_id", "text", ngram=3)


@query(
    "q_dedup_simhash_pairs",
    oracle=f"""
    WITH sig AS ({simhash_md5_sql("documents", ngram=3)})
    SELECT l.doc_id AS id_l, r.doc_id AS id_r,
           CAST(BIT_COUNT(XOR(l.simhash, r.simhash)) AS INT) AS hamming
    FROM sig l JOIN sig r ON l.doc_id < r.doc_id
    WHERE BIT_COUNT(XOR(l.simhash, r.simhash)) <= 8
    """,
)
def q_dedup_simhash_pairs(spark, sf_dir):
    """SimHash near-dup pairs via pigeonhole banding (Hamming ≤ 8 over
    3-gram shingles) — one banded shuffle + exact popcount verify, no
    O(n²) compare on the engine side.

    PROMOTED to oracle-backed (round-10): unlike MinHash-LSH banding,
    the 9-band pigeonhole is LOSSLESS at Hamming ≤ 8 (8 differing bits
    can break at most 8 of 9 bands, so every qualifying pair shares at
    least one full band), so a complete-pairs oracle asserts exactly
    what the algorithm promises — no probabilistic recall over-claim
    (contrast q_dedup_ngram_verify, deliberately rows-only). The
    signature is the md5-derived twin DuckDB replays bit-for-bit
    (`simhash_signatures_md5`); the oracle recomputes every signature
    and self-joins by exact popcount, while the engine side still runs
    the banded plan — so the hash gate proves banding ≡ exhaustive
    compare on real data. The SipHash kernel (`simhash_signatures`)
    remains the engine-internal fast path."""
    docs = read_table(spark, sf_dir, "documents")
    from self_healing_data_pipeline_spark.operators.dedup import simhash_pairs

    return simhash_pairs(docs, "doc_id", "text", max_hamming=8, use_md5=True)


@query("q_dedup_ngram_verify")  # candidate generation uses LSH → rows-only
def q_dedup_ngram_verify(spark, sf_dir):
    """The full near-dup pipeline: MinHash-LSH candidates → exact n-gram
    Jaccard verification ≥ 0.5. Candidates are O(collisions); the exact
    check touches only candidate pairs, never n².

    Deliberately rows-only (round-10 promotion triage): a "complete
    pairs ≥ 0.5" oracle would assert 100% LSH recall, which the 8×4
    banding does not promise at J=0.5 (collision prob ≈ 0.40 there) —
    and a measured sweep found exactly one true pair escaping the bands
    at sf0.1 (255/256 caught; 28/28 and 25/25 at sf0.001/sf0.01). The
    exact-verification arithmetic itself IS oracle-covered by
    q_dedup_jaccard_prefix, whose complete shared-shingle twin proves
    the same set arithmetic with a lossless candidate generator."""
    docs = read_table(spark, sf_dir, "documents")
    cand = minhash_lsh_pairs(docs, "doc_id", "text")
    l = docs.select(F.col("doc_id").alias("id_l"), F.col("text").alias("text_l"))
    r = docs.select(F.col("doc_id").alias("id_r"), F.col("text").alias("text_r"))
    return (
        cand.join(l, "id_l")
        .join(r, "id_r")
        .select(
            "id_l",
            "id_r",
            F.round(
                ngram_jaccard_udf(5)(F.col("text_l"), F.col("text_r")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.5)
    )


@query(
    "q_fuzzy_match",
    oracle="""
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.lang,
           CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40))
                AS BIGINT) AS edit_distance
    FROM documents a JOIN documents b
      ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 4
    """,
)
def q_fuzzy_match(spark, sf_dir):
    """Edit-distance fuzzy matching (Levenshtein <= 4 on the 40-char
    prefix, same language) via PIGEONHOLE SEGMENT BLOCKING — the
    PassJoin family (Li et al., VLDB 2011): split the indexed side's
    prefix into k+1 = 5 fixed 8-char segments; any pair within
    distance 4 MUST agree exactly on at least one segment, with the
    matching substring of the probe side starting within +-4 of that
    segment's position. Candidates therefore come from an equi-join on
    (lang, seg_idx, 8-char piece) — selective, shuffle carries 40-char
    prefixes at most — and only candidates pay the banded O(len*k)
    verify. The oracle is the complete lang-blocked formulation:
    equality proves the pigeonhole filter lost nothing.

    Threshold history: round 7 tightened 20 -> 4. At 20, random
    word-pool prefixes collide (the sf1 probe measured the RESULT SET
    growing ~n^2: 54 -> 5,033 pairs for 10x docs) — a quadratic answer
    no blocking can save, and useless as a dedup signal (the fixture's
    true duplicates sit at distance 0-4, the random tail starts at 9).
    At 4 the answer is the planted near-dup set and grows linearly.

    Every fixture doc has >= 44 chars, so prefixes are always exactly
    40 chars and one fixed segment scheme serves all rows; a corpus
    with shorter docs would bucket them into a per-length scheme (the
    general PassJoin form). Scale shape at 100 TB: 5 index rows + <= 37
    probe rows per doc, candidate generation bounded by 8-char-piece
    bucket sizes, verification candidate-bounded — never all-pairs."""
    _K = 4
    _PLEN = 40
    _NSEG = _K + 1
    _SLEN = _PLEN // _NSEG  # 8
    d = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        F.substring("text", 1, _PLEN).alias("prefix"),
    )
    # Indexed side: the 5 fixed segments (1-based starts 1,9,17,25,33).
    seg_starts = [1 + i * _SLEN for i in range(_NSEG)]
    b = d.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("prefix").alias("prefix_b"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("seg_idx"),
                        F.substring("prefix", st, _SLEN).alias("piece"),
                    )
                    for i, st in enumerate(seg_starts)
                ]
            )
        ).alias("sp"),
    ).select("doc_b", "lang_b", "prefix_b", "sp.seg_idx", "sp.piece")
    # Probe side: all substrings of length 8 starting within +-k of
    # each segment start (clamped to valid starts [1, 33]).
    probe_cells = []
    for i, st in enumerate(seg_starts):
        for shift in range(-_K, _K + 1):
            pos = st + shift
            if 1 <= pos <= _PLEN - _SLEN + 1:
                probe_cells.append(
                    F.struct(
                        F.lit(i).alias("seg_idx"),
                        F.substring("prefix", pos, _SLEN).alias("piece"),
                    )
                )
    a = d.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("lang_a"),
        F.col("prefix").alias("prefix_a"),
        F.explode(F.array(*probe_cells)).alias("sp"),
    ).select("doc_a", "lang_a", "prefix_a", "sp.seg_idx", "sp.piece")
    cand = (
        a.join(
            b,
            (a["lang_a"] == b["lang_b"])
            & (a["seg_idx"] == b["seg_idx"])
            & (a["piece"] == b["piece"])
            & (a["doc_a"] < b["doc_b"]),
        )
        .select("doc_a", "doc_b", "lang_a", "prefix_a", "prefix_b")
        .distinct()
    )
    dist = F.levenshtein(F.col("prefix_a"), F.col("prefix_b"), _K)
    return (
        cand.select(
            "doc_a",
            "doc_b",
            F.col("lang_a").alias("lang"),
            dist.cast("bigint").alias("edit_distance"),
        )
        .filter(F.col("edit_distance") >= 0)
    )


@query(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE e AS MATERIALIZED (
      SELECT a.doc_id AS x, b.doc_id AS y
      FROM documents a JOIN documents b
        ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) <= 4
    ), nodes AS MATERIALIZED (
      SELECT DISTINCT x AS n FROM e UNION SELECT DISTINCT y FROM e
    ), sym AS MATERIALIZED (
      SELECT x, y FROM e UNION SELECT y, x FROM e UNION SELECT n, n FROM nodes
    ), reach(a, b) AS (
      SELECT x, y FROM sym
      UNION
      SELECT r.a, s.y FROM reach r JOIN sym s ON r.b = s.x
    )
    SELECT a AS doc_id, MIN(b) AS cluster_id FROM reach GROUP BY a
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Dedup CLUSTER RESOLUTION: near-dup pairs (the oracle-checked fuzzy
    edges) resolved into connected components — every document labeled
    with its cluster's minimum doc_id. Pairwise dedup alone under-merges
    (A~B, B~C but A!~C must still be ONE group); transitivity is what a
    keep-one-per-cluster policy needs. Spark side: iterative min-label
    propagation (operators.dedup.connected_components); oracle: DuckDB
    recursive-CTE transitive closure — two very different evaluation
    strategies agreeing exactly."""
    from self_healing_data_pipeline_spark.operators.dedup import (
        connected_components,
    )

    edges = q_fuzzy_match(spark, sf_dir).select("doc_a", "doc_b")
    cc = connected_components(edges, id_l="doc_a", id_r="doc_b")
    return cc.select(F.col("node").alias("doc_id"), "cluster_id")


@query(
    "q_dedup_incremental",
    oracle=f"""
    WITH fp AS (
      SELECT doc_id, SUBSTRING(MD5({_NORM_SQL.format(c='text')}), 1, 16) AS fingerprint
      FROM documents
    ),
    incoming AS (SELECT * FROM fp WHERE doc_id % 5 = 0),
    corpus AS (SELECT * FROM fp WHERE doc_id % 5 <> 0)
    SELECT i.doc_id, i.fingerprint FROM incoming i
    WHERE NOT EXISTS (SELECT 1 FROM corpus c WHERE c.fingerprint = i.fingerprint)
    """,
)
def q_dedup_incremental(spark, sf_dir):
    """Incremental corpus dedup: which documents of an incoming batch
    (doc_id % 5 = 0 stands in for the new crawl) are genuinely new — i.e.
    their normalized-text fingerprint doesn't already exist in the corpus.
    LEFT ANTI join on the 16-hex fingerprint: the everyday operation of a
    continuously-growing corpus, and the shuffle moves fingerprints, not
    text. At 100 TB the corpus side would be a bucketed fingerprint table
    so the anti join is shuffle-free on re-ingest."""
    d = read_table(spark, sf_dir, "documents")
    fp = d.select(
        "doc_id",
        F.substring(F.md5(normalize_text("text")), 1, 16).alias("fingerprint"),
    )
    incoming = fp.filter(F.col("doc_id") % 5 == 0)
    corpus = fp.filter(F.col("doc_id") % 5 != 0)
    return incoming.join(corpus, "fingerprint", "left_anti").select(
        "doc_id", "fingerprint"
    )


@query(
    "q_dedup_keep_best",
    oracle="""
    WITH fp AS (
      SELECT doc_id, n_chars,
             SUBSTRING(MD5(TRIM(REGEXP_REPLACE(LOWER(text),
                                               '[^a-z0-9]+', ' ', 'g'))),
                       1, 16) AS fingerprint
      FROM documents
    )
    SELECT doc_id, fingerprint, n_chars
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY fingerprint
                                       ORDER BY n_chars DESC, doc_id) AS rn
          FROM fp)
    WHERE rn = 1
    """,
)
def q_dedup_keep_best(spark, sf_dir):
    """Dedup with a QUALITY-BASED canonical-selection policy: within each
    normalized-text fingerprint group keep the LONGEST variant (raw
    n_chars — normalization strips formatting, so raw length
    distinguishes otherwise-identical docs), doc_id as the total-order
    tie-break. The policy-parameterized sibling of keep-first: real
    corpus builds keep the best-quality duplicate, not the first-seen
    one. Same scale shape as all fingerprint dedup here: one window
    shuffle keyed on the 16-hex fingerprint, text never shuffles."""
    d = read_table(spark, sf_dir, "documents")
    fp = F.substring(F.md5(normalize_text("text")), 1, 16)
    w = Window.partitionBy("fingerprint").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    return (
        d.select("doc_id", "n_chars", fp.alias("fingerprint"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "fingerprint", "n_chars")
    )


_SPAN = 64  # substring-dedup span length
_STRIDE = 32  # span stride (overlapping halves so no dup straddles a gap)


@query(
    "q_dedup_substring",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, text,
             UNNEST(generate_series(
               1, CAST(n_chars AS BIGINT) - {_SPAN - 1}, {_STRIDE}
             )) AS p
      FROM documents WHERE n_chars >= {_SPAN}
    ), spans AS (
      SELECT doc_id,
             MD5(SUBSTRING(text, CAST(p AS INTEGER), {_SPAN})) AS span_hash
      FROM pos
    )
    SELECT span_hash,
           COUNT(DISTINCT doc_id) AS n_docs,
           COUNT(*) AS n_occurrences
    FROM spans
    GROUP BY span_hash
    HAVING COUNT(DISTINCT doc_id) >= 2
    ORDER BY span_hash
    """,
)
def q_dedup_substring(spark, sf_dir):
    """Cross-document repeated-substring detection (the Lee et al. 2022
    "Deduplicating Training Data" signal, stride-sampled): hash every
    64-char span at stride 32 and report spans appearing in
    ≥2 distinct documents. Stride 32 = span/2 guarantees any
    shared region ≥ 96 chars yields at least one ALIGNED
    common span for exact duplicates; it is the hash-sampled stand-in
    for the suffix-array exact method, which is the right trade at
    corpus scale.

    Plan: span extraction via the shared linear cell/lead-window form
    (``operators.text.strided_spans`` — round-10 long-doc fix; the
    original explode-then-substring shape was quadratic per doc on
    100 KB+ documents: full-text duplication per span row plus
    substring's O(pos) char scan), md5 immediately — the gram shuffle
    and the aggregate carry 32-hex hashes, never text. Distinct-doc
    counting is a two-level aggregate with map-side partials."""
    from self_healing_data_pipeline_spark.operators.text import (
        strided_spans,
    )

    d = read_table(spark, sf_dir, "documents")
    spans = strided_spans(
        d.filter(F.col("n_chars") >= _SPAN),
        "doc_id",
        F.col("text"),
        _SPAN,
        _STRIDE,
    ).select("doc_id", F.md5("span_text").alias("span_hash"))
    return (
        spans.groupBy("span_hash")
        .agg(
            F.countDistinct("doc_id").alias("n_docs"),
            F.count(F.lit(1)).alias("n_occurrences"),
        )
        .filter(F.col("n_docs") >= 2)
        .orderBy("span_hash")
    )


# SURVEY.md §2.11: the search-engine-construction / graph-analytics
# corner of the corpus surface — inverted-index posting lists,
# co-occurrence-graph triangle counting, head-vocabulary coverage, a
# prefix-filtered exact-Jaccard similarity join (the PPJoin family), and
# a MinHash sketch-accuracy gate mirroring
# ``q_distinct_sketch_accuracy``.
#
# Reference parity: the catalog/relationship-discovery vision
# (``automated-data-catalog-&-etl/README.md:7,21``) plus the
# training-data ops the task brief makes first-class.  Scale discipline
# as everywhere else: exact integer masses, at most one IEEE division per
# output row, no global windows, no all-pairs stage — candidate
# generation is always bucket/prefix-bounded and verification is
# candidate-bounded.


# DuckDB twin of operators.dedup.shingles(col, 5): distinct word 5-grams,
# degenerating to the whole (short) doc exactly like the Spark side.
_SHINGLE5_SQL = f"""
    SELECT DISTINCT doc_id,
           ARRAY_TO_STRING(a[CAST(i AS INT):CAST(i AS INT) + 4], ' ') AS sh
    FROM (
      SELECT doc_id, a,
             UNNEST(GENERATE_SERIES(1, GREATEST(LEN(a) - 4, 1))) AS i
      FROM (
        SELECT doc_id, STRING_SPLIT({_NORM.format(c='text')}, ' ') AS a
        FROM documents
      )
    )
"""


@query(
    "q_dedup_jaccard_prefix",
    oracle=f"""
    WITH sh AS ({_SHINGLE5_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    )
    SELECT d1, d2,
           CAST(i AS BIGINT) AS n_inter,
           CAST(s1.s + s2.s - i AS BIGINT) AS n_union,
           CAST(i AS DOUBLE) / (s1.s + s2.s - i) AS jaccard
    FROM inter
    JOIN sz s1 ON d1 = s1.doc_id
    JOIN sz s2 ON d2 = s2.doc_id
    WHERE 5 * i >= 4 * (s1.s + s2.s - i)
    ORDER BY d1, d2
    """,
)
def q_dedup_jaccard_prefix(spark, sf_dir):
    """EXACT Jaccard >= 0.8 near-duplicate pairs over word-5-gram
    shingle sets via PREFIX FILTERING (the PPJoin/AllPairs family,
    Xiao et al. 2008) — the exact counterpart of the MinHash/SimHash
    probabilistic dedup ops: no false negatives, no false positives.

    Candidate generation never goes all-pairs: shingles get a global
    total order (document frequency ascending, shingle ascending — the
    rare-first order that makes prefixes small), each doc keeps only
    its PREFIX (the s - ceil(0.8*s) + 1 smallest shingles under that
    order; two sets with J >= 0.8 MUST share a prefix element), and
    candidates come from the prefix-grain self-join — the blow-up is
    bounded by prefix-token bucket sizes, which rare-first ordering
    keeps small by construction. Verification is candidate-bounded:
    each surviving pair fetches the two docs' shingle ARRAYS and
    checks 5*|A∩B| >= 4*|A∪B| in exact integers (one IEEE division
    only for the reported jaccard). The oracle is the complete
    shared-shingle formulation — equality proves the prefix filter
    lost nothing."""
    from self_healing_data_pipeline_spark.operators.dedup import prefix_rows
    from self_healing_data_pipeline_spark.operators.shingle_pass import (
        shingle_frames,
    )

    docs = read_table(spark, sf_dir, "documents")
    # Shared shingle prep from ONE materialized pass (round-12:
    # shingle_frames — the separate grain/sets calls re-ran the
    # shingle chain 3x): (doc_id, sh, df, s) in two window exchanges;
    # prefix_rows keeps each doc's s - ceil(0.8*s) + 1 rarest shingles
    # with the exact-integer ceil.
    _, grain, sets = shingle_frames(docs)
    prefix = prefix_rows(grain, 4, 5)
    p2 = prefix.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    cand = (
        prefix.join(p2, (prefix.sh == p2.sh2) & (prefix.doc_id < p2.d2))
        .select(F.col("doc_id").alias("d1"), "d2")
        .distinct()
    )
    verified = (
        cand.join(
            sets.select(F.col("doc_id").alias("d1"), F.col("shs").alias("a")), "d1"
        )
        .join(sets.select(F.col("doc_id").alias("d2"), F.col("shs").alias("b")), "d2")
        .select(
            "d1",
            "d2",
            F.size(F.array_intersect("a", "b")).cast("bigint").alias("n_inter"),
            F.size(F.array_union("a", "b")).cast("bigint").alias("n_union"),
        )
        .where(F.lit(5) * F.col("n_inter") >= F.lit(4) * F.col("n_union"))
    )
    return verified.select(
        "d1",
        "d2",
        "n_inter",
        "n_union",
        (F.col("n_inter").cast("double") / F.col("n_union")).alias("jaccard"),
    ).orderBy("d1", "d2")


@query(
    "q_minhash_accuracy",
    oracle=f"""
    WITH sh AS ({_SHINGLE5_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    pairs AS (
      SELECT a.doc_id AS d1, b.doc_id AS d2
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      WHERE a.doc_id % 5 = 0 AND a.doc_id < 125
    ), inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
      FROM sh x JOIN sh y ON y.sh = x.sh AND y.doc_id = x.doc_id + 1
      GROUP BY 1, 2
    )
    SELECT p.d1, p.d2,
           CAST(COALESCE(i.i, 0) AS BIGINT) AS n_inter,
           CAST(s1.s + s2.s - COALESCE(i.i, 0) AS BIGINT) AS n_union,
           CAST(COALESCE(i.i, 0) AS DOUBLE)
             / (s1.s + s2.s - COALESCE(i.i, 0)) AS exact_jaccard,
           TRUE AS est_within_02
    FROM pairs p
    LEFT JOIN inter i ON p.d1 = i.d1 AND p.d2 = i.d2
    JOIN sz s1 ON p.d1 = s1.doc_id
    JOIN sz s2 ON p.d2 = s2.doc_id
    ORDER BY p.d1, p.d2
    """,
)
def q_minhash_accuracy(spark, sf_dir):
    """MinHash sketch-accuracy GATE (the ``q_distinct_sketch_accuracy``
    discipline applied to the dedup sketch): over 25 fixed doc pairs,
    the exact word-5-gram Jaccard (oracle-verified) alongside an in-row
    witness that the 256-permutation MinHash estimate lands within
    ±0.2 of it (sigma = sqrt(J(1-J)/256) <= 0.031, so the bound is
    >6 sigma — a false failure is a broken kernel, not bad luck). The
    oracle expects the witness TRUE, so sketch fidelity is pinned by
    the correctness gate at every SF the driver runs."""
    docs = read_table(spark, sf_dir, "documents")
    pairs = (
        docs.where((F.col("doc_id") % 5 == 0) & (F.col("doc_id") < 125))
        .select(F.col("doc_id").alias("d1"), (F.col("doc_id") + 1).alias("d2"))
    )
    # Gate docs only: the %5 id filter pushes into the scan BEFORE the
    # signature kernel, so the sketch UDF runs on the fixed 50-doc gate
    # set — not the corpus — at every SF.
    gate = docs.where((F.col("doc_id") % 5 <= 1) & (F.col("doc_id") < 126))
    sets = gate.select("doc_id", shingles("text", 5).alias("shs"))
    sigs = minhash_signatures(gate, "doc_id", "text", num_hashes=256)
    j = (
        pairs.join(
            sets.select(F.col("doc_id").alias("d1"), F.col("shs").alias("a")), "d1"
        )
        .join(sets.select(F.col("doc_id").alias("d2"), F.col("shs").alias("b")), "d2")
        .join(sigs.select(F.col("__id").alias("d1"), F.col("__sig").alias("sa")), "d1")
        .join(sigs.select(F.col("__id").alias("d2"), F.col("__sig").alias("sb")), "d2")
    )
    est = (
        F.size(
            F.filter(
                F.zip_with("sa", "sb", lambda x, y: x == y), lambda v: v
            )
        ).cast("double")
        / F.lit(256.0)
    )
    exact = F.size(F.array_intersect("a", "b")).cast("double") / F.size(
        F.array_union("a", "b")
    )
    return j.select(
        "d1",
        "d2",
        F.size(F.array_intersect("a", "b")).cast("bigint").alias("n_inter"),
        F.size(F.array_union("a", "b")).cast("bigint").alias("n_union"),
        exact.alias("exact_jaccard"),
        (F.abs(est - exact) <= 0.2).alias("est_within_02"),
    ).orderBy("d1", "d2")


@query(
    "q_dedup_cluster_sizes",
    oracle=f"""
    WITH fp AS (
      SELECT MD5({_NORM.format(c='text')}) AS f, COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT CAST(n_copies AS BIGINT) AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(n_copies) AS BIGINT) AS n_docs,
           CAST(SUM(n_copies - 1) AS BIGINT) AS n_redundant
    FROM fp GROUP BY n_copies ORDER BY cluster_size
    """,
)
def q_dedup_cluster_sizes(spark, sf_dir):
    """Dedup CLUSTER-SIZE histogram: how duplicated is the corpus —
    per exact-duplicate cluster size, the number of clusters, docs
    covered, and redundant copies a dedup pass would drop (the
    headline number every corpus report opens with, derived from the
    same normalized fingerprint as ``q_dedup_normalized``).

    Plan: fingerprint grain (shuffle carries md5 keys, never text) →
    bounded size histogram; both aggregates partial map-side."""
    docs = read_table(spark, sf_dir, "documents")
    fp = docs.groupBy(F.md5(normalize_text("text")).alias("f")).agg(
        F.count(F.lit(1)).alias("n_copies")
    )
    return (
        fp.groupBy(F.col("n_copies").cast("bigint").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("n_copies").cast("bigint").alias("n_docs"),
            F.sum(F.col("n_copies") - 1).cast("bigint").alias("n_redundant"),
        )
        .orderBy("cluster_size")
    )


@query(
    "q_entity_resolution",
    oracle="""
    WITH dirty AS (
      -- deterministic dirty twin: ~6% of customers re-enter the
      -- pipeline with a typo'd name (md5-threshold selection, same on
      -- both engines); a quarter of those are scrambled beyond repair
      SELECT c_custkey + 10000000 AS dirty_key,
             c_custkey AS true_key,
             c_nationkey,
             CASE WHEN SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 3, 1) < '4'
                  THEN REVERSE(c_name)
                  ELSE SUBSTR(c_name, 1, 4) || SUBSTR(c_name, 6)
             END AS name
      FROM customer
      WHERE SUBSTR(MD5(CAST(c_custkey AS VARCHAR)), 1, 2) < '10'
    ), cand AS (
      SELECT d.dirty_key, d.true_key, d.c_nationkey AS d_nation,
             a.c_custkey AS a_key, a.c_nationkey AS a_nation,
             CAST(levenshtein(d.name, a.c_name) AS BIGINT) AS dist
      FROM dirty d
      JOIN customer a
        ON SUBSTR(d.name, LENGTH(d.name) - 3, 4)
           = SUBSTR(a.c_name, LENGTH(a.c_name) - 3, 4)
       AND d.c_nationkey = a.c_nationkey
      WHERE levenshtein(d.name, a.c_name) <= 2
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY dirty_key
                 ORDER BY dist, a_key) AS rk
      FROM cand
    )
    SELECT d.dirty_key,
           b.a_key AS matched_key,
           b.dist,
           CAST(b.a_key IS NOT NULL AND b.a_key = d.true_key AS BOOLEAN)
             AS is_correct
    FROM dirty d LEFT JOIN best b
      ON d.dirty_key = b.dirty_key AND b.rk = 1
    ORDER BY d.dirty_key
    """,
)
def q_entity_resolution(spark, sf_dir):
    """ENTITY RESOLUTION (record linkage): a deterministically dirtied
    customer twin — ~6% of customers re-entering with a typo'd name,
    a quarter of those scrambled beyond repair — resolves back to the
    master table via the classic pipeline: BLOCKING (nation × last-4
    name chars, which survive the typo), candidate scoring (Levenshtein
    <= 2), and BEST-MATCH selection (distance, then key, per probe).
    Scrambled probes correctly emit an unmatched verdict row.

    The in-row `is_correct` witness (matched key equals the probe's
    true origin) is oracle-checked — fixtures resolve every typo'd
    probe correctly and never false-match a scrambled one.

    Scale shape: probes are a small md5-selected fraction, so the
    block join is probe-side-bounded; blocks are (nation × name-tail)
    keyed — block population grows only linearly with customers and
    the tail widens (right-6, right-8) as the corpus grows, the
    standard ER blocking-key knob. Scoring runs inside blocks only
    (never all-pairs), best-match is a per-probe rank window. The same
    discipline as q_fuzzy_match, applied to structured identities with
    a probe-vs-master asymmetry."""
    cust = read_table(spark, sf_dir, "customer")
    h = F.md5(F.col("c_custkey").cast("string"))
    dirty = (
        cust.filter(F.substring(h, 1, 2) < "10")
        .select(
            (F.col("c_custkey") + 10000000).alias("dirty_key"),
            F.col("c_custkey").alias("true_key"),
            "c_nationkey",
            F.when(
                F.substring(h, 3, 1) < "4", F.reverse(F.col("c_name"))
            )
            .otherwise(
                F.concat(
                    F.substring(F.col("c_name"), 1, 4),
                    F.col("c_name").substr(F.lit(6), F.length("c_name")),
                )
            )
            .alias("name"),
        )
    )
    tail = lambda c: F.col(c).substr(F.length(c) - 3, F.lit(4))  # noqa: E731
    cand = (
        dirty.alias("d")
        .join(
            cust.alias("a"),
            (tail("d.name") == tail("a.c_name"))
            & (F.col("d.c_nationkey") == F.col("a.c_nationkey")),
        )
        .withColumn(
            "dist",
            F.levenshtein(F.col("d.name"), F.col("a.c_name")).cast("bigint"),
        )
        .filter(F.col("dist") <= 2)
        .select(
            F.col("d.dirty_key").alias("dirty_key"),
            F.col("d.true_key").alias("true_key_c"),
            F.col("a.c_custkey").alias("a_key"),
            "dist",
        )
    )
    best = cand.withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("dirty_key").orderBy("dist", "a_key")
        ),
    ).filter(F.col("rk") == 1)
    return (
        dirty.join(best, "dirty_key", "left")
        .select(
            "dirty_key",
            F.col("a_key").alias("matched_key"),
            "dist",
            (
                F.col("a_key").isNotNull()
                & (F.col("a_key") == F.col("true_key"))
            ).alias("is_correct"),
        )
        .orderBy("dirty_key")
    )


# SURVEY.md §2.11 dedup: DEDUP EXPLAINABILITY — for the strongest
# near-duplicate pair found by the shared-span signal, SHOW THE
# EVIDENCE: how many 64-char spans the two documents share, the overlap
# fraction, and the longest CONSECUTIVE run of shared spans (the
# contiguous copied region's extent) — the report a human reviews before
# approving a dedup pass that deletes data.
#
# Builds on q_dedup_substring's span grain (same SPAN/STRIDE constants,
# same hash-only shuffles).


_SPANS_SQL = f"""spans AS (
      SELECT doc_id, CAST(p AS BIGINT) AS pos,
             MD5(SUBSTRING(text, CAST(p AS INTEGER), {_SPAN})) AS h
      FROM (
        SELECT doc_id, text,
               UNNEST(generate_series(
                 1, CAST(n_chars AS BIGINT) - {_SPAN - 1}, {_STRIDE}
               )) AS p
        FROM documents WHERE n_chars >= {_SPAN}
      )
    )"""


@query(
    "q_dedup_explain",
    oracle=f"""
    WITH {_SPANS_SQL}, shared AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a
      FROM spans a JOIN spans b ON a.h = b.h AND a.doc_id < b.doc_id
    ), pair_counts AS (
      SELECT doc_a, doc_b, CAST(COUNT(*) AS BIGINT) AS shared_spans
      FROM shared GROUP BY 1, 2
    ), top1 AS (
      SELECT doc_a, doc_b, shared_spans FROM pair_counts
      ORDER BY shared_spans DESC, doc_a, doc_b LIMIT 1
    ), doc_spans AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans
      FROM spans GROUP BY 1
    ), runs AS (
      SELECT s.pos_a,
             (s.pos_a - 1) // {_STRIDE}
               - ROW_NUMBER() OVER (ORDER BY s.pos_a) AS grp
      FROM shared s JOIN top1 t
        ON s.doc_a = t.doc_a AND s.doc_b = t.doc_b
    ), max_run AS (
      SELECT CAST(MAX(rl) AS BIGINT) AS run_spans FROM (
        SELECT COUNT(*) AS rl FROM runs GROUP BY grp
      )
    )
    SELECT t.doc_a, t.doc_b, t.shared_spans,
           da.n_spans AS spans_a, db.n_spans AS spans_b,
           CAST(t.shared_spans * 1000000
                // LEAST(da.n_spans, db.n_spans) AS BIGINT) AS overlap_ppm,
           m.run_spans,
           CAST((m.run_spans - 1) * {_STRIDE} + {_SPAN} AS BIGINT)
             AS run_chars
    FROM top1 t
    JOIN doc_spans da ON t.doc_a = da.doc_id
    JOIN doc_spans db ON t.doc_b = db.doc_id, max_run m
    """,
)
def q_dedup_explain(spark, sf_dir):
    """DEDUP EXPLAINABILITY: the evidence report for the strongest
    shared-span near-dup pair — shared 64-char spans, each side's span
    total, exact-ppm overlap of the smaller document, and the longest
    CONSECUTIVE shared-span run with its character extent (a
    gaps-and-islands pass over the aligned span positions: consecutive
    stride-32 positions collapse via the pos//stride − row_number
    trick). This is what a reviewer reads before a dedup pass deletes
    one of the two documents — "how much is copied, and is it one
    contiguous block or scattered boilerplate?".

    Scale shape: span extraction via the shared linear cell/lead-window
    form (``operators.text.strided_spans`` — round-10 long-doc fix;
    the explode-then-substring original was quadratic per doc on
    100 KB+ documents); the span self-join shuffles 32-hex hashes only
    (the q_dedup_substring contract); pair counts partial-aggregate;
    only the single top pair's positions reach the islands pass (a
    ≤spans-per-doc frame). Exact integers throughout."""
    from self_healing_data_pipeline_spark.operators.text import (
        strided_spans,
    )

    d = read_table(spark, sf_dir, "documents")
    spans = strided_spans(
        d.filter(F.col("n_chars") >= _SPAN),
        "doc_id",
        F.col("text"),
        _SPAN,
        _STRIDE,
    ).select("doc_id", "pos", F.md5("span_text").alias("h"))
    a = spans.select(
        F.col("doc_id").alias("doc_a"), F.col("pos").alias("pos_a"), "h"
    )
    b = spans.select(F.col("doc_id").alias("doc_b"), "h")
    shared = (
        a.join(b, "h")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pos_a")
        .distinct()
    )
    pair_counts = shared.groupBy("doc_a", "doc_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("shared_spans")
    )
    top1 = pair_counts.orderBy(
        F.desc("shared_spans"), F.asc("doc_a"), F.asc("doc_b")
    ).limit(1)
    doc_spans = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_spans")
    )
    top_shared = shared.join(
        F.broadcast(top1.select("doc_a", "doc_b")), ["doc_a", "doc_b"]
    )
    grp = (
        ((F.col("pos_a") - 1) - F.pmod(F.col("pos_a") - 1, _STRIDE)) / _STRIDE
    ).cast("bigint") - F.row_number().over(Window.orderBy("pos_a"))
    runs = top_shared.select(grp.alias("grp"))
    max_run = (
        runs.groupBy("grp")
        .agg(F.count(F.lit(1)).alias("rl"))
        .agg(F.max("rl").cast("bigint").alias("run_spans"))
    )
    return (
        top1.join(
            F.broadcast(
                doc_spans.select(
                    F.col("doc_id").alias("doc_a"),
                    F.col("n_spans").alias("spans_a"),
                )
            ),
            "doc_a",
        )
        .join(
            F.broadcast(
                doc_spans.select(
                    F.col("doc_id").alias("doc_b"),
                    F.col("n_spans").alias("spans_b"),
                )
            ),
            "doc_b",
        )
        .crossJoin(F.broadcast(max_run))
        .select(
            "doc_a",
            "doc_b",
            "shared_spans",
            "spans_a",
            "spans_b",
            (
                (
                    F.col("shared_spans") * 1000000
                    - F.pmod(
                        F.col("shared_spans") * 1000000,
                        F.least(F.col("spans_a"), F.col("spans_b")),
                    )
                )
                / F.least(F.col("spans_a"), F.col("spans_b"))
            )
            .cast("bigint")
            .alias("overlap_ppm"),
            "run_spans",
            ((F.col("run_spans") - 1) * _STRIDE + _SPAN)
            .cast("bigint")
            .alias("run_chars"),
        )
    )


# SURVEY.md §2.11 dedup / storage ops: CONTAINMENT DEDUP (directional
# |A∩B|/|A| over word-shingle sets — catches a doc QUOTED OR EMBEDDED
# inside a larger one, which symmetric Jaccard misses because the union
# is dominated by the container) and SHARED-SUBSTRING DICTIONARY
# CANDIDATES (the top repeated 16-char grams across the corpus — what a
# zstd-style dictionary trainer samples; pairs with q_encoding_advisor /
# q_compaction_bins as the storage-layout suite).
#
# Exactness: shingle intersections and gram counts are exact integers;
# the containment ratio and savings estimate are final divisions /
# products of exact counts.


@query(
    "q_dedup_containment",
    oracle=f"""
    WITH sh AS ({_SHINGLE5_SQL}),
    sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS contained_id, y.doc_id AS container_id,
             COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id <> y.doc_id
      GROUP BY 1, 2
    )
    SELECT contained_id, container_id,
           CAST(i AS BIGINT) AS n_shared,
           CAST(sa.s AS BIGINT) AS n_contained,
           CAST(sb.s AS BIGINT) AS n_container,
           CAST(i AS DOUBLE) / sa.s AS containment
    FROM inter
    JOIN sz sa ON contained_id = sa.doc_id
    JOIN sz sb ON container_id = sb.doc_id
    WHERE 5 * i >= 4 * sa.s
    ORDER BY contained_id, container_id
    """,
)
def q_dedup_containment(spark, sf_dir):
    """DIRECTIONAL CONTAINMENT >= 0.8 pairs over word-5-gram shingle
    sets: |A∩B| / |A| — the sub-document detector. A short doc pasted
    into a long one scores containment ≈ 1 while its Jaccard can be
    arbitrarily low (union grows with the container), so this is the
    dedup pass that catches quotes, boilerplate embeddings, and
    train-on-test paste-ins that q_dedup_jaccard_prefix's symmetric
    threshold structurally cannot.

    Candidates never go all-pairs: the ASYMMETRIC prefix filter
    (PPJoin containment variant) keeps only each doc's s −
    ceil(0.8·s) + 1 rarest shingles (exact-integer ceil, rare-first
    (df, sh) order) on the CONTAINED side — if containment ≥ 0.8, at
    least one prefix shingle must appear in the container — and joins
    them against the full posting list, whose fan-out is bounded by
    the document frequency of a doc's RAREST shingles (small by
    construction of the order). Verification fetches the two shingle
    arrays and checks 5·|A∩B| ≥ 4·|A| in exact integers. The oracle
    is the complete shared-shingle formulation over ALL ordered
    pairs — equality proves the prefix filter lost nothing."""
    from self_healing_data_pipeline_spark.operators.dedup import prefix_rows
    from self_healing_data_pipeline_spark.operators.shingle_pass import (
        shingle_frames,
    )

    docs = read_table(spark, sf_dir, "documents")
    # Shared shingle prep from ONE materialized pass (round-12 plan
    # audit: the independent grain/exploded/sets calls re-ran the
    # normalize+shingle chain 4x — see shingle_frames): the contained
    # side keeps its 0.8-threshold prefix; the container side is the
    # FULL posting list (asymmetric PPJoin containment variant).
    sh, grain, sets = shingle_frames(docs)
    prefix = prefix_rows(grain, 4, 5)
    post = sh.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    cand = (
        prefix.join(post, (prefix.sh == post.sh2) & (prefix.doc_id != post.d2))
        .select(F.col("doc_id").alias("contained_id"), F.col("d2").alias("container_id"))
        .distinct()
    )
    return (
        cand.join(
            sets.select(
                F.col("doc_id").alias("contained_id"), F.col("shs").alias("a")
            ),
            "contained_id",
        )
        .join(
            sets.select(
                F.col("doc_id").alias("container_id"), F.col("shs").alias("b")
            ),
            "container_id",
        )
        .select(
            "contained_id",
            "container_id",
            F.size(F.array_intersect("a", "b")).cast("bigint").alias("n_shared"),
            F.size("a").cast("bigint").alias("n_contained"),
            F.size("b").cast("bigint").alias("n_container"),
        )
        .where(F.lit(5) * F.col("n_shared") >= F.lit(4) * F.col("n_contained"))
        .select(
            "contained_id",
            "container_id",
            "n_shared",
            "n_contained",
            "n_container",
            (
                F.col("n_shared").cast("double") / F.col("n_contained")
            ).alias("containment"),
        )
        .orderBy("contained_id", "container_id")
    )


@query(
    "q_doc_novelty",
    oracle="""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             ARRAY_TO_STRING(a[CAST(i AS INT):CAST(i AS INT) + 4], ' ') AS s
      FROM (
        SELECT doc_id, a,
               UNNEST(GENERATE_SERIES(1, GREATEST(LEN(a) - 4, 1))) AS i
        FROM (
          SELECT doc_id,
                 STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text),
                              '[^a-z0-9]+', ' ', 'g')), ' ') AS a
          FROM documents
        )
      )
    ), first_seen AS (
      SELECT s, MIN(doc_id) AS fd FROM sh GROUP BY s
    ), per_doc AS (
      SELECT sh.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_shingles,
             CAST(SUM(CASE WHEN f.fd = sh.doc_id THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_novel
      FROM sh JOIN first_seen f ON sh.s = f.s
      GROUP BY 1
    )
    SELECT d.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(p.n_shingles) AS BIGINT) AS total_shingles,
           CAST(SUM(p.n_novel) AS BIGINT) AS novel_shingles,
           CAST(SUM(p.n_novel) AS DOUBLE)
             / CAST(SUM(p.n_shingles) AS DOUBLE) AS novelty
    FROM per_doc p JOIN documents d ON p.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
)
def q_doc_novelty(spark, sf_dir):
    """DOCUMENT NOVELTY per source: the share of each doc's word-
    5-gram shingles whose FIRST corpus appearance is that doc (under
    doc_id ingestion order), rolled up by source — the "is this feed
    adding new content or recycling boilerplate" score a corpus-build
    pipeline uses to weight sources, complementing q_vocab_growth
    (corpus-level curve) and q_dedup_containment (pairwise evidence).

    Scale shape: shingle first-seen is one MIN aggregate at the
    shingle grain (the q_vocab_growth trick on shingles); per-doc
    novel counts come from one join-back on the shingle key (shuffles
    carry shingle strings once), and the source rollup is a bounded
    aggregate. No pairwise comparisons anywhere."""
    from self_healing_data_pipeline_spark.operators.dedup import (
        shingle_exploded,
    )

    docs = read_table(spark, sf_dir, "documents")
    # The exploded frame feeds BOTH the first-seen MIN and the
    # join-back; materialize it once (round-12: without this the
    # normalize+shingle chain ran twice — one full extra corpus pass
    # at scale).
    sh = shingle_exploded(docs, out_col="s").localCheckpoint(eager=True)
    first_seen = sh.groupBy("s").agg(F.min("doc_id").alias("fd"))
    per_doc = (
        sh.join(first_seen, "s")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            F.sum(
                F.when(F.col("fd") == F.col("doc_id"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_novel"),
        )
    )
    return (
        per_doc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_shingles").cast("bigint").alias("total_shingles"),
            F.sum("n_novel").cast("bigint").alias("novel_shingles"),
        )
        .select(
            "source",
            "n_docs",
            "total_shingles",
            "novel_shingles",
            (
                F.col("novel_shingles").cast("double")
                / F.col("total_shingles").cast("double")
            ).alias("novelty"),
        )
        .orderBy("source")
    )


@query(
    "q_dedup_threshold_sweep",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT doc_id,
             ARRAY_TO_STRING(a[CAST(i AS INT):CAST(i AS INT) + 4], ' ') AS sh
      FROM (
        SELECT doc_id, a,
               UNNEST(GENERATE_SERIES(1, GREATEST(LEN(a) - 4, 1))) AS i
        FROM (
          SELECT doc_id,
                 STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text),
                              '[^a-z0-9]+', ' ', 'g')), ' ') AS a
          FROM documents
        )
      )
    ), sz AS (SELECT doc_id, COUNT(*) AS s FROM sh GROUP BY doc_id),
    inter AS (
      SELECT x.doc_id AS d1, y.doc_id AS d2, COUNT(*) AS i
      FROM sh x JOIN sh y ON x.sh = y.sh AND x.doc_id < y.doc_id
      GROUP BY 1, 2
    ), j AS (
      SELECT inter.i, s1.s + s2.s - inter.i AS u
      FROM inter
      JOIN sz s1 ON d1 = s1.doc_id
      JOIN sz s2 ON d2 = s2.doc_id
    )
    SELECT
           CAST(SUM(CASE WHEN 10 * i >= 7 * u THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_ge_70pct,
           CAST(SUM(CASE WHEN 10 * i >= 8 * u THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_ge_80pct,
           CAST(SUM(CASE WHEN 10 * i >= 9 * u THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_ge_90pct,
           CAST(SUM(CASE WHEN i = u THEN 1 ELSE 0 END) AS BIGINT)
             AS pairs_exact
    FROM j
    """,
)
def q_dedup_threshold_sweep(spark, sf_dir):
    """DEDUP THRESHOLD SWEEP: exact near-dup pair counts at Jaccard ≥
    0.7 / 0.8 / 0.9 / 1.0 from ONE shared candidate pass — the
    sensitivity table that says what each policy knob would delete
    before anyone runs the delete. Candidates come from the 0.7
    prefix filter (the loosest threshold swept — a superset of every
    tighter threshold's pairs, so one pass serves all four columns).

    Scale shape: identical to q_dedup_jaccard_prefix (rare-first
    prefix postings join, exact array verify) with the prefix sized
    for 0.7 — s − ceil(0.7·s) + 1 rarest shingles — then ONE
    conditional-aggregate collapse to a single row of four exact
    counters. No per-threshold rescans."""
    from self_healing_data_pipeline_spark.operators.dedup import prefix_rows
    from self_healing_data_pipeline_spark.operators.shingle_pass import (
        shingle_frames,
    )

    docs = read_table(spark, sf_dir, "documents")
    # Shared shingle prep from ONE materialized pass (round-12:
    # shingle_frames); prefix sized for J >= 0.7 (the loosest swept
    # threshold), exact integer ceil inside.
    _, grain, sets = shingle_frames(docs)
    prefix = prefix_rows(grain, 7, 10)
    p2 = prefix.select(F.col("doc_id").alias("d2"), F.col("sh").alias("sh2"))
    cand = (
        prefix.join(p2, (prefix.sh == p2.sh2) & (prefix.doc_id < p2.d2))
        .select(F.col("doc_id").alias("d1"), "d2")
        .distinct()
    )
    j = (
        cand.join(
            sets.select(F.col("doc_id").alias("d1"), F.col("shs").alias("a")),
            "d1",
        )
        .join(
            sets.select(F.col("doc_id").alias("d2"), F.col("shs").alias("b")),
            "d2",
        )
        .select(
            F.size(F.array_intersect("a", "b")).cast("bigint").alias("i"),
            F.size(F.array_union("a", "b")).cast("bigint").alias("u"),
        )
    )
    return j.agg(
        F.sum(F.when(10 * F.col("i") >= 7 * F.col("u"), 1).otherwise(0))
        .cast("bigint")
        .alias("pairs_ge_70pct"),
        F.sum(F.when(10 * F.col("i") >= 8 * F.col("u"), 1).otherwise(0))
        .cast("bigint")
        .alias("pairs_ge_80pct"),
        F.sum(F.when(10 * F.col("i") >= 9 * F.col("u"), 1).otherwise(0))
        .cast("bigint")
        .alias("pairs_ge_90pct"),
        F.sum(F.when(F.col("i") == F.col("u"), 1).otherwise(0))
        .cast("bigint")
        .alias("pairs_exact"),
    )


@query(
    "q_embedding_dedup_bitexact",
    oracle="""
    WITH planted AS (
      SELECT vec_id, embedding FROM embeddings
      UNION ALL
      SELECT vec_id + 1000000, embedding FROM embeddings
      WHERE vec_id % 100 = 0
    ), keyed AS (
      SELECT vec_id,
             MD5(ARRAY_TO_STRING(
               LIST_TRANSFORM(embedding,
                 x -> CAST(CAST(ROUND(CAST(x AS DOUBLE) * 100000) AS BIGINT)
                      AS VARCHAR)),
               ',')) AS digest
      FROM planted
    )
    SELECT k.vec_id AS dup_id, c.canonical_id
    FROM keyed k
    JOIN (SELECT digest, CAST(MIN(vec_id) AS BIGINT) AS canonical_id
          FROM keyed GROUP BY digest) c
      ON c.digest = k.digest
    WHERE k.vec_id <> c.canonical_id
    ORDER BY dup_id
    """,
)
def q_embedding_dedup_bitexact(spark, sf_dir):
    """BIT-EXACT embedding dedup — the audit a training pipeline runs
    before ANN indexing: re-ingested shards carry byte-identical
    vectors under fresh ids, and exact duplicates poison both training
    mixes and recall evals. The fixture's random vectors have no
    natural dups, so the query PLANTS them deterministically (every
    100th vector re-appears under id+1e6) and must find exactly those.

    The join key is a digest of the QUANTIZED vector — each float
    becomes ROUND(x·1e5) as a long before md5 — so the shuffle carries
    16-byte digests instead of full vectors (the 100 TB shape: dedup
    n vectors with an n-row digest aggregate, never an array-keyed
    join), and the key derivation is integer-identical cross-engine.

    Scale shape: one narrow digest projection, one group-by on the
    digest (min id), one digest-keyed join back."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    planted = emb.unionByName(
        emb.filter(F.col("vec_id") % 100 == 0).select(
            (F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding"
        )
    )
    digest = F.md5(
        F.array_join(
            F.transform(
                F.col("embedding"),
                # float→double FIRST (exact), then double math: float32
                # arithmetic would round differently than the oracle's
                lambda x: F.round(x.cast("double") * 100000)
                .cast("bigint")
                .cast("string"),
            ),
            ",",
        )
    )
    keyed = planted.select("vec_id", digest.alias("digest"))
    canon = keyed.groupBy("digest").agg(
        F.min("vec_id").alias("canonical_id")
    )
    return (
        keyed.join(canon, "digest")
        .filter(F.col("vec_id") != F.col("canonical_id"))
        .select(F.col("vec_id").alias("dup_id"), "canonical_id")
        .orderBy("dup_id")
    )


_SEMDEDUP_TAU = 0.4
# Cluster count scales with corpus size (the paper's regime): K =
# max(16, n // TARGET) keeps the average cluster ~TARGET vectors, so
# within-cluster pair work grows LINEARLY with n instead of
# quadratically at fixed K. Mirrored exactly in the oracle.
_SEMDEDUP_MIN_K = 16
_SEMDEDUP_TARGET_CLUSTER = 125


# Sequential-fold dot-product SQL (float32 products, strict left-fold
# double accumulation): the single source of the fold discipline lives
# in similarity.py beside its documentation — a third copy here would have
# to be kept in sync by hand (review finding).
@query(
    "q_semdedup",
    oracle=f"""
    WITH ed AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings
    ), kk AS (
      SELECT GREATEST({_SEMDEDUP_MIN_K},
                      COUNT(*) // {_SEMDEDUP_TARGET_CLUSTER}) AS kv
      FROM embeddings
    ), cent AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS centroid_id,
             list_transform(x, v -> v / (CASE WHEN nrm = 0 THEN 1.0
                                              ELSE nrm END)) AS c
      FROM (SELECT vec_id, x,
                   SQRT(list_reduce(list_transform(x, u -> u * u),
                                    (a, b) -> a + b)) AS nrm
            FROM (SELECT vec_id, x,
                         ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
                  FROM ed), kk
            WHERE rn <= kk.kv)
    ), assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT ed.vec_id, cent.centroid_id,
               ROW_NUMBER() OVER (PARTITION BY ed.vec_id
                 ORDER BY {_dot64('ed.x', 'cent.c')} DESC,
                          cent.centroid_id) AS rn
        FROM ed, cent) WHERE rn = 1
    ), nrm AS (
      -- zero-norm vectors have no cosine: excluded from the pair
      -- space on BOTH engines (Spark: NULL from 0/0; DuckDB: NaN,
      -- which compares GREATER than any number — divergent without
      -- this symmetric predicate)
      SELECT vec_id, nrm FROM (
        SELECT vec_id,
               SQRT({_dot32('e.embedding', 'e.embedding')}) AS nrm
        FROM embeddings e
      ) WHERE nrm > 0
    ), pairs AS (
      SELECT ar.vec_id AS id_r, al.vec_id AS id_l,
             ar.centroid_id AS cid,
             {_dot32('el.embedding', 'er.embedding')}
               / (nl.nrm * nr.nrm) AS cos
      FROM assign al
      JOIN assign ar ON al.centroid_id = ar.centroid_id
                    AND al.vec_id < ar.vec_id
      JOIN embeddings el ON el.vec_id = al.vec_id
      JOIN embeddings er ON er.vec_id = ar.vec_id
      JOIN nrm nl ON nl.vec_id = al.vec_id
      JOIN nrm nr ON nr.vec_id = ar.vec_id
    )
    SELECT id_r AS vec_id, CAST(cid AS INT) AS cluster_id,
           MIN(id_l) AS dup_of, ARG_MIN(cos, id_l) AS cos_sim
    FROM pairs WHERE cos >= {_SEMDEDUP_TAU}
    GROUP BY id_r, cid ORDER BY vec_id
    """,
)
def q_semdedup(spark, sf_dir):
    """SemDeDup — semantic dedup by cluster-bounded cosine (Abbas et
    al. 2023, arXiv:2303.09540): assign every embedding to its nearest
    of K seed centroids (the same fixed-seed quantizer q_kmeans_assign
    hash-verifies), then WITHIN each cluster drop any vector with a
    lower-id neighbor at cosine ≥ τ=0.4; output one row
    per dropped vector with its keep-first representative (lowest
    qualifying id) and that pair's cosine.

    Determinism: pair cosines are sequential-fold float32-product /
    double-accumulate chains (functions.vector.dot_product ≡ the
    oracle's list_reduce — bit-identical), norms likewise, so the
    gated cos_sim doubles match exactly. The one non-mirrored chain is
    the centroid ASSIGNMENT (Arrow matmul vs the oracle's fold — the
    accepted q_kmeans_assign residual: argmax flips only on dots tied
    within ~1e-14, never on this fixture).

    Scale shape (operators.similarity.semdedup_drops): the engine runs
    at VALUE grain — bit-identical vectors collapse before the pair
    join, which is what survives the template-page adversary (one hot
    vector at 20% of corpus mass — the --embskew tier; at vector grain
    that cluster alone is O(n²) pairs). The collapse is EXACT (the
    minimum qualifying id for any copy is always a value's rep — see
    the operator docstring), so the DuckDB oracle deliberately stays
    at VECTOR grain: an independent formulation of the same
    semantics, not a rewrite twin. K is NOT fixed — K = max(16,
    n // 125) keeps the average cluster at ~125 vectors (the paper's
    regime), so pair volume grows LINEARLY with the corpus (a fixed K
    would make it quadratic — probed and rejected pre-commit); the
    oracle mirrors the same K rule via a COUNT(*) scalar."""
    from self_healing_data_pipeline_spark.operators.similarity import (
        semdedup_drops,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    return semdedup_drops(
        emb,
        tau=_SEMDEDUP_TAU,
        min_k=_SEMDEDUP_MIN_K,
        target_cluster=_SEMDEDUP_TARGET_CLUSTER,
    )
