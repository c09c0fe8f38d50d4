"""Text-analysis queries (SURVEY.md §2.10, §2.11).

Tokenization, n-grams, BPE, language id, quality and readability,
collocations, search and retrieval scoring, and PII detection.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Window
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.bpe import bpe_wtok_ctes
from self_healing_data_pipeline_spark.operators.dedup import normalize_text
from self_healing_data_pipeline_spark.operators.dedup import (
    NORMALIZE_TEXT_SQL as _NORM_SQL,
)
from self_healing_data_pipeline_spark.operators.dedup import NORMALIZE_TEXT_SQL as _NORM
from self_healing_data_pipeline_spark.operators.text import (
    lang_id,
    quality_score,
    tokens,
    top_terms,
)
from self_healing_data_pipeline_spark.registry import query
from self_healing_data_pipeline_spark.sources.readers import read_table


@query(
    "q_text_tokens",
    oracle=f"""
    SELECT token, COUNT(*) AS n FROM (
      SELECT UNNEST(STRING_SPLIT({_NORM_SQL.format(c='text')}, ' ')) AS token
      FROM documents
    ) WHERE LENGTH(token) > 0
    GROUP BY token ORDER BY n DESC, token ASC LIMIT 20
    """,
)
def q_text_tokens(spark, sf_dir):
    """Corpus top terms: tokenize → explode → count → top-k."""
    return top_terms(read_table(spark, sf_dir, "documents"), "text", 20)


@query(
    "q_text_rollup",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang, source ORDER BY lang, source
    """,
)
def q_text_rollup(spark, sf_dir):
    """Per-language/source corpus rollup."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("lang", "source")
    )


@query(
    "q_text_token_count",
    oracle=f"""
    SELECT doc_id,
           CAST(LEN(LIST_FILTER(STRING_SPLIT({_NORM_SQL.format(c='text')}, ' '),
                                t -> LENGTH(t) > 0)) AS BIGINT) AS n_tokens,
           CAST(LENGTH(text) AS BIGINT) AS n_chars_actual
    FROM documents
    """,
)
def q_text_token_count(spark, sf_dir):
    """Per-doc token counting (whitespace mode)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    return docs.select(
        "doc_id",
        F.size(F.filter(toks, lambda t: F.length(t) > 0)).cast("bigint").alias("n_tokens"),
        F.length("text").cast("bigint").alias("n_chars_actual"),
    )


@query(
    "q_text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           CAST('0x' || SUBSTR(MD5({_NORM_SQL.format(c='text')}), 1, 15)
                AS BIGINT) AS fingerprint
    FROM documents
    """,
)
def q_text_fingerprint(spark, sf_dir):
    """64-bit content fingerprints of normalized text — PROMOTED to
    oracle-backed (round-10): the fingerprint is now the first 15 hex
    digits (60 bits, always in signed-BIGINT range) of md5(normalized
    text), an algorithm both engines share bit-for-bit, instead of
    Spark-private xxhash64 (still available as
    ``operators.text.fingerprint64`` for engine-internal fast paths).
    Same narrow no-shuffle map either way; md5-vs-xxhash cost is
    irrelevant next to the scan. Spark converts hex via ``conv(...,16,
    10)``; DuckDB casts the '0x'-prefixed literal."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.conv(F.substring(F.md5(normalize_text("text")), 1, 15), 16, 10)
        .cast("bigint")
        .alias("fingerprint"),
    )


def _marker_counts_sql() -> str:
    from self_healing_data_pipeline_spark.operators.text import LANG_MARKERS

    cols = ",\n           ".join(
        "LEN(REGEXP_EXTRACT_ALL(norm, '\\b(" + "|".join(ws) + ")\\b'))"
        f" AS s_{lang}"
        for lang, ws in LANG_MARKERS.items()
    )
    return cols


def _langid_case_sql() -> str:
    from self_healing_data_pipeline_spark.operators.text import LANG_MARKERS

    langs = list(LANG_MARKERS)
    best = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    whens = "\n           ".join(
        f"WHEN s_{l} = {best} AND s_{l} > 0 THEN '{l}'" for l in langs
    )
    return f"CASE {whens} ELSE 'und' END"


@query(
    "q_text_langid",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, {_NORM_SQL.format(c='text')} AS norm FROM documents
    ), scored AS (
      SELECT doc_id, lang,
           {{marker_cols}}
      FROM base
    )
    SELECT doc_id, lang, {{case_expr}} AS lang_pred FROM scored
    """.format(marker_cols=_marker_counts_sql(), case_expr=_langid_case_sql()),
)
def q_text_langid(spark, sf_dir):
    """Heuristic language ID (stopword-family argmax) vs the labeled
    lang. Oracle-backed as of round 5: the marker hit counts are exact
    integers (one RE2/Java regex count per family — \\b-anchored whole-
    word alternations agree across leftmost-first vs leftmost-longest
    engines) and the argmax tie-break is the same CASE precedence, so
    the prediction is deterministic cross-engine. The oracle's regex
    and precedence are BUILT FROM the same ``LANG_MARKERS`` dict the
    Spark operator uses."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_id("text").alias("lang_pred"))


@query(
    "q_text_quality",
    oracle="""
    WITH base AS (
      SELECT doc_id, text, n_chars,
             TRIM(REGEXP_REPLACE(LOWER(text), '[^a-z0-9]+', ' ', 'g')) AS norm
      FROM documents
    ), c AS (
      SELECT doc_id,
        CAST(n_chars AS DOUBLE) AS n,
        CAST(LENGTH(norm) - LENGTH(REPLACE(norm, ' ', '')) + 1 AS DOUBLE)
          AS n_toks,
        CAST(LENGTH(REGEXP_REPLACE(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
          AS alpha,
        CAST(LENGTH(text) AS DOUBLE) AS lc,
        CAST(LEN(REGEXP_EXTRACT_ALL(norm, '{stop_pat}')) AS DOUBLE)
          AS stop_hits
      FROM base
    )
    SELECT doc_id,
      (CASE WHEN n >= 100 AND n <= 20000 THEN 0.25 ELSE 0.0 END
       + CASE WHEN (n / n_toks) >= 3.0 AND (n / n_toks) <= 12.0
              THEN 0.25 ELSE 0.0 END
       + (CASE WHEN lc > 0 THEN alpha / lc ELSE 0.0 END) * 0.25
       + LEAST((CASE WHEN n_toks > 0 THEN stop_hits / n_toks ELSE 0.0 END)
               * 2.5, 1.0) * 0.25
      ) AS quality
    FROM c
    """.format(
        stop_pat=r"\b("
        + "|".join(
            __import__(
                "self_healing_data_pipeline_spark.operators.text",
                fromlist=["_STOPWORDS"],
            )._STOPWORDS
        )
        + r")\b"
    ),
)
def q_text_quality(spark, sf_dir):
    """Deterministic quality scores (length/alpha/stopword/word-len
    bands). Oracle-backed as of round 5: every component is a regex
    count or length ratio of exact integers, and the oracle mirrors the
    Spark operator's IEEE operand order term by term (band constants
    first, then alpha ratio, then the capped stopword ratio) — raw
    doubles are bit-identical cross-engine, so the former round(4) is
    dropped rather than risking engine-specific tie rounding."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", quality_score("text", "n_chars").alias("quality")
    )


@query(
    "q_text_ngrams",
    oracle="""
    WITH toks AS (
      SELECT string_split(lower(text), ' ') AS ts FROM documents
    ), grams AS (
      SELECT UNNEST(list_transform(range(1, len(ts)),
                                   i -> ts[i] || ' ' || ts[i + 1])) AS bigram
      FROM toks WHERE len(ts) >= 2
    )
    SELECT bigram, COUNT(*) AS n
    FROM grams GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def q_text_ngrams(spark, sf_dir):
    """Top-20 word bigrams over the corpus, built with engine-side
    higher-order array functions (transform over an index sequence —
    no UDF, no Python in the hot path; the oracle mirrors it with
    DuckDB's list_transform). Tie-broken on the bigram string so top-k
    is total-ordered."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(F.split(F.lower("text"), " ").alias("ts")).filter(
        F.size("ts") >= 2
    )
    grams = toks.select(
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2),"
                " i -> concat(ts[i], ' ', ts[i + 1]))"
            )
        ).alias("bigram")
    )
    return (
        grams.groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "bigram")
        .limit(20)
    )


@query(
    "q_pii_scan",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(text,
                '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z][a-zA-Z]+'))
             AS BIGINT) AS n_emails,
           CAST(LEN(regexp_extract_all(text,
                '[0-9][0-9][0-9][-.][0-9][0-9][0-9][-.][0-9][0-9][0-9][0-9]'))
             AS BIGINT) AS n_phones,
           CAST(LEN(regexp_extract_all(text, '[0-9]+')) AS BIGINT)
             AS n_digit_runs
    FROM documents
    """,
)
def q_pii_scan(spark, sf_dir):
    """PII pattern scan: per-document counts of email-shaped, phone-shaped,
    and digit-run matches — the redaction-candidate profile run before a
    corpus ships. JVM-side regexp_count (codegen), no UDF; patterns kept to
    the regex subset with identical semantics in Java and RE2."""
    d = read_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_count(
            F.col("text"),
            F.lit(r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+"),
        )
        .cast("bigint")
        .alias("n_emails"),
        F.regexp_count(
            F.col("text"),
            F.lit(r"[0-9][0-9][0-9][-.][0-9][0-9][0-9][-.][0-9][0-9][0-9][0-9]"),
        )
        .cast("bigint")
        .alias("n_phones"),
        F.regexp_count(F.col("text"), F.lit("[0-9]+"))
        .cast("bigint")
        .alias("n_digit_runs"),
    )


@query(
    "q_text_repetition",
    oracle=f"""
    WITH norm AS (
      SELECT doc_id,
             SUBSTRING({_NORM_SQL.format(c='text')}, 1, 300) AS nt
      FROM documents
    ), grams AS (
      SELECT doc_id, SUBSTRING(nt, CAST(k AS INT), 3) AS g
      FROM (SELECT doc_id, nt,
                   UNNEST(generate_series(1, GREATEST(LENGTH(nt) - 2, 1)))
                     AS k
            FROM norm WHERE LENGTH(nt) >= 3)
    ), counts AS (
      SELECT doc_id, g, COUNT(*) AS c FROM grams GROUP BY doc_id, g
    )
    SELECT doc_id,
           CAST(MAX(c) AS BIGINT) AS top_gram_count,
           CAST(SUM(c) AS BIGINT) AS n_grams,
           CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS DOUBLE) AS rep_ratio
    FROM counts GROUP BY doc_id
    """,
)
def q_text_repetition(spark, sf_dir):
    """Repetition quality score (Gopher-style): the most frequent char
    trigram's share of all trigrams in the document head (first 300
    normalized chars — bounding the explode keeps per-row cost O(1) at
    100 TB). High rep_ratio flags boilerplate/spam for corpus filtering.
    Two hash aggregates, both with map-side partials."""
    d = read_table(spark, sf_dir, "documents")
    nt = F.substring(normalize_text("text"), 1, 300)
    grams = (
        d.select("doc_id", nt.alias("nt"))
        .filter(F.length("nt") >= 3)
        .select(
            "doc_id",
            F.explode(
                # lint-scale: ok (nt is hard-capped at 300 chars above,
                # so the dynamic substring position is bounded — O(1)
                # per doc; long-doc probe flat, SCALE.md)
                F.expr(
                    "transform(sequence(1, greatest(length(nt) - 2, 1)),"
                    " k -> substring(nt, k, 3))"
                )
            ).alias("g"),
        )
    )
    counts = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    return counts.groupBy("doc_id").agg(
        F.max("c").cast("bigint").alias("top_gram_count"),
        F.sum("c").cast("bigint").alias("n_grams"),
        (F.max("c").cast("double") / F.sum("c").cast("double")).alias(
            "rep_ratio"
        ),
    )


@query(
    "q_text_docfreq",
    oracle="""
    WITH toks AS (
      SELECT DISTINCT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents)
    SELECT tok,
           COUNT(*) AS doc_freq,
           CAST((SELECT n_docs FROM n) AS DOUBLE) / COUNT(*) AS inv_doc_freq
    FROM toks
    WHERE tok <> ''
    GROUP BY tok
    HAVING COUNT(*) >= 5
    """,
)
def q_text_docfreq(spark, sf_dir):
    """Document-frequency table (the IDF side of TF-IDF and the basis for
    stopword discovery): distinct (doc, token) pairs → per-token document
    counts, keeping tokens in ≥5 docs. inv_doc_freq is the raw N/df ratio
    — a single correctly-rounded IEEE division, unlike log-based IDF whose
    transcendental differs across libm builds. Explode + two hash
    aggregates, all map-side partial; the shuffle key is the token. The
    corpus-size scalar stays INSIDE the plan as a broadcast-crossJoined
    1-row aggregate (same pattern as extras.q_subquery_scalar) — no
    separate driver-side count job, one plan, one scan schedule."""
    d = read_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).cast("double").alias("_n_docs"))
    toks = (
        d.select(
            "doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok")
        )
        .filter(F.col("tok") != "")
        .distinct()
    )
    return (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("doc_freq"))
        .filter(F.col("doc_freq") >= 5)
        .crossJoin(F.broadcast(n_docs))
        .select(
            "tok",
            "doc_freq",
            (F.col("_n_docs") / F.col("doc_freq").cast("double")).alias(
                "inv_doc_freq"
            ),
        )
    )


@query(
    "q_text_tfidf_top",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(string_split(lower(text), ' ')) AS tok
      FROM documents
    ), tf AS (
      SELECT doc_id, tok, COUNT(*) AS term_freq
      FROM toks WHERE tok <> '' GROUP BY doc_id, tok
    ), n AS (SELECT COUNT(*) AS n_docs FROM documents),
    with_df AS (
      SELECT doc_id, tok, term_freq,
             COUNT(*) OVER (PARTITION BY tok) AS doc_freq
      FROM tf
    ),
    scored AS (
      SELECT doc_id, tok, term_freq, doc_freq,
             CAST(term_freq * (SELECT n_docs FROM n) AS DOUBLE)
               / CAST(doc_freq AS DOUBLE) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY doc_id
               ORDER BY CAST(term_freq * (SELECT n_docs FROM n) AS DOUBLE)
                          / CAST(doc_freq AS DOUBLE) DESC, tok
             ) AS rn
      FROM with_df
    )
    SELECT doc_id, tok, term_freq, doc_freq, score
    FROM scored WHERE rn <= 3
    ORDER BY doc_id, score DESC, tok
    """,
)
def q_text_tfidf_top(spark, sf_dir):
    """Per-document top-3 TF-IDF terms (keyword extraction / topic
    labeling for corpus curation). IDF is linearized (tf × N / df — one
    IEEE division, the q_text_docfreq convention) so ranks are bit-stable
    across engines. Document frequency is a COUNT window over the tf
    aggregate rather than a re-aggregate + self-join: the self-join
    variant plans the tokenize subtree TWICE (column pruning makes the
    two subtrees non-identical, so exchange reuse never fires —
    plan-verified), i.e. the full corpus would be read and exploded
    twice at 100 TB. The window costs one extra shuffle on the token and
    per-token buffering (spills for stopword-grade tokens) but
    tokenizes exactly once; the corpus size stays in-plan as a broadcast
    1-row aggregate; the per-doc rank windows on doc_id. Shuffle keys
    are (doc_id, token) then token — the text column itself never
    shuffles."""
    d = read_table(spark, sf_dir, "documents")
    n_docs = d.agg(F.count(F.lit(1)).alias("_n_docs"))
    tf = (
        d.select("doc_id", F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("term_freq"))
    )
    scored = (
        tf.withColumn(
            "doc_freq", F.count(F.lit(1)).over(Window.partitionBy("tok"))
        )
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            "term_freq",
            "doc_freq",
            (
                (F.col("term_freq") * F.col("_n_docs")).cast("double")
                / F.col("doc_freq").cast("double")
            ).alias("score"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), F.asc("tok"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .drop("rn")
        .orderBy(F.asc("doc_id"), F.desc("score"), F.asc("tok"))
    )


# Corpus-construction operators, round 3 (SURVEY.md §2.11): shard
# packing, quality-filter routing, stopword profiling, vocabulary rank
# tables, and sub-word token estimation — the remaining everyday ops of a
# training-corpus build, each oracle-checked.
#
# Scale notes (100 TB):
# - shard packing runs its running sum PER LANGUAGE PARTITION (one shuffle
#   on lang, linear scan per partition) — a single global running sum would
#   serialize the corpus through one task, so the partitioned form is the
#   only shape that survives scale;
# - the quality funnel is a pure narrow map + 4-group aggregate (one scan,
#   no shuffle before the final tiny agg);
# - stopword/token queries explode to tokens but aggregate back to doc or
#   vocab grain before anything shuffles — shuffle volume is O(docs) or
#   O(vocab), never O(tokens).


#: High-frequency pool tokens standing in for a stopword list.
_STOPWORDS = ("spark", "table", "query", "value", "line")


@query(
    "q_text_stopword_ratio",
    oracle=f"""
    SELECT doc_id,
           CAST(SUM(CASE WHEN tok IN {_STOPWORDS!r} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stop,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN tok IN {_STOPWORDS!r} THEN 1 ELSE 0 END)
                AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS stop_ratio
    FROM (SELECT doc_id, UNNEST(string_split(text, ' ')) AS tok
          FROM documents)
    WHERE tok <> ''
    GROUP BY doc_id
    """,
)
def q_text_stopword_ratio(spark, sf_dir):
    """Per-document stopword ratio against a fixed function-word list —
    a standard text-quality signal (too low = keyword spam / non-prose,
    too high = boilerplate). Explode + one hash aggregate keyed on
    doc_id with map-side partials; the ratio is a single IEEE division.
    The list is a literal IN predicate on both engines — no broadcast
    needed at any scale."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    is_stop = F.col("tok").isin(*_STOPWORDS).cast("int")
    return toks.groupBy("doc_id").agg(
        F.sum(is_stop).cast("bigint").alias("n_stop"),
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        (
            F.sum(is_stop).cast("double") / F.count(F.lit(1)).cast("double")
        ).alias("stop_ratio"),
    )


@query(
    "q_text_zipf",
    oracle="""
    WITH tf AS (
      SELECT tok, COUNT(*) AS freq
      FROM (SELECT UNNEST(string_split(lower(text), ' ')) AS tok
            FROM documents)
      WHERE tok <> ''
      GROUP BY tok
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY freq DESC, tok) AS BIGINT)
             AS rank,
           tok,
           CAST(freq AS BIGINT) AS freq
    FROM tf
    ORDER BY rank
    LIMIT 40
    """,
)
def q_text_zipf(spark, sf_dir):
    """Vocabulary rank table (the Zipf-curve head): the 40 most frequent
    tokens with their rank — the artifact vocabulary construction and
    stopword discovery read first. Token aggregation shuffles O(vocab)
    rows (map-side partials absorb the token stream); the top-40 is a
    TakeOrderedAndProject over vocab, and rank is a window over just
    those 40 rows — the global sort never touches more than the head.
    (freq DESC, tok) is a total order, so ranks are deterministic."""
    d = read_table(spark, sf_dir, "documents")
    tf = (
        d.select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .filter(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    head = tf.orderBy(F.desc("freq"), F.asc("tok")).limit(40)
    w = Window.orderBy(F.desc("freq"), F.asc("tok"))
    return head.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "tok",
        F.col("freq").cast("bigint").alias("freq"),
    ).orderBy("rank")


@query(
    "q_text_token_bpe",
    oracle="""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                AS BIGINT) AS est_tokens,
           CAST(n_chars AS DOUBLE)
             / CAST(LEN(regexp_extract_all(lower(text),
                                           '[a-z]+|[0-9]+|[^a-z0-9 ]'))
                    AS DOUBLE) AS chars_per_token
    FROM documents
    """,
)
def q_text_token_bpe(spark, sf_dir):
    """Sub-word token estimation with a BPE-ish lexer regex (letter runs,
    digit runs, single other glyphs — the pre-tokenization split every
    BPE vocabulary starts from), plus the chars-per-token density used
    for context-budget planning. Pure JVM regexp_count in codegen — no
    UDF, no shuffle; the regex subset used has identical semantics in
    Java and RE2."""
    d = read_table(spark, sf_dir, "documents")
    est = F.regexp_count(
        F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")
    ).cast("bigint")
    return d.select(
        "doc_id",
        est.alias("est_tokens"),
        (F.col("n_chars").cast("double") / est.cast("double")).alias(
            "chars_per_token"
        ),
    )


def _bpe_exact_oracle() -> str:
    from self_healing_data_pipeline_spark.operators.bpe import (
        bpe_wtok_ctes,
    )

    lexer = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    return f"""
    WITH RECURSIVE {bpe_wtok_ctes()}, doc_tok AS (
      SELECT doc_id,
             unnest(regexp_extract_all(lower(text), '{lexer}')) AS t
      FROM documents
    ), doc_counts AS (
      SELECT dt.doc_id,
             CAST(SUM(COALESCE(wt.n_tok, 1)) AS BIGINT) AS bpe_tokens
      FROM doc_tok dt LEFT JOIN wtok wt ON dt.t = wt.w
      GROUP BY dt.doc_id
    )
    SELECT d.doc_id,
           COALESCE(dc.bpe_tokens, 0) AS bpe_tokens,
           CAST(len(regexp_extract_all(lower(d.text), '{lexer}'))
                AS BIGINT) AS est_tokens,
           COALESCE(dc.bpe_tokens, 0)
             - CAST(len(regexp_extract_all(lower(d.text), '{lexer}'))
                    AS BIGINT) AS bpe_minus_est,
           COALESCE(dc.bpe_tokens, 0)
             >= CAST(len(regexp_extract_all(lower(d.text), '{lexer}'))
                     AS BIGINT) AS witness_ok
    FROM documents d LEFT JOIN doc_counts dc ON d.doc_id = dc.doc_id
    ORDER BY d.doc_id
    """


@query("q_text_token_bpe_exact", oracle=_bpe_exact_oracle())
def q_text_token_bpe_exact(spark, sf_dir):
    """EXACT subword token counts from a real learned BPE merge table
    (``operators/bpe.py`` — public Sennrich-2015 algorithm trained on
    the fixture corpus and frozen), with the lexer-regex estimate kept
    as an in-row witness: ``est_tokens`` uses the same pre-tokenizer
    split, so ``bpe_minus_est`` isolates pure subword splitting (rare
    words fragment; ``witness_ok`` asserts exact ≥ estimate per row,
    which greedy merging guarantees since a letter run is ≥ 1 token).

    Oracle-backed since round 9 (was rows-only): the DuckDB twin
    replays the greedy lowest-rank merge loop per DISTINCT word as a
    recursive CTE over the frozen merges
    (``operators.bpe.bpe_wtok_ctes``, shared with
    q_tokenizer_fertility's oracle and verified token-identical to the
    Python kernel on every fixture word), so the driver hash-verifies
    the per-document counts themselves. Arrow-batched pandas UDF with
    an in-batch word memo — per-row cost is per-DISTINCT-word in
    practice (Zipf), and nothing shuffles: one narrow projection over
    documents."""
    from pyspark.sql.functions import pandas_udf

    from self_healing_data_pipeline_spark.operators.bpe import (
        FROZEN_MERGES,
        bpe_token_counter,
    )

    counter = bpe_token_counter(FROZEN_MERGES)
    bpe_count = pandas_udf(counter, "bigint")
    d = read_table(spark, sf_dir, "documents")
    est = F.regexp_count(
        F.lower("text"), F.lit("[a-z]+|[0-9]+|[^a-z0-9 ]")
    ).cast("bigint")
    return (
        d.select(
            "doc_id",
            bpe_count(F.col("text")).alias("bpe_tokens"),
            est.alias("est_tokens"),
        )
        .withColumn("bpe_minus_est", F.col("bpe_tokens") - F.col("est_tokens"))
        .withColumn("witness_ok", F.col("bpe_minus_est") >= 0)
        .orderBy("doc_id")
    )


@query(
    "q_text_bigram_coherence",
    oracle="""
    WITH idx AS (
      SELECT doc_id, string_split(lower(text), ' ') AS arr,
             UNNEST(generate_series(
               1, LEN(string_split(lower(text), ' ')) - 1)) AS i
      FROM documents
    ), pairs AS (
      SELECT doc_id, arr[CAST(i AS INT)] AS w1,
             arr[CAST(i AS INT) + 1] AS w2
      FROM idx
    ), c2 AS (
      SELECT w1, w2, COUNT(*) AS n2 FROM pairs GROUP BY w1, w2
    ), c1 AS (
      SELECT w1, COUNT(*) AS n1 FROM pairs GROUP BY w1
    )
    SELECT p.doc_id,
           COUNT(*) AS n_bigrams,
           CAST(SUM(c2.n2) AS BIGINT) AS corpus_bigram_mass,
           CAST(SUM(c1.n1) AS BIGINT) AS corpus_unigram_mass,
           CAST(SUM(c2.n2) AS DOUBLE) / CAST(SUM(c1.n1) AS DOUBLE)
             AS coherence
    FROM pairs p
    JOIN c2 ON p.w1 = c2.w1 AND p.w2 = c2.w2
    JOIN c1 ON p.w1 = c1.w1
    GROUP BY p.doc_id
    ORDER BY p.doc_id
    """,
)
def q_text_bigram_coherence(spark, sf_dir):
    """Perplexity-proxy document scoring from a corpus-trained bigram
    model — the fluency/quality signal a data pipeline computes without
    an LM: for each document, how typical its word transitions are,
    scored as Σ c(w1,w2) / Σ c(w1) over its bigrams (a ratio of two
    exact integer masses — ONE IEEE division per doc, engine-stable,
    unlike a sum of per-bigram log-probs whose float order would
    drift). High = made of common transitions; low = unusual text.

    Plan: tokenize ONCE (posexplode), LEAD per doc for bigrams, then
    pre-aggregate the token stream to (doc_id, w1, w2, cnt) BEFORE any
    join — repeated bigrams within a document collapse, so the two
    model-count joins (on (w1, w2) and on w1) move doc-grain counted
    rows, not the raw token stream, cutting both shuffle volume and the
    Zipf skew mass on the w1 key ("the" carries one row per document
    that uses it, not one per occurrence; AQE skew-join splitting covers
    the residual head). Model masses then weight by cnt:
    Σ cnt·n over the collapsed rows equals the per-occurrence sum
    exactly, so the doc score is unchanged. Shuffles carry words and
    counts, never documents."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        F.posexplode(F.split(F.lower("text"), " ")).alias("ord", "w"),
    )
    wseq = Window.partitionBy("doc_id").orderBy("ord")
    pairs = (
        toks.select(
            "doc_id",
            F.col("w").alias("w1"),
            F.lead("w").over(wseq).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    c2 = pairs.groupBy("w1", "w2").agg(F.sum("cnt").alias("n2"))
    c1 = pairs.groupBy("w1").agg(F.sum("cnt").alias("n1"))
    return (
        pairs.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").cast("bigint").alias("n_bigrams"),
            F.sum(F.col("cnt") * F.col("n2")).cast("bigint").alias(
                "corpus_bigram_mass"
            ),
            F.sum(F.col("cnt") * F.col("n1")).cast("bigint").alias(
                "corpus_unigram_mass"
            ),
            (
                F.sum(F.col("cnt") * F.col("n2")).cast("double")
                / F.sum(F.col("cnt") * F.col("n1")).cast("double")
            ).alias("coherence"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_text_readability",
    oracle=r"""
    SELECT doc_id,
           CAST(LEN(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
             AS n_words,
           CAST(LEN(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
             AS n_vowel_groups,
           CAST(LEN(regexp_extract_all(text, '[.!?]')) + 1 AS BIGINT)
             AS n_sentences,
           CAST(LEN(regexp_extract_all(lower(text), '[a-z]+')) AS DOUBLE)
             / CAST(LEN(regexp_extract_all(text, '[.!?]')) + 1 AS DOUBLE)
             AS words_per_sentence
    FROM documents
    WHERE LEN(regexp_extract_all(lower(text), '[a-z]+')) > 0
    ORDER BY doc_id
    """,
)
def q_text_readability(spark, sf_dir):
    """Readability raw factors per document — the Flesch-style quality
    signal computed WITHOUT a tokenizer model: word count (letter
    runs), syllable proxy (vowel groups — the standard heuristic), and
    sentence count (terminal punctuation + 1), plus words-per-sentence
    as one IEEE division of exact counts. A corpus filter drops
    documents outside sane readability bands; this query emits the
    factors so the band is a downstream predicate, not baked in.

    Plan: three JVM ``regexp_count``-style projections in one narrow
    map — no explode, no shuffle before the (already tiny) ordered
    output. Counting via regexp_extract_all length keeps both engines
    on the identical regex semantics."""
    d = read_table(spark, sf_dir, "documents")
    words = F.size(F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)"))
    vowels = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    sents = F.size(F.expr("regexp_extract_all(text, '[.!?]', 0)")) + 1
    return (
        d.select(
            "doc_id",
            words.cast("bigint").alias("n_words"),
            vowels.cast("bigint").alias("n_vowel_groups"),
            sents.cast("bigint").alias("n_sentences"),
            (words.cast("double") / sents.cast("double")).alias(
                "words_per_sentence"
            ),
        )
        .filter(F.col("n_words") > 0)
        .orderBy("doc_id")
    )


@query(
    "q_inverted_index",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT({_NORM.format(c='text')}, ' ')) AS term
      FROM documents
    ), grain AS (
      SELECT term, doc_id, COUNT(*) AS n
      FROM tok WHERE LENGTH(term) > 0 GROUP BY term, doc_id
    ), ranked AS (
      SELECT term, doc_id,
             ROW_NUMBER() OVER (PARTITION BY term ORDER BY doc_id) AS rn
      FROM grain
    ), heads AS (
      SELECT term,
             STRING_AGG(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
               AS postings_head
      FROM ranked WHERE rn <= 16 GROUP BY term
    )
    SELECT g.term AS term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(SUM(g.n) AS BIGINT) AS cf,
           MAX(h.postings_head) AS postings_head
    FROM grain g JOIN heads h ON g.term = h.term
    GROUP BY g.term ORDER BY g.term
    """,
)
def q_inverted_index(spark, sf_dir):
    """Inverted-index construction: per term, document frequency, corpus
    frequency, and the HEAD of the sorted doc_id posting list (first 16
    postings, comma-joined) — the search-engine build step over the
    corpus.

    Plan: one tokenize pass → (term, doc_id) grain with per-doc term
    counts (map-side partial agg) → df/cf in one aggregate. The posting
    head comes from a rank window PARTITIONED BY term (never global):
    rows beyond rank 16 are dropped BEFORE any list assembly, so no
    operator ever materializes a full posting list — at 100 TB a head
    term's postings are billions of doc_ids, and real systems shard the
    full lists; the capped head keeps the declared output bounded at
    16 ids/term while df/cf stay exact over the full grain."""
    docs = read_table(spark, sf_dir, "documents")
    toks = F.split(normalize_text("text"), " ")
    grain = (
        docs.select("doc_id", F.explode(toks).alias("term"))
        .where(F.length("term") > 0)
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    # Single pass: the rank window partitions by term, so the groupBy
    # that follows reuses its hash(term) exchange — one tokenize scan,
    # no self-join. collect_list skips the NULLs the when() leaves for
    # rows past rank 16, keeping the assembled list <= 16 ids.
    w = Window.partitionBy("term").orderBy("doc_id")
    return (
        grain.select("term", "doc_id", "n", F.row_number().over(w).alias("rn"))
        .groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.sum("n").cast("bigint").alias("cf"),
            F.concat_ws(
                ",",
                F.transform(
                    F.sort_array(
                        F.collect_list(
                            F.when(F.col("rn") <= 16, F.col("doc_id"))
                        )
                    ),
                    lambda d: d.cast("string"),
                ),
            ).alias("postings_head"),
        )
        .orderBy("term")
    )


# SURVEY.md §2.11: the query side of the search engine — phrase search
# through a POSITIONAL posting join, and posting-list gap statistics
# (the delta-encoding compression diagnostic) — composing with the
# ``q_inverted_index`` build step.
#
# Scale discipline: the phrase plan touches only the two posting lists of
# the phrase terms (filtered BEFORE the join, the classic phrase-query
# plan), the gap windows partition by term, and the probe phrase itself
# is the corpus's top bigram resolved from a bounded TakeOrdered + broadcast.


# Corpus bigram counts (token stream pairs), shared by the phrase CTEs.
_BIGRAMS_SQL = f"""
    SELECT a[CAST(i AS INT)] AS w1, a[CAST(i AS INT) + 1] AS w2,
           COUNT(*) AS c
    FROM (
      SELECT doc_id, a, UNNEST(GENERATE_SERIES(1, LEN(a) - 1)) AS i
      FROM (
        SELECT doc_id, STRING_SPLIT({_NORM.format(c='text')}, ' ') AS a
        FROM documents
      )
    ) GROUP BY 1, 2
"""


@query(
    "q_phrase_search",
    oracle=f"""
    WITH bi AS ({_BIGRAMS_SQL}),
    top1 AS (
      SELECT w1, w2 FROM bi ORDER BY c DESC, w1 ASC, w2 ASC LIMIT 1
    ), occ AS (
      SELECT doc_id,
             a[CAST(i AS INT)] AS t1, a[CAST(i AS INT) + 1] AS t2
      FROM (
        SELECT doc_id, a, UNNEST(GENERATE_SERIES(1, LEN(a) - 1)) AS i
        FROM (
          SELECT doc_id, STRING_SPLIT({_NORM.format(c='text')}, ' ') AS a
          FROM documents
        )
      )
    )
    SELECT o.doc_id, t.w1, t.w2, CAST(COUNT(*) AS BIGINT) AS n_occ
    FROM occ o JOIN top1 t ON o.t1 = t.w1 AND o.t2 = t.w2
    GROUP BY o.doc_id, t.w1, t.w2
    ORDER BY o.doc_id
    """,
)
def q_phrase_search(spark, sf_dir):
    """PHRASE SEARCH through the positional index: find every document
    containing the corpus's most frequent bigram as a CONSECUTIVE
    phrase, with per-doc occurrence counts — the query-side op the
    ``q_inverted_index`` build exists for.

    Plan: the probe phrase resolves from the bigram rollup via a
    bounded TakeOrdered (deterministic c/w1/w2 tie-break) and
    BROADCASTS; the positional postings (doc, pos, term) filter to the
    two phrase terms BEFORE any join — the classic phrase plan: only
    the phrase terms' posting lists are intersected, on (doc, pos+1),
    never the full index. At 100 TB the filter prunes the posting
    grain to the phrase terms' df share; the join keys are (doc, pos)
    ints."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.posexplode(F.split(normalize_text("text"), " ")).alias("pos", "term")
    )
    bi = (
        toks.withColumn(
            "w2", F.lead("term").over(Window.partitionBy("doc_id").orderBy("pos"))
        )
        .where(F.col("w2").isNotNull())
        .groupBy(F.col("term").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    top1 = (
        bi.orderBy(F.col("c").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(1)
        .select("w1", "w2")
    )
    t = toks.crossJoin(F.broadcast(top1))
    left = t.where(F.col("term") == F.col("w1")).select(
        "doc_id", "pos", "w1", "w2"
    )
    right = t.where(F.col("term") == F.col("w2")).select(
        F.col("doc_id").alias("d2"), F.col("pos").alias("pos2")
    )
    occ = left.join(
        right,
        (left.doc_id == right.d2) & (right.pos2 == left.pos + 1),
    )
    return (
        occ.groupBy("doc_id", "w1", "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
        .orderBy("doc_id")
    )


@query(
    "q_posting_gaps",
    oracle=f"""
    WITH grain AS (
      SELECT DISTINCT term, doc_id FROM (
        SELECT doc_id,
               UNNEST(STRING_SPLIT({_NORM.format(c='text')}, ' ')) AS term
        FROM documents
      ) WHERE LENGTH(term) > 0
    ), gaps AS (
      SELECT term, doc_id,
             doc_id - LAG(doc_id) OVER
               (PARTITION BY term ORDER BY doc_id) AS gap
      FROM grain
    )
    SELECT term,
           CAST(COUNT(*) AS BIGINT) AS df,
           CAST(MIN(doc_id) AS BIGINT) AS min_doc,
           CAST(MAX(doc_id) AS BIGINT) AS max_doc,
           CAST(MAX(gap) AS BIGINT) AS max_gap,
           CAST(MAX(doc_id) - MIN(doc_id) AS DOUBLE)
             / CAST(COUNT(*) - 1 AS DOUBLE) AS avg_gap
    FROM gaps GROUP BY term HAVING COUNT(*) >= 2
    ORDER BY term
    """,
)
def q_posting_gaps(spark, sf_dir):
    """Posting-list GAP statistics per term (df >= 2): max and average
    doc_id delta between consecutive postings — the compression
    diagnostic behind delta/varint posting encodings (small gaps =
    dense term = high compression; the avg gap is exactly
    (max-min)/(df-1), so only max_gap needs the ordered scan).

    Plan: the distinct (term, doc_id) grain gets ONE LAG window
    partitioned by term (the posting list's natural key — head-term
    skew is AQE-split, never global), then collapses to per-term
    stats in the same exchange. One IEEE division per term."""
    docs = read_table(spark, sf_dir, "documents")
    grain = (
        docs.select(
            "doc_id", F.explode(F.split(normalize_text("text"), " ")).alias("term")
        )
        .where(F.length("term") > 0)
        .select("term", "doc_id")
        .distinct()
    )
    w = Window.partitionBy("term").orderBy("doc_id")
    gaps = grain.withColumn("gap", F.col("doc_id") - F.lag("doc_id").over(w))
    return (
        gaps.groupBy("term")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("df"),
            F.min("doc_id").cast("bigint").alias("min_doc"),
            F.max("doc_id").cast("bigint").alias("max_doc"),
            F.max("gap").cast("bigint").alias("max_gap"),
            (
                (F.max("doc_id") - F.min("doc_id")).cast("double")
                / (F.count(F.lit(1)) - 1).cast("double")
            ).alias("avg_gap"),
        )
        .where(F.col("df") >= 2)
        .orderBy("term")
    )


@query(
    "q_term_collocations",
    oracle=f"""
    WITH bi AS ({_BIGRAMS_SQL}),
    uni AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS n1 FROM (
        SELECT UNNEST(STRING_SPLIT({_NORM.format(c='text')}, ' ')) AS term
        FROM documents
      ) WHERE LENGTH(term) > 0 GROUP BY term
    ), tot AS (
      SELECT CAST(SUM(n1) AS BIGINT) AS n FROM uni
    )
    SELECT b.w1, b.w2, CAST(b.c AS BIGINT) AS n_pair,
           u1.n1 AS n_w1, u2.n1 AS n_w2,
           CAST(CAST(b.c AS DECIMAL(38,0)) * (SELECT n FROM tot) AS DOUBLE)
             / CAST(CAST(u1.n1 AS DECIMAL(38,0)) * u2.n1 AS DOUBLE) AS lift
    FROM bi b
    JOIN uni u1 ON b.w1 = u1.term
    JOIN uni u2 ON b.w2 = u2.term
    WHERE b.c >= 5
    ORDER BY lift DESC, b.w1 ASC, b.w2 ASC
    LIMIT 50
    """,
)
def q_term_collocations(spark, sf_dir):
    """COLLOCATION mining: the corpus's most associated adjacent word
    pairs by LIFT — P(w1 w2) / (P(w1)·P(w2)), the exact-ratio form of
    pointwise mutual information (the log is monotone in the ratio, and
    natural-log last-ulp behavior is engine-specific, so the ratio IS
    the cross-engine-safe statistic). Minimum pair count 5 suppresses
    the unstable tail, exactly as collocation extractors do.

    Plan: one tokenize pass feeds BOTH the bigram grain (LEAD window
    per doc) and the unigram rollup; the unigram table joins back on
    each side of the pair key, the corpus total rides as a broadcast
    1-row scalar, and top-50 with the lift/w1/w2 tie-break chain is a
    bounded TakeOrdered. All masses exact integers; lift is one IEEE
    division of integer cross-products — carried in DECIMAL(38), since
    n_pair*N and head-word count products overflow int64 at web-corpus
    token counts (the q_feature_scale dsum discipline)."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split(normalize_text("text"), " ")).alias("pos", "term"),
    )
    bi = (
        toks.withColumn(
            "w2", F.lead("term").over(Window.partitionBy("doc_id").orderBy("pos"))
        )
        .where(F.col("w2").isNotNull())
        .groupBy(F.col("term").alias("w1"), "w2")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pair"))
        .where(F.col("n_pair") >= 5)
    )
    uni = (
        toks.where(F.length("term") > 0)
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n1"))
    )
    tot = uni.agg(F.sum("n1").cast("bigint").alias("n"))
    return (
        bi.join(uni.select(F.col("term").alias("w1"), F.col("n1").alias("n_w1")), "w1")
        .join(uni.select(F.col("term").alias("w2"), F.col("n1").alias("n_w2")), "w2")
        .crossJoin(F.broadcast(tot))
        .select(
            "w1",
            "w2",
            "n_pair",
            "n_w1",
            "n_w2",
            (
                (F.col("n_pair").cast("decimal(38,0)") * F.col("n")).cast("double")
                / (F.col("n_w1").cast("decimal(38,0)") * F.col("n_w2")).cast(
                    "double"
                )
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("w1").asc(), F.col("w2").asc())
        .limit(50)
    )


# SURVEY.md §2.11: corpus-hygiene closers — PII REDACTION (the transform
# the ``q_pii_scan`` profile exists to gate) and the language-ID
# CONFUSION MATRIX (the audit behind ``q_text_langid``'s predictions).
#
# Both are single-pass JVM projections/aggregates sharing their regex and
# marker definitions with the existing operators, so scan, redact, and
# audit can never disagree about what counts as PII or as a language hit.


# Same shapes q_pii_scan counts: redact what the scan finds.
_EMAIL = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+"
_PHONE = r"[0-9][0-9][0-9][-.][0-9][0-9][0-9][-.][0-9][0-9][0-9][0-9]"


@query(
    "q_pii_redact",
    oracle=f"""
    WITH r AS (
      SELECT doc_id,
             REGEXP_REPLACE(
               REGEXP_REPLACE(text, '{_EMAIL}', '<EMAIL>', 'g'),
               '{_PHONE}', '<PHONE>', 'g') AS redacted,
             text
      FROM documents
    )
    SELECT doc_id,
           SUBSTRING(MD5(redacted), 1, 16) AS redacted_fp,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '{_EMAIL}', '',
                'g')) AS BIGINT)
             + CAST(LENGTH(REGEXP_REPLACE(text, '{_EMAIL}', '', 'g'))
                    - LENGTH(REGEXP_REPLACE(REGEXP_REPLACE(text, '{_EMAIL}',
                        '', 'g'), '{_PHONE}', '', 'g')) AS BIGINT)
             AS chars_redacted,
           (LEN(REGEXP_EXTRACT_ALL(redacted, '{_EMAIL}')) = 0
            AND LEN(REGEXP_EXTRACT_ALL(redacted, '{_PHONE}')) = 0)
             AS clean_after
    FROM r
    """,
)
def q_pii_redact(spark, sf_dir):
    """PII REDACTION — the transform the scan profile gates: emails and
    phone-shaped spans replace with typed placeholders, emitting a
    redacted-content fingerprint, the exact count of characters
    removed, and a ``clean_after`` witness that re-scanning the
    redacted text with the SAME patterns finds nothing (the property a
    privacy review actually signs off on; the oracle expects it TRUE
    per row). Patterns are shared constants with ``q_pii_scan``, so
    scan and redact cannot drift.

    Plan: one narrow map per row — three JVM regexp passes (replace,
    replace, verify), no shuffle at all before the declared output.
    The fingerprint stands in for shipping the redacted text through
    the comparison (md5 over UTF-8 twins exactly across engines)."""
    d = read_table(spark, sf_dir, "documents")
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL, "<EMAIL>"), _PHONE, "<PHONE>"
    )
    no_email = F.regexp_replace(F.col("text"), _EMAIL, "")
    no_both = F.regexp_replace(no_email, _PHONE, "")
    return d.select(
        "doc_id",
        F.substring(F.md5(redacted), 1, 16).alias("redacted_fp"),
        (
            (F.length("text") - F.length(no_email)).cast("bigint")
            + (F.length(no_email) - F.length(no_both)).cast("bigint")
        ).alias("chars_redacted"),
        (
            (F.regexp_count(redacted, F.lit(_EMAIL)) == 0)
            & (F.regexp_count(redacted, F.lit(_PHONE)) == 0)
        ).alias("clean_after"),
    )


@query(
    "q_langid_confusion",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, lang, {_NORM.format(c='text')} AS norm FROM documents
    ), scored AS (
      SELECT doc_id, lang,
           {{marker_cols}}
      FROM base
    ), pred AS (
      SELECT lang, {{case_expr}} AS lang_pred FROM scored
    )
    SELECT lang, lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred
    """.format(
        marker_cols=_marker_counts_sql(), case_expr=_langid_case_sql()
    ),
)
def q_langid_confusion(spark, sf_dir):
    """Language-ID CONFUSION MATRIX: labeled language × predicted
    language counts — the audit behind ``q_text_langid``'s per-doc
    predictions (which marker families collide, where 'und' falls).
    The prediction logic is the SAME shared ``LANG_MARKERS`` argmax on
    both engines, so the matrix is exact, and the matrix grain is
    bounded at (|langs|+1)² rows.

    Plan: one narrow regex-count map + one counted-grain aggregate
    with map-side partials — the corpus scans once."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.select("lang", lang_id("text").alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


# SURVEY.md §2.11: RETRIEVAL-STACK scoring — BM25 full-text relevance
# over the tokenized corpus (the ranking function behind every lexical
# search engine) and RECIPROCAL-RANK FUSION of two exact vector rankers
# (the standard hybrid-search combiner).
#
# Completes the search story beside the structural ops (inverted index,
# phrase query, posting gaps): build the index → score with BM25 →
# fuse lexical/vector rankings.


# Fixed two-term query (both mid-df corpus terms) and the standard
# Robertson parameters. The IDF is the EXACT-RATIO form
# (N - df + 0.5)/(df + 0.5) rather than its logarithm: log(1+x) is
# monotone, so the PER-TERM ranking is identical, and the ratio is a
# chain of mirrored IEEE ops both engines compute bit-identically,
# while ln's last ulp is engine-specific (the q_term_collocations
# lift-vs-PMI precedent; production note: swap in F.log1p and accept
# oracle-tolerance instead of bit-equality if true log-BM25 is wanted).
_BM25_TERMS = ("join", "filter")
_K1 = 1.2
_B = 0.75


@query(
    "q_text_bm25",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, UNNEST(STRING_SPLIT({_NORM_SQL.format(c='text')}, ' '))
               AS token
      FROM documents
    ), toks2 AS (
      SELECT * FROM toks WHERE LENGTH(token) > 0
    ), dl AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl FROM toks2 GROUP BY 1
    ), stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(dl) AS BIGINT) AS total_tokens
      FROM dl
    ), tf AS (
      SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf FROM toks2
      WHERE token IN ('{_BM25_TERMS[0]}', '{_BM25_TERMS[1]}') GROUP BY 1, 2
    ), df AS (
      SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1
    ), term_scores AS (
      SELECT t.doc_id, t.token, t.tf,
             ((CAST(s.n_docs - d.df AS DOUBLE) + 0.5)
              / (CAST(d.df AS DOUBLE) + 0.5))
             * ((CAST(t.tf AS DOUBLE) * {1.0 + _K1})
                / (CAST(t.tf AS DOUBLE)
                   + {_K1} * ({1.0 - _B} + {_B}
                      * (CAST(l.dl AS DOUBLE)
                         / (CAST(s.total_tokens AS DOUBLE)
                            / CAST(s.n_docs AS DOUBLE)))))) AS sc
      FROM tf t
      JOIN dl l ON t.doc_id = l.doc_id
      JOIN df d ON t.token = d.token, stats s
    ), agg AS (
      SELECT doc_id,
             COALESCE(MAX(CASE WHEN token = '{_BM25_TERMS[0]}' THEN sc END),
                      CAST(0 AS DOUBLE))
             + COALESCE(MAX(CASE WHEN token = '{_BM25_TERMS[1]}' THEN sc END),
                        CAST(0 AS DOUBLE)) AS score,
             CAST(COALESCE(MAX(CASE WHEN token = '{_BM25_TERMS[0]}'
                                    THEN tf END), 0) AS BIGINT) AS tf_a,
             CAST(COALESCE(MAX(CASE WHEN token = '{_BM25_TERMS[1]}'
                                    THEN tf END), 0) AS BIGINT) AS tf_b
      FROM term_scores GROUP BY doc_id
    )
    SELECT doc_id, tf_a, tf_b, score FROM agg
    ORDER BY score DESC, doc_id LIMIT 15
    """,
)
def q_text_bm25(spark, sf_dir):
    """BM25 relevance ranking for a two-term query (k1=1.2, b=0.75,
    exact-ratio IDF — see module constants): the lexical-search scoring
    function computed corpus-wide from one tokenize pass.

    Determinism: every factor is a mirrored chain of IEEE ops on exact
    integer inputs (tf, dl, df, N, Σdl) — identical operand order on
    both engines → bit-identical doubles; the two term scores combine
    with ONE addition. Top-15 carries the (score, doc_id) total order.

    Scale shape: the token stream aggregates keyed by doc (lengths)
    and (doc, term) (frequencies — term-filtered to the query, so this
    branch is query-bounded); df reduces from the tf grain; the corpus
    stats are a broadcast 1-row scalar. Only docs containing a query
    term reach the scoring join (inner on tf). TakeOrderedAndProject
    for the head — no global sort."""
    docs = read_table(spark, sf_dir, "documents")
    toks = (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .filter(F.length("token") > 0)
    )
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("dl").cast("bigint").alias("total_tokens"),
    )
    tf = (
        toks.filter(F.col("token").isin(*_BM25_TERMS))
        .groupBy("doc_id", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("tf"))
    )
    df = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))

    avgdl = F.col("total_tokens").cast("double") / F.col("n_docs").cast("double")
    idf = (
        (F.col("n_docs") - F.col("df")).cast("double") + F.lit(0.5)
    ) / (F.col("df").cast("double") + F.lit(0.5))
    tf_part = (F.col("tf").cast("double") * F.lit(1.0 + _K1)) / (
        F.col("tf").cast("double")
        + F.lit(_K1)
        * (F.lit(1.0 - _B) + F.lit(_B) * (F.col("dl").cast("double") / avgdl))
    )
    scored = (
        tf.join(dl, "doc_id")
        .join(F.broadcast(df), "token")
        .crossJoin(F.broadcast(stats))
        .withColumn("sc", idf * tf_part)
    )
    zero = F.lit(0).cast("double")
    return (
        scored.groupBy("doc_id")
        .agg(
            (
                F.coalesce(
                    F.max(F.when(F.col("token") == _BM25_TERMS[0], F.col("sc"))),
                    zero,
                )
                + F.coalesce(
                    F.max(F.when(F.col("token") == _BM25_TERMS[1], F.col("sc"))),
                    zero,
                )
            ).alias("score"),
            F.coalesce(
                F.max(F.when(F.col("token") == _BM25_TERMS[0], F.col("tf"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tf_a"),
            F.coalesce(
                F.max(F.when(F.col("token") == _BM25_TERMS[1], F.col("tf"))),
                F.lit(0),
            )
            .cast("bigint")
            .alias("tf_b"),
        )
        .select("doc_id", "tf_a", "tf_b", "score")
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(15)
    )


@query(
    "q_rrf_fusion",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    ip AS (
      SELECT e.vec_id,
             (SELECT SUM(CAST(e.embedding[i] * q.qv[i] AS DOUBLE))
                FROM generate_series(1, 64) AS t(i)) AS s
      FROM embeddings e, q
    ), ipr AS (
      SELECT vec_id, r FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY s DESC, vec_id) AS r
        FROM ip
      ) WHERE r <= 20
    ), l2 AS (
      SELECT e.vec_id,
             (SELECT SUM(CAST((e.embedding[i] - q.qv[i])
                              * (e.embedding[i] - q.qv[i]) AS DOUBLE))
                FROM generate_series(1, 64) AS t(i)) AS d
      FROM embeddings e, q
    ), l2r AS (
      SELECT vec_id, r FROM (
        SELECT vec_id,
               ROW_NUMBER() OVER (ORDER BY d ASC, vec_id) AS r
        FROM l2
      ) WHERE r <= 20
    ), fused AS (
      SELECT COALESCE(a.vec_id, b.vec_id) AS vec_id,
             CAST(a.r AS BIGINT) AS rank_ip,
             CAST(b.r AS BIGINT) AS rank_l2,
             COALESCE(CAST(1.0 AS DOUBLE) / (60 + a.r), CAST(0 AS DOUBLE))
             + COALESCE(CAST(1.0 AS DOUBLE) / (60 + b.r), CAST(0 AS DOUBLE))
               AS rrf
      FROM ipr a FULL OUTER JOIN l2r b ON a.vec_id = b.vec_id
    )
    SELECT vec_id, rank_ip, rank_l2, rrf FROM fused
    ORDER BY rrf DESC, vec_id LIMIT 10
    """,
)
def q_rrf_fusion(spark, sf_dir):
    """RECIPROCAL-RANK FUSION (k=60) of two exact vector rankers —
    inner-product and L2 distance against the vec_id=0 query — the
    standard hybrid-search combiner (Cormack 2009): rrf(d) =
    Σ 1/(60 + rank_i(d)) over the rankers that returned d in their
    top-20.

    Determinism: both rankers are mirrored float32-product /
    float64-accumulate folds (the q_sim_topk convention); ranks are
    integers, each reciprocal is one IEEE division, and the fuse is
    ONE addition — bit-exact cross-engine.

    Scale shape: each ranker is a narrow broadcast-query scan ending
    in TakeOrderedAndProject (k rows; no global sort); ranking within
    a shortlist is a window over k=20 rows — a BOUNDED SinglePartition
    (constant size, independent of corpus scale), the same class as
    broadcast scalar frames. The full-outer fuse joins two 20-row
    frames. At 100 TB only the two ranker scans touch data."""
    from self_healing_data_pipeline_spark.functions.vector import dot_product

    emb = read_table(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").head()[0]
    qcol = F.array(*[F.lit(float(x)).cast("float") for x in qvec])

    ip = emb.select(
        "vec_id", dot_product(F.col("embedding"), qcol).alias("s")
    )
    ip_top = ip.orderBy(F.desc("s"), F.asc("vec_id")).limit(20)
    ipr = ip_top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.desc("s"), F.asc("vec_id")))
        .cast("bigint")
        .alias("rank_ip"),
    )

    diff_sq = F.aggregate(
        F.zip_with(F.col("embedding"), qcol, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x.cast("double"),
    )
    l2 = emb.select("vec_id", diff_sq.alias("d"))
    l2_top = l2.orderBy(F.asc("d"), F.asc("vec_id")).limit(20)
    l2r = l2_top.select(
        "vec_id",
        F.row_number()
        .over(Window.orderBy(F.asc("d"), F.asc("vec_id")))
        .cast("bigint")
        .alias("rank_l2"),
    )

    zero = F.lit(0).cast("double")
    fused = (
        ipr.join(l2r, "vec_id", "full_outer")
        .select(
            "vec_id",
            "rank_ip",
            "rank_l2",
            (
                F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_ip")), zero)
                + F.coalesce(F.lit(1.0) / (F.lit(60) + F.col("rank_l2")), zero)
            ).alias("rrf"),
        )
    )
    return fused.orderBy(F.desc("rrf"), F.asc("vec_id")).limit(10)


# SURVEY.md §2.11: KEYPHRASE EXTRACTION (RAKE — stopword-delimited
# candidate phrases scored by word degree/frequency, in an exact-integer
# variant) and an EMBEDDING-NORM AUDIT (data quality for the vector
# column: norm distribution + malformed-vector verdicts — the q_dq_*
# discipline applied to `array<float>`).
#
# Reference scope: corpus keywording extends the text-analysis family
# (TF-IDF keywords, collocations); the norm audit is the pre-flight
# check every similarity/ANN pipeline runs before trusting cosine
# scores (an unnormalized or NaN vector silently corrupts top-k).


# Phrase delimiters for the fixture corpus (the domain function words —
# same role as English stopwords in classic RAKE; q_text_stopword_ratio uses the
# same set for its stopword-ratio heuristic).
_RAKE_STOPS = ("spark", "table", "query", "value", "line")
_MAX_PHRASE = 4


@query(
    "q_text_keyphrase",
    oracle=f"""
    WITH raw AS (
      SELECT doc_id, a, UNNEST(GENERATE_SERIES(1, LEN(a))) AS i
      FROM (SELECT doc_id, STRING_SPLIT({_NORM_SQL.format(c='text')}, ' ')
              AS a FROM documents)
    ), toks AS (
      SELECT doc_id, CAST(i AS BIGINT) AS pos, a[CAST(i AS INT)] AS tok
      FROM raw WHERE LENGTH(a[CAST(i AS INT)]) > 0
    ), marked AS (
      SELECT doc_id, pos, tok,
             CASE WHEN tok IN {_RAKE_STOPS!r} THEN 1 ELSE 0 END AS is_stop,
             SUM(CASE WHEN tok IN {_RAKE_STOPS!r} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS grp
      FROM toks
    ), pt AS (
      SELECT doc_id, grp, pos, tok FROM marked WHERE is_stop = 0
    ), phrases AS (
      SELECT doc_id, grp,
             STRING_AGG(tok, ' ' ORDER BY pos) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM pt GROUP BY 1, 2
      HAVING COUNT(*) BETWEEN 2 AND {_MAX_PHRASE}
    ), wp AS (
      SELECT pt.tok, p.doc_id, p.grp, p.phrase, p.plen
      FROM pt JOIN phrases p ON pt.doc_id = p.doc_id AND pt.grp = p.grp
    ), wstat AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(plen) AS BIGINT) AS deg
      FROM wp GROUP BY 1
    ), occ AS (
      SELECT wp.doc_id, wp.grp, wp.phrase,
             SUM(w.deg) AS deg_sum, SUM(w.freq) AS freq_sum
      FROM wp JOIN wstat w ON wp.tok = w.tok
      GROUP BY 1, 2, 3
    )
    SELECT phrase,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(MAX(deg_sum) AS BIGINT) AS deg_sum,
           CAST(MAX(freq_sum) AS BIGINT) AS freq_sum,
           CAST(MAX(deg_sum) * 1000000 // MAX(freq_sum) AS BIGINT)
             AS score_scaled
    FROM occ GROUP BY 1
    ORDER BY score_scaled DESC, phrase LIMIT 20
    """,
)
def q_text_keyphrase(spark, sf_dir):
    """KEYPHRASE EXTRACTION (RAKE, Rose 2010): candidate phrases are
    maximal stopword-free token runs (2–4 tokens); each word scores
    deg(w)/freq(w) over the phrase-word grain and a phrase scores the
    sum — here in the EXACT-INTEGER form Σdeg(w)·10⁶ // Σfreq(w)
    (summing exact integer degree and frequency masses before ONE
    floor division, instead of summing per-word float ratios whose
    addition order is engine-specific — the q_term_collocations
    discipline). Top-20 phrases with occurrence counts.

    Scale shape: one tokenize pass; the phrase-run grouping is a
    per-doc running count of stopwords (gaps-and-islands, partitioned
    by doc); word stats and phrase scores are counted-grain
    aggregates; phrases collapse map-side by text before the bounded
    TakeOrdered head. No SinglePartition."""
    docs = read_table(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id",
            F.posexplode(F.split(normalize_text(F.col("text")), " ")).alias(
                "pos", "tok"
            ),
        )
        .filter(F.length("tok") > 0)
        .withColumn("pos", (F.col("pos") + 1).cast("bigint"))
    )
    is_stop = F.col("tok").isin(*_RAKE_STOPS).cast("int")
    grp = F.sum(is_stop).over(
        Window.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    marked = toks.select("doc_id", "pos", "tok", is_stop.alias("is_stop"), grp.alias("grp"))
    pt = marked.filter(F.col("is_stop") == 0).select("doc_id", "grp", "pos", "tok")
    phrases = (
        pt.groupBy("doc_id", "grp")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col("pos"), F.col("tok")))
                    ),
                    lambda x: x.tok,
                ),
            ).alias("phrase"),
            F.count(F.lit(1)).cast("bigint").alias("plen"),
        )
        .filter(F.col("plen").between(2, _MAX_PHRASE))
    )
    wp = pt.join(phrases, ["doc_id", "grp"]).select(
        "tok", "doc_id", "grp", "phrase", "plen"
    )
    wstat = wp.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("freq"),
        F.sum("plen").cast("bigint").alias("deg"),
    )
    occ = (
        wp.join(wstat, "tok")
        .groupBy("doc_id", "grp", "phrase")
        .agg(
            F.sum("deg").alias("deg_sum"), F.sum("freq").alias("freq_sum")
        )
    )
    final = occ.groupBy("phrase").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_occ"),
        F.max("deg_sum").cast("bigint").alias("deg_sum"),
        F.max("freq_sum").cast("bigint").alias("freq_sum"),
        (
            (
                F.max("deg_sum") * F.lit(1000000)
                - F.pmod(F.max("deg_sum") * F.lit(1000000), F.max("freq_sum"))
            )
            / F.max("freq_sum")
        )
        .cast("bigint")
        .alias("score_scaled"),
    )
    return final.orderBy(F.desc("score_scaled"), F.asc("phrase")).limit(20)


@query(
    "q_trending_terms",
    oracle=f"""
    WITH cut AS (
      -- FLOOR before the cast: DuckDB's double->int CAST rounds while
      -- Spark's truncates; floor makes both engines agree
      SELECT MAX(doc_id)
               - CAST(FLOOR((MAX(doc_id) - MIN(doc_id)) / 5) AS BIGINT)
               AS cut_id
      FROM documents
    ), toks AS (
      SELECT d.doc_id, UNNEST(STRING_SPLIT({_NORM_SQL.format(c='text')}, ' '))
               AS term
      FROM documents d
    ), t2 AS (
      SELECT CASE WHEN t.doc_id > c.cut_id THEN 1 ELSE 0 END AS recent,
             t.term
      FROM toks t, cut c WHERE LENGTH(t.term) > 0
    ), counts AS (
      SELECT term,
             CAST(SUM(recent) AS BIGINT) AS n_new,
             CAST(SUM(1 - recent) AS BIGINT) AS n_old
      FROM t2 GROUP BY 1
    ), tot AS (
      SELECT CAST(SUM(n_new) AS BIGINT) AS tot_new,
             CAST(SUM(n_old) AS BIGINT) AS tot_old
      FROM counts
    )
    SELECT c.term, c.n_new, c.n_old,
           CAST(c.n_new * t.tot_old AS DOUBLE)
             / CAST((c.n_old + 1) * t.tot_new AS DOUBLE) AS burst
    FROM counts c, tot t
    WHERE c.n_new >= 5
    ORDER BY burst DESC, c.term LIMIT 10
    """,
)
def q_trending_terms(spark, sf_dir):
    """Crawl-drift TRENDING TERMS: the vocabulary overrepresented in
    the NEWEST fifth of the corpus (by ingest id) relative to history —
    burst(t) = (share_new / share_old) with +1 smoothing for unseen
    history, min-support 5. The corpus-drift monitor that catches a
    crawl source going spammy (q_dq_category_drift's idea applied to
    open vocabulary), and the trend half of the q_source_coverage /
    q_text_zipf vocabulary suite.

    Determinism: the burst ratio is ONE IEEE division of exact integer
    cross-products (share ratio multiplied out — the q_term_collocations
    lift discipline); the corpus cut is integer arithmetic on the
    broadcast id bounds.

    Scale shape: one tokenize pass; (recent, term) partial-aggregated
    counts; broadcast 1-row totals; TakeOrdered head. At 100 TB the
    slice flag comes straight from the ingest-time partition column,
    making the cut a partition-pruned scan."""
    docs = read_table(spark, sf_dir, "documents")
    bounds = docs.agg(
        (
            F.max("doc_id")
            - ((F.max("doc_id") - F.min("doc_id")) / 5).cast("bigint")
        ).alias("cut_id")
    )
    toks = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.when(F.col("doc_id") > F.col("cut_id"), 1)
            .otherwise(0)
            .alias("recent"),
            F.explode(tokens(F.col("text"))).alias("term"),
        )
        .filter(F.length("term") > 0)
    )
    counts = toks.groupBy("term").agg(
        F.sum("recent").cast("bigint").alias("n_new"),
        F.sum(1 - F.col("recent")).cast("bigint").alias("n_old"),
    )
    tot = counts.agg(
        F.sum("n_new").cast("bigint").alias("tot_new"),
        F.sum("n_old").cast("bigint").alias("tot_old"),
    )
    return (
        counts.filter(F.col("n_new") >= 5)
        .crossJoin(F.broadcast(tot))
        .select(
            "term",
            "n_new",
            "n_old",
            (
                (F.col("n_new") * F.col("tot_old")).cast("double")
                / ((F.col("n_old") + 1) * F.col("tot_new")).cast("double")
            ).alias("burst"),
        )
        .orderBy(F.desc("burst"), F.asc("term"))
        .limit(10)
    )


@query(
    "q_assoc_pmi",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS priority
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), cells AS (
      SELECT segment, priority, CAST(COUNT(*) AS BIGINT) AS c_xy
      FROM j GROUP BY 1, 2
    ), mx AS (
      SELECT segment, CAST(COUNT(*) AS BIGINT) AS c_x FROM j GROUP BY 1
    ), my AS (
      SELECT priority, CAST(COUNT(*) AS BIGINT) AS c_y FROM j GROUP BY 1
    ), tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j
    )
    SELECT cells.segment, cells.priority, cells.c_xy, mx.c_x, my.c_y,
           tot.n,
           (CAST(cells.c_xy AS DOUBLE) * CAST(tot.n AS DOUBLE))
             / (CAST(mx.c_x AS DOUBLE) * CAST(my.c_y AS DOUBLE)) AS lift,
           ROUND(LN((CAST(cells.c_xy AS DOUBLE) * CAST(tot.n AS DOUBLE))
             / (CAST(mx.c_x AS DOUBLE) * CAST(my.c_y AS DOUBLE))), 6)
             AS pmi_round6
    FROM cells JOIN mx ON cells.segment = mx.segment
               JOIN my ON cells.priority = my.priority
               CROSS JOIN tot
    ORDER BY cells.segment, cells.priority
    """,
)
def q_assoc_pmi(spark, sf_dir):
    """ASSOCIATION TABLE between market segment and order priority:
    every contingency cell with its observed count, marginals, lift
    (observed/expected, an exact IEEE ratio), and pointwise mutual
    information ln(lift) rounded to 6 places per row — the exact-count
    decomposition a profiler sums into mutual information, emitted at
    cell grain so no rounded floats are ever added (order-dependent).

    Scale shape: three partial-aggregated counts (cell, two marginals)
    over one shuffled join of fact to broadcast dim; marginals and the
    1-row total broadcast back into the cell table. Cell cardinality
    = |X|·|Y|, independent of row count. No SinglePartition."""
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    j = orders.join(
        cust.select("c_custkey", "c_mktsegment"),
        orders["o_custkey"] == cust["c_custkey"],
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("priority"),
    )
    cells = j.groupBy("segment", "priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    mx = j.groupBy("segment").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_x")
    )
    my = j.groupBy("priority").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_y")
    )
    tot = j.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    lift = (F.col("c_xy").cast("double") * F.col("n").cast("double")) / (
        F.col("c_x").cast("double") * F.col("c_y").cast("double")
    )
    return (
        cells.join(F.broadcast(mx), "segment")
        .join(F.broadcast(my), "priority")
        .crossJoin(F.broadcast(tot))
        .select(
            "segment",
            "priority",
            "c_xy",
            "c_x",
            "c_y",
            "n",
            lift.alias("lift"),
            F.round(F.log(lift), 6).alias("pmi_round6"),
        )
        .orderBy("segment", "priority")
    )


_CHECKPOINTS = (50, 100, 200, 300, 400, 500)


@query(
    "q_vocab_growth",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text),
                    '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
      FROM documents
    ), first_seen AS (
      SELECT w, MIN(doc_id) AS fd FROM toks GROUP BY w
    ), cp AS (
      SELECT UNNEST(ARRAY{list(_CHECKPOINTS)}) AS c
    )
    SELECT CAST(cp.c AS BIGINT) AS checkpoint_docs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM toks
            WHERE doc_id < cp.c) AS n_tokens,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen
            WHERE fd < cp.c) AS n_types,
           (SELECT CAST(COUNT(*) AS DOUBLE) FROM first_seen
            WHERE fd < cp.c)
             / (SELECT CAST(COUNT(*) AS DOUBLE) FROM toks
                WHERE doc_id < cp.c) AS type_token_ratio
    FROM cp ORDER BY checkpoint_docs
    """,
)
def q_vocab_growth(spark, sf_dir):
    """VOCABULARY GROWTH (measured Heaps' law): at each doc-count
    checkpoint, the exact token count and DISTINCT-type count of the
    corpus prefix — the types-vs-tokens curve that sizes a tokenizer
    vocabulary, predicts BPE merge-table growth, and justifies the
    top-K cap on q_text_token_bpe training (VERDICT r4 item 6). A
    flattening curve says the vocab is closed (synthetic word-pool
    corpora flatten instantly; web corpora keep growing ~n^0.5).

    Scale shape: cumulative DISTINCT doesn't decompose, so the exact
    form works on the FIRST-SEEN grain — one MIN(doc_id) per type
    (type-grain aggregate), then each type/token row lands in the
    checkpoints at or after it via one bounded ×|checkpoints|
    broadcast range join (the q_events_stickiness coverage-projection
    trick). No per-prefix rescans, no window over the corpus."""
    docs = read_table(spark, sf_dir, "documents")
    from self_healing_data_pipeline_spark.operators.dedup import normalize_text

    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text("text"), " ")).alias("w"),
    )
    cps = [F.lit(c) for c in _CHECKPOINTS]
    cp = (
        toks.sparkSession.range(1)
        .select(F.explode(F.array(*cps)).alias("c"))
    )
    tok_counts = (
        toks.crossJoin(F.broadcast(cp))
        .where(F.col("doc_id") < F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_tokens"))
    )
    first_seen = toks.groupBy("w").agg(F.min("doc_id").alias("fd"))
    type_counts = (
        first_seen.crossJoin(F.broadcast(cp))
        .where(F.col("fd") < F.col("c"))
        .groupBy("c")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_types"))
    )
    return (
        tok_counts.join(type_counts, "c")
        .select(
            F.col("c").cast("bigint").alias("checkpoint_docs"),
            "n_tokens",
            "n_types",
            (
                F.col("n_types").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("type_token_ratio"),
        )
        .orderBy("checkpoint_docs")
    )


_TOP_WORDS = 30


@query(
    "q_word_burstiness",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text),
                    '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
      FROM documents
    ), n AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks
    ), per_doc AS (
      SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ), moments AS (
      SELECT w,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS df
      FROM per_doc GROUP BY 1
    )
    SELECT w AS word, s1 AS n_occurrences, df AS n_docs_with,
           (CAST(s2 AS DOUBLE) / CAST(n.n_docs AS DOUBLE)
            - (CAST(s1 AS DOUBLE) / CAST(n.n_docs AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))
           / (CAST(s1 AS DOUBLE) / CAST(n.n_docs AS DOUBLE)) AS burstiness
    FROM moments CROSS JOIN n
    ORDER BY s1 DESC, w LIMIT {_TOP_WORDS}
    """,
)
def q_word_burstiness(spark, sf_dir):
    """WORD BURSTINESS: for the corpus's top-30 terms, the
    variance-to-mean ratio (VMR) of per-document counts over ALL
    documents (absences count as zero — handled in closed form:
    with Σc and Σc² over docs that contain the word, mean = Σc/N and
    E[c²] = Σc²/N over the full corpus of N docs). VMR ≈ 1 is
    Poisson scatter (function words); VMR ≫ 1 is bursty/topical —
    the Church-Gale dispersion signal used for stopword discovery
    and keyword weighting next to q_text_zipf / q_text_tfidf_top.

    Scale shape: token explode → (word, doc) count grain → word-grain
    exact integer raw moments (Σc, Σc², df) — two partial-aggregated
    passes, no window; N broadcasts as a 1-row scalar and the VMR is
    a fixed-order float chain per word row. Top-30 by exact total
    count with the word as tie-break (TakeOrderedAndProject)."""
    from self_healing_data_pipeline_spark.operators.dedup import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text("text"), " ")).alias("w"),
    )
    n = toks.agg(
        F.countDistinct("doc_id").cast("bigint").alias("n_docs")
    )
    per_doc = toks.groupBy("w", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    moments = per_doc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    mean = F.col("s1").cast("double") / F.col("n_docs").cast("double")
    ex2 = F.col("s2").cast("double") / F.col("n_docs").cast("double")
    return (
        moments.crossJoin(F.broadcast(n))
        .select(
            F.col("w").alias("word"),
            F.col("s1").alias("n_occurrences"),
            F.col("df").alias("n_docs_with"),
            ((ex2 - mean * mean) / mean).alias("burstiness"),
        )
        .orderBy(F.col("n_occurrences").desc(), "word")
        .limit(_TOP_WORDS)
    )


# SURVEY.md §2.11 text / tokenizer ops: TOKENIZER FERTILITY
# (chars-per-BPE-token by language, on the REAL learned merge table —
# the number that decides whether a tokenizer is economical for a
# language mix, and the standard multilingual-tokenizer comparison stat)
# and STOPWORD DISCOVERY (data-driven stopword candidates from
# document-frequency share + Church-Gale burstiness — the generated list
# that replaces a hand-curated one for unseen domains).
#
# Fertility is rows-only by design (greedy BPE is not ANSI-SQL) with
# two in-row witnesses; stopword discovery is fully oracle-backed
# exact-integer evidence.


# Stopword candidacy: appears in > 1/2 of docs AND per-doc counts are
# not bursty (VMR < 2) — evenly spread, high-coverage words. Exact
# integer cross-multiplications; VMR from integer raw moments.
_DF_NUM, _DF_DEN = 1, 2
_VMR_MAX = 2


# Greedy BPE IS expressible in SQL once the merge table is frozen —
# the recursive-CTE replay of encode_word lives in
# operators.bpe.bpe_wtok_ctes() (shared with the
# q_text_token_bpe_exact oracle since the round-9 promotion of both).
_FERTILITY_ORACLE = f"""
WITH RECURSIVE {bpe_wtok_ctes()}, doc_tok AS (
  SELECT doc_id,
         unnest(regexp_extract_all(lower(text),
                '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS t
  FROM documents
), doc_counts AS (
  -- digit runs / punctuation never collide with the letter-only word
  -- table, so COALESCE(n_tok, 1) is exactly the kernel's "1 token
  -- unless a letter run" rule
  SELECT dt.doc_id, CAST(SUM(COALESCE(wt.n_tok, 1)) AS BIGINT) AS n_tokens
  FROM doc_tok dt LEFT JOIN wtok wt ON dt.t = wt.w
  GROUP BY dt.doc_id
), base AS (
  SELECT d.lang,
         CAST(LENGTH(d.text) AS BIGINT) AS n_chars,
         COALESCE(dc.n_tokens, 0) AS n_tokens,
         CAST(len(regexp_split_to_array(TRIM(d.text), '\\s+'))
              AS BIGINT) AS n_words
  FROM documents d LEFT JOIN doc_counts dc ON d.doc_id = dc.doc_id
), agg AS (
  SELECT lang,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars,
         CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         CAST(SUM(n_words) AS BIGINT) AS total_words
  FROM base GROUP BY lang
)
SELECT lang, n_docs, total_chars, total_tokens, total_words,
       CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE)
         AS chars_per_token,
       CAST(total_tokens AS DOUBLE) / CAST(total_words AS DOUBLE)
         AS tokens_per_word,
       (CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE) > 0
        AND CAST(total_chars AS DOUBLE) / CAST(total_tokens AS DOUBLE) <= 40
        AND total_tokens >= total_words) AS witness_ok
FROM agg ORDER BY lang
"""


@query(
    "q_tokenizer_fertility",
    # Oracle-backed since round 9 (was rows-only; round-8 verdict task
    # #4): with the merge table frozen, greedy BPE is deterministic
    # arithmetic — the oracle replays encode_word per distinct word in
    # a recursive CTE (verified token-identical to the Python kernel on
    # every fixture word) and the driver hash-verifies the fertility
    # numbers themselves.
    oracle=_FERTILITY_ORACLE,
)
def q_tokenizer_fertility(spark, sf_dir):
    """TOKENIZER FERTILITY by language: characters per BPE token under
    the frozen learned merge table (`operators/bpe.py`) — the
    efficiency stat (GPT-style tokenizers report ~4 chars/token for
    English; a language far below the corpus average is being
    fragmented and will pay more context budget per sentence). Also
    reports tokens-per-whitespace-word (subword fan-out).

    Oracle-backed since round 9: the DuckDB twin replays the greedy
    lowest-rank merge loop per DISTINCT word as a recursive CTE over
    the frozen merge table, so exact token counts — not just bounds —
    cross the hash gate. In-row witnesses kept: fertility in (0, 40]
    and BPE tokens ≥ whitespace words (greedy merging can't cross the
    pre-tokenizer split). Scale shape: the Arrow-batched BPE kernel
    (in-batch word memo — per-DISTINCT-word cost under Zipf) runs in
    one narrow projection; everything after is a lang-grain exact-
    integer aggregate. Nothing shuffles document text."""
    from pyspark.sql.functions import pandas_udf

    from self_healing_data_pipeline_spark.operators.bpe import (
        FROZEN_MERGES,
        bpe_token_counter,
    )

    counter = bpe_token_counter(FROZEN_MERGES)
    bpe_count = pandas_udf(counter, "bigint")
    d = read_table(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim("text"), r"\s+")).cast("bigint")
    per_doc = d.select(
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
        bpe_count(F.col("text")).alias("n_tokens"),
        words.alias("n_words"),
    )
    agg = per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_words").cast("bigint").alias("total_words"),
    )
    fertility = F.col("total_chars").cast("double") / F.col(
        "total_tokens"
    ).cast("double")
    fanout = F.col("total_tokens").cast("double") / F.col(
        "total_words"
    ).cast("double")
    return (
        agg.select(
            "lang",
            "n_docs",
            "total_chars",
            "total_tokens",
            "total_words",
            fertility.alias("chars_per_token"),
            fanout.alias("tokens_per_word"),
            (
                (fertility > 0)
                & (fertility <= 40)
                & (F.col("total_tokens") >= F.col("total_words"))
            ).alias("witness_ok"),
        )
        .orderBy("lang")
    )


@query(
    "q_stopword_discovery",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id,
             UNNEST(STRING_SPLIT(TRIM(REGEXP_REPLACE(LOWER(text),
                    '[^a-z0-9]+', ' ', 'g')), ' ')) AS w
      FROM documents
    ), n AS (
      SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs FROM toks
    ), per_doc AS (
      SELECT w, doc_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM toks GROUP BY 1, 2
    ), moments AS (
      SELECT w,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS df
      FROM per_doc GROUP BY 1
    )
    SELECT w AS word, df AS n_docs_with, s1 AS n_occurrences,
           CAST(df AS DOUBLE) / CAST(n.n_docs AS DOUBLE) AS df_share,
           (CAST(s2 AS DOUBLE) / CAST(n.n_docs AS DOUBLE)
            - (CAST(s1 AS DOUBLE) / CAST(n.n_docs AS DOUBLE))
              * (CAST(s1 AS DOUBLE) / CAST(n.n_docs AS DOUBLE)))
           / (CAST(s1 AS DOUBLE) / CAST(n.n_docs AS DOUBLE)) AS burstiness
    FROM moments CROSS JOIN n
    WHERE {_DF_DEN} * df > {_DF_NUM} * n.n_docs
      AND n.n_docs * s2 - s1 * s1 < {_VMR_MAX} * n.n_docs * s1
    ORDER BY word
    """,
)
def q_stopword_discovery(spark, sf_dir):
    """STOPWORD DISCOVERY: words present in more than half of all
    documents whose per-document counts scatter like noise (VMR < 2 —
    evenly spread, not topical) — the data-driven stopword list for a
    domain with no curated one, feeding q_text_stopword_ratio /
    TF-IDF pruning. BOTH filters are exact integer
    cross-multiplications: 2·df > n and n·Σc² − (Σc)² < 2·n·Σc (the
    VMR < 2 inequality multiplied out — no float ever enters a
    predicate, so membership is engine-exact); the reported df_share
    and burstiness are display-only float chains.

    Scale shape: the q_word_burstiness moment pipeline (token explode
    → (word, doc) grain → word-grain integer raw moments) with the
    scalar N broadcast; output bounded by the vocabulary head that
    passes the df filter."""
    from self_healing_data_pipeline_spark.operators.dedup import normalize_text

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(F.split(normalize_text("text"), " ")).alias("w"),
    )
    n = toks.agg(F.countDistinct("doc_id").cast("bigint").alias("n_docs"))
    per_doc = toks.groupBy("w", "doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    moments = per_doc.groupBy("w").agg(
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("df"),
    )
    mean = F.col("s1").cast("double") / F.col("n_docs").cast("double")
    ex2 = F.col("s2").cast("double") / F.col("n_docs").cast("double")
    return (
        moments.crossJoin(F.broadcast(n))
        .where(
            (F.lit(_DF_DEN) * F.col("df") > F.lit(_DF_NUM) * F.col("n_docs"))
            & (
                F.col("n_docs") * F.col("s2") - F.col("s1") * F.col("s1")
                < F.lit(_VMR_MAX) * F.col("n_docs") * F.col("s1")
            )
        )
        .select(
            F.col("w").alias("word"),
            F.col("df").alias("n_docs_with"),
            F.col("s1").alias("n_occurrences"),
            (F.col("df").cast("double") / F.col("n_docs").cast("double")).alias(
                "df_share"
            ),
            ((ex2 - mean * mean) / mean).alias("burstiness"),
        )
        .orderBy("word")
    )


@query(
    "q_text_hashing_features",
    oracle="""
    WITH toks AS (
      SELECT doc_id, UNNEST(str_split(text, ' ')) AS tok
      FROM documents WHERE doc_id % 100 = 0
    )
    SELECT doc_id,
           CAST(STRPOS('0123456789abcdef', SUBSTR(MD5(tok), 1, 1)) - 1
                AS INT) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM toks
    GROUP BY 1, 2
    ORDER BY doc_id, bucket
    """,
)
def q_text_hashing_features(spark, sf_dir):
    """HASHING-TRICK token features: each token maps to one of 16
    buckets by md5 (the fixed-width featurizer training pipelines use
    when the vocabulary is unbounded — no dictionary to build, ship,
    or grow), counts per (doc, bucket). The bucket is the first md5
    hex digit decoded POSITIONALLY ('0123456789abcdef' index
    arithmetic — the repo's portable-hash convention, since both
    engines agree on md5 text but not on hash-to-int casts).

    Scale shape: one tokenize explode (row-local), partial counts
    combine map-side into ≤16 buckets per doc before the shuffle."""
    d = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 100 == 0
    )
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    bucket = (
        F.instr(
            F.lit("0123456789abcdef"), F.substring(F.md5(F.col("tok")), 1, 1)
        )
        - 1
    ).cast("int")
    return (
        tok.groupBy("doc_id", bucket.alias("bucket"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("doc_id", "bucket")
    )


@query(
    "q_oov_rate",
    oracle="""
    WITH toks AS (
      SELECT source, UNNEST(str_split(text, ' ')) AS tok
      FROM documents
    ), vocab AS (
      SELECT tok FROM (
        SELECT tok, ROW_NUMBER() OVER
          (ORDER BY COUNT(*) DESC, tok) AS r
        FROM toks GROUP BY tok
      ) WHERE r <= 1000
    )
    SELECT t.source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE) AS oov_rate
    FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    GROUP BY t.source ORDER BY t.source
    """,
)
def q_oov_rate(spark, sf_dir):
    """OUT-OF-VOCABULARY rate per source against the corpus head
    vocabulary (top-1000 tokens by frequency, deterministic tok
    tie-break) — the tokenizer-coverage metric a training pipeline
    tracks per feed: a source whose OOV rate spikes is drifting away
    from the tokenizer's training distribution.

    Scale shape: token counts aggregate at (token) grain (map-side
    partials), the head vocab is a DISTRIBUTED top-k
    (orderBy+limit → TakeOrderedAndProject — never a global
    row_number window, whose single partition would be vocab-sized),
    and the membership check is a broadcast LEFT join — the token
    stream shuffles once for the frequency count and once at source
    grain."""
    d = read_table(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        counts.orderBy(F.desc("n"), F.asc("tok"))
        .limit(1000)
        .select("tok", F.lit(True).alias("in_vocab"))
    )
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.when(F.col("in_vocab").isNull(), 1).otherwise(0)
            ).alias("n_oov"),
        )
        .select(
            "source",
            "n_tokens",
            "n_oov",
            (
                F.col("n_oov").cast("double")
                / F.col("n_tokens").cast("double")
            ).alias("oov_rate"),
        )
        .orderBy("source")
    )


@query("q_doc_compression_ratio")  # zlib: not SQL-expressible -> rows-only
def q_doc_compression_ratio(spark, sf_dir):
    """Gopher-family COMPRESSIBILITY quality signal: per language, the
    distribution of zlib deflate ratios (compressed/original bytes) —
    highly compressible documents are repetitive boilerplate, nearly
    incompressible ones are noise; both ends get filtered from
    training mixes. Computed in an Arrow-batched pandas UDF over
    stdlib zlib (level 6), aggregated to language grain with exact
    per-mille integer ratios (the float never crosses engines).

    In-row witnesses (rows-only key): ``ratios_in_range`` — every
    doc's ratio lies in (0, 1.6]: deflate's worst case is bounded
    (~11 bytes of header/stored-block overhead), so even the fixture's
    shortest docs stay under 1.6×, while a broken kernel (empty
    output, doubled bytes) flies past it — and ``compressible_corpus``
    — the language's aggregate ratio < 1 (word-pool text always
    deflates in bulk).

    Scale shape: one narrow mapInPandas-style projection (text →
    2 ints), then a language-grain partial aggregate; the shuffle
    carries 16 bytes per doc."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def deflate_len(texts: pd.Series) -> pd.Series:
        import zlib

        return texts.map(
            lambda t: len(zlib.compress(t.encode("utf-8"), 6))
        )

    d = read_table(spark, sf_dir, "documents")
    sized = d.select(
        "lang",
        # octet_length, not length: the UDF compresses UTF-8 BYTES, so
        # raw_len must be bytes too or multi-byte text would inflate
        # per-doc ratios ~3x and flip the ratios_in_range witness
        # (round-8 ADVICE; identical on the ASCII fixture).
        F.octet_length(F.col("text")).cast("long").alias("raw_len"),
        deflate_len(F.col("text")).alias("zip_len"),
    ).select(
        "lang",
        "raw_len",
        "zip_len",
        # exact integer per-mille ratio per doc (floor) — engine-safe
        F.expr("zip_len * 1000 div raw_len").alias("ratio_pm"),
    )
    return (
        sized.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("raw_len").cast("bigint").alias("raw_bytes"),
            F.sum("zip_len").cast("bigint").alias("zip_bytes"),
            F.min("ratio_pm").cast("bigint").alias("min_ratio_pm"),
            F.max("ratio_pm").cast("bigint").alias("max_ratio_pm"),
            (
                (F.min("ratio_pm") > 0)
                & (F.max("ratio_pm") <= 1600)
            ).alias("ratios_in_range"),
            (F.sum("zip_len") < F.sum("raw_len")).alias(
                "compressible_corpus"
            ),
        )
        .orderBy("lang")
    )


_EMAIL_RE = r"[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z][a-zA-Z]+"
_PHONE_RE = r"[0-9][0-9][0-9][-.][0-9][0-9][0-9][-.][0-9][0-9][0-9][0-9]"


@query(
    "q_pii_redact_injected",
    oracle=f"""
    WITH aug AS (
      SELECT doc_id,
             text ||
             CASE WHEN doc_id % 7 = 0
                  THEN ' reach me at user' || CAST(doc_id AS VARCHAR)
                       || '@example.com'
                  ELSE '' END ||
             CASE WHEN doc_id % 11 = 0
                  THEN ' or call 555-123-4567' ELSE '' END AS text
      FROM documents
    ), red AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '{_EMAIL_RE}'))
                  AS BIGINT) AS n_emails,
             CAST(len(regexp_extract_all(text, '{_PHONE_RE}'))
                  AS BIGINT) AS n_phones,
             regexp_replace(
               regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS redacted
      FROM aug
    )
    SELECT doc_id, n_emails, n_phones,
           SUBSTRING(MD5(redacted), 1, 16) AS redacted_digest,
           (len(regexp_extract_all(redacted, '{_EMAIL_RE}')) = 0 AND
            len(regexp_extract_all(redacted, '{_PHONE_RE}')) = 0)
             AS no_pii_left
    FROM red ORDER BY doc_id
    """,
)
def q_pii_redact_injected(spark, sf_dir):
    """PII REDACTION with POSITIVE SIGNAL — q_pii_redact (extras17.py)
    proves the redaction pipeline leaves clean text untouched (the
    fixture corpus is PII-free, so its counts are all zero); this twin
    proves it actually REDACTS. The fixture corpus is PII-free
    word-pool text, so deterministic PII is injected in-query (both
    engines append identical ``user<doc_id>@example.com`` /
    ``555-123-4567`` payloads to the doc_id%7 / %11 strata — the same
    synthesis pattern the multimodal keys use), then redacted. Output
    hash-verifies the per-doc match counts, a digest of the redacted
    text (proves the replacement bytes, not just counts), and a
    ``no_pii_left`` re-scan witness (expected TRUE).

    Plan: one narrow projection — regexp_count + two regexp_replace,
    all JVM codegen, no UDF, no shuffle except the output sort;
    embarrassingly parallel at 100 TB."""
    aug = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 7 == 0,
                F.concat(
                    F.lit(" reach me at user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 11 == 0, F.lit(" or call 555-123-4567")
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(F.col("text"), _EMAIL_RE, "<EMAIL>"),
        _PHONE_RE,
        "<PHONE>",
    )
    return (
        aug.select(
            "doc_id",
            F.regexp_count(F.col("text"), F.lit(_EMAIL_RE))
            .cast("bigint")
            .alias("n_emails"),
            F.regexp_count(F.col("text"), F.lit(_PHONE_RE))
            .cast("bigint")
            .alias("n_phones"),
            F.substring(F.md5(redacted), 1, 16).alias("redacted_digest"),
            (
                (F.regexp_count(redacted, F.lit(_EMAIL_RE)) == 0)
                & (F.regexp_count(redacted, F.lit(_PHONE_RE)) == 0)
            ).alias("no_pii_left"),
        )
        .orderBy("doc_id")
    )
