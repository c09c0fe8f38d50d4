"""Corpus filter-cascade gates — THE single home of the five standard
intake filters (length band, langid confidence, alpha ratio,
mean-word-length band, exact dedup) shared by the batch funnel report
(``queries/corpus.q_filter_cascade``) and its streaming twin
(``streaming/cascade.py``), so gate constants and verdict arithmetic
cannot drift between the two.

Every verdict is an integer comparison or cross-multiplication over
row-local JVM expressions; the dedup key is the md5 of normalized
text. The q_filter_cascade oracle mirrors these token-for-token.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from self_healing_data_pipeline_spark.operators.dedup import normalize_text
from self_healing_data_pipeline_spark.operators.text import lang_id

#: Gate constants (mirrored literally in the q_filter_cascade oracle).
LEN_MIN, LEN_MAX = 100, 20000
WLEN_MIN, WLEN_MAX = 3, 12

STAGE_NAMES = ("length", "langid", "alpha", "word_len", "exact_dedup")


def cascade_flags(docs: DataFrame) -> DataFrame:
    """(doc_id, fp, pass_len, pass_lang, pass_alpha, pass_wlen, s4):
    the four row-local gates plus the cumulative survivor flag after
    them. One narrow scan, no shuffle — the dedup stage (which needs
    the fingerprint grain) is applied by the CALLER, because batch and
    streaming resolve "first survivor per fingerprint" differently
    (a window over the corpus vs a registry over history)."""
    norm = normalize_text("text")
    n_toks = F.length(norm) - F.length(F.regexp_replace(norm, " ", "")) + 1
    alpha = F.length(F.regexp_replace("text", "[^a-zA-Z]", ""))
    return docs.select(
        "doc_id",
        F.md5(norm).alias("fp"),
        (F.col("n_chars").between(LEN_MIN, LEN_MAX)).alias("pass_len"),
        (lang_id("text") != "und").alias("pass_lang"),
        (2 * alpha >= F.length("text")).alias("pass_alpha"),
        (
            (WLEN_MIN * n_toks <= F.col("n_chars"))
            & (F.col("n_chars") <= WLEN_MAX * n_toks)
        ).alias("pass_wlen"),
    ).withColumn(
        "s4",
        F.col("pass_len")
        & F.col("pass_lang")
        & F.col("pass_alpha")
        & F.col("pass_wlen"),
    )
