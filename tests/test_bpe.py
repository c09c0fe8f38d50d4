"""Real-vocab BPE (operators.bpe): trainer determinism, encode
correctness against hand-derivable merges, and the estimate-vs-exact
witness through the Spark query."""

from __future__ import annotations

import pandas as pd

from self_healing_data_pipeline_spark.operators.bpe import (
    EOW,
    FROZEN_MERGES,
    bpe_token_counter,
    encode_word,
    train_bpe_merges,
)


def test_train_learns_expected_merges_on_tiny_corpus(spark):
    """'low' x5 and 'lower' x2: the first merges must come from the
    shared high-frequency stem (classic Sennrich worked example)."""
    docs = spark.createDataFrame(
        [("low low low low low",), ("lower lower",)], "text string"
    )
    merges = train_bpe_merges(docs, "text", n_merges=3)
    # pair counts round 1: (l,o)=7, (o,w)=7, (w,</w>)=5, (w,e)=2 ...
    # ties break lexicographically: (o,w) > (l,o)
    assert merges[0] == ("o", "w")
    assert merges[1] == ("l", "ow")
    assert merges[2] == ("low", EOW)


def test_train_is_deterministic(spark):
    docs = spark.createDataFrame(
        [("the cat sat on the mat",), ("the bat and the rat",)], "text string"
    )
    assert train_bpe_merges(docs, n_merges=10) == train_bpe_merges(
        docs, n_merges=10
    )


def test_encode_word_greedy_lowest_rank():
    ranks = {("o", "w"): 0, ("l", "ow"): 1, ("low", EOW): 2, ("e", "r"): 3}
    assert encode_word("low", ranks) == ["low</w>"]
    assert encode_word("lower", ranks) == ["low", "er", EOW]
    assert encode_word("xyz", ranks) == ["x", "y", "z", EOW]


def test_counter_matches_per_word_encode():
    counter = bpe_token_counter(FROZEN_MERGES)
    ranks = {p: i for i, p in enumerate(FROZEN_MERGES)}
    text = "the spark query group 42!"
    expected = (
        len(encode_word("the", ranks))
        + len(encode_word("spark", ranks))
        + len(encode_word("query", ranks))
        + len(encode_word("group", ranks))
        + 1  # digit run
        + 1  # '!'
    )
    got = counter(pd.Series([text, None, ""])).tolist()
    assert got == [expected, 0, 0]


def test_vocab_cap_bounds_collect_and_preserves_merges(spark):
    """A heavy-tail corpus (many once-only junk 'words' beside a small
    prose head) must train identical merges under a cap that drops the
    tail — and the capped collect must be bounded by max_vocab, not by
    the corpus's distinct-word count."""
    import random

    head = " ".join(["low"] * 50 + ["lower"] * 20)
    rng = random.Random(7)
    junk = " ".join(
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(3))
        for _ in range(500)
    )  # ~500 low-frequency words; no adjacent pair accumulates mass
    docs = spark.createDataFrame([(head,), (junk,)], "text string")
    expected = [("o", "w"), ("l", "ow"), ("low", EOW)]
    # the head dominates every merge decision, so dropping the tail
    # changes nothing: capped == uncapped == the hand-derived merges
    assert train_bpe_merges(docs, n_merges=3, max_vocab=50) == expected
    assert train_bpe_merges(docs, n_merges=3) == expected
    # determinism under the cap: frequency-desc word-asc is a total order
    assert train_bpe_merges(docs, n_merges=3, max_vocab=50) == expected


def test_query_witness_exact_ge_estimate(spark, sf_dir):
    from self_healing_data_pipeline_spark.queries.text import (
        q_text_token_bpe_exact,
    )

    rows = q_text_token_bpe_exact(spark, sf_dir).collect()
    assert rows and all(r["witness_ok"] for r in rows)
    # the frozen vocab is small, so SOME word must actually fragment
    assert any(r["bpe_minus_est"] > 0 for r in rows)
