"""CI pin for the IVFADC compression-loses-nothing invariant (round-11
verdict task 8, the q_neardup_registry discipline): the bench key
q_ann_ivfadc keeps the oracle-backed contract view (recall >= floor),
while the heavyweight invariant branch — the full IVF-only exact
scoring path on the same probe budget — runs once per CI here instead
of on every bench pass."""

from __future__ import annotations

from self_healing_data_pipeline_spark.queries.similarity import (
    _PQ_INDEX_CACHE,
    _RECALL_FLOOR,
    ivfadc_per_probe,
)


def test_ivfadc_never_worse_than_ivf_on_same_probe_budget(spark, sf_dir):
    rows = ivfadc_per_probe(spark, sf_dir, with_ivf=True).collect()
    assert rows, "empty probe panel"
    for r in rows:
        # the refine step restores exact ordering whenever the ADC
        # shortlist retains the candidates' true top-k — compression
        # must lose NOTHING the probe budget had found
        assert r["ivfadc_overlap"] >= r["ivf_overlap"], (
            f"probe {r['probe_id']}: ivfadc overlap {r['ivfadc_overlap']} "
            f"< ivf overlap {r['ivf_overlap']} — the ADC shortlist "
            "dropped a true neighbor the probed lists contained"
        )
        # and the bench key's own witness clause holds on the same run
        assert r["ivfadc_overlap"] >= _RECALL_FLOOR * r["n_exact"]


def test_trained_index_cache_is_corpus_fingerprinted(spark, sf_dir):
    """Two calls in one session hit one training run; the cache key
    carries the corpus fingerprint so a regenerated fixture would
    invalidate it (same rule as the FK catalog memo)."""
    ivfadc_per_probe(spark, sf_dir, with_ivf=False).collect()
    keys = [k for k in _PQ_INDEX_CACHE if sf_dir in k[1]]
    assert keys, "trained index not cached"
    app, path, fp = keys[-1]
    assert app == spark.sparkContext.applicationId
    assert fp and all(len(entry) == 3 for entry in fp)
