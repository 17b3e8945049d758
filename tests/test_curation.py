"""Corpus curation pipeline: planted low-quality / exact-dup /
near-dup docs get the right fate; survivors carry annotations."""

from __future__ import annotations
import pytest

from reddit_hn_etl_spark.plans.llm_data_pipeline import (
    CurationConfig,
    corpus_stats,
    curate_corpus,
)

GOOD_A = (
    "the quick brown fox jumps over the lazy dog and runs to the river "
    "bank with a happy grin that is wide and bright in the morning sun"
)
GOOD_B = (
    "spark dataframes shuffle partitions and the optimizer prunes columns "
    "while the executor pipelines operators in a tight codegen loop today"
)
NEAR_A = GOOD_A.replace("morning sun", "evening moon")
LOW_Q = "!!! ??? ***"  # punctuation-only → quality gate

DOCS = [
    (1, GOOD_A),
    (2, GOOD_B),
    (3, GOOD_A),      # exact dup of 1 → dropped (keeper is min id)
    (4, NEAR_A),      # near dup of 1 → dropped (higher id of the pair)
    (5, LOW_Q),       # low quality
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


@pytest.mark.exhaustive
def test_curation_fates(spark):
    kept, fate = curate_corpus(
        _docs(spark), config=CurationConfig(min_quality=0.5, minhash_threshold=0.5)
    )
    fates = {r.doc_id: r.fate for r in fate.collect()}
    assert fates[1] == "kept"
    assert fates[2] == "kept"
    assert fates[3] == "exact_dup"
    assert fates[4] == "near_dup"
    assert fates[5] == "low_quality"

    kept_rows = {r.doc_id: r for r in kept.collect()}
    assert sorted(kept_rows) == [1, 2]
    r = kept_rows[1]
    assert r.quality_score >= 0.5 and r.n_tokens_bpe > 20
    assert r.lang_pred == "en" and len(r.fingerprint) == 32


def test_corpus_stats(spark):
    kept, _ = curate_corpus(
        _docs(spark), config=CurationConfig(min_quality=0.5, minhash_threshold=0.5)
    )
    s = corpus_stats(kept).collect()[0]
    assert s.n_docs == 2
    assert s.total_tokens_bpe > 40 and s.avg_quality >= 0.5


def test_lang_filter(spark):
    kept, fate = curate_corpus(
        _docs(spark),
        config=CurationConfig(
            min_quality=0.5, minhash_threshold=0.5, allowed_langs=("de",)
        ),
    )
    fates = {r.doc_id: r.fate for r in fate.collect()}
    # english docs now rejected on language
    assert fates[1] == "wrong_lang" and fates[2] == "wrong_lang"
    assert kept.count() == 0


@pytest.mark.exhaustive
def test_keep_best_quality_policy(spark):
    # near-dup pair where the HIGHER id is the higher-quality member:
    # doc 10 is doc 11 plus punctuation junk (lower alpha_ratio).
    # min_id keeps 10; best_quality must keep 11 instead.
    docs = spark.createDataFrame(
        [(10, GOOD_A + " !!! ??? ***"), (11, GOOD_A), (12, GOOD_B)],
        "doc_id long, text string",
    )
    base_cfg = dict(min_quality=0.3, minhash_threshold=0.5)

    kept_min, _ = curate_corpus(docs, config=CurationConfig(**base_cfg))
    assert sorted(r.doc_id for r in kept_min.collect()) == [10, 12]

    kept_best, fate = curate_corpus(
        docs, config=CurationConfig(**base_cfg, keep_policy="best_quality")
    )
    assert sorted(r.doc_id for r in kept_best.collect()) == [11, 12]
    fates = {r.doc_id: r.fate for r in fate.collect()}
    assert fates == {10: "near_dup", 11: "kept", 12: "kept"}


def test_curate_corpus_construction_jobs(spark):
    """Spark jobs ``curate_corpus`` runs while it builds its frames:
    the eager MinHash band checkpoint and the near-dup graph's eager
    edge checkpoint, each one job per adaptive-execution stage, while
    the in-memory components finish runs in the caller's action. The
    band checkpoint's input is already shuffled (the quality join and
    exact dedup); ``fan_out_narrow_input`` decides it from its plan
    without running it. The count moves by one between identical
    calls (6 or 7 band-checkpoint jobs, as adaptive execution orders
    its stages), so it is pinned to that range."""
    from .conftest import _jobs

    (_, fate), build = _jobs(
        spark, "curate_build",
        lambda: curate_corpus(
            _docs(spark),
            config=CurationConfig(min_quality=0.5, minhash_threshold=0.5),
        ),
    )
    assert 11 <= build <= 12
    assert {r.doc_id: r.fate for r in fate.collect()} == {
        1: "kept", 2: "kept", 3: "exact_dup", 4: "near_dup", 5: "low_quality"
    }
