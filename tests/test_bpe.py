"""BPE training/application (functions/bpe.py).

The merge loop is not SQL-expressible, so instead of a registry
oracle it gets: the paper's worked example, an independent DuckDB
cross-check of the distributed word-count pass, round-trip and
monotonicity properties, and driver-vs-cluster application parity.
"""

from __future__ import annotations

from reddit_hn_etl_spark.functions import bpe
from reddit_hn_etl_spark.sources.tables import read_table


def test_train_matches_sennrich_worked_example():
    """Vocabulary from the BPE paper (Sennrich et al. 2016, §3.2):
    first merges grow 'est</w>' out of (e,s) → (es,t) → (est,</w>)
    under the count-then-lexicographic tie-break."""
    counts = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = bpe.train_bpe(counts, 4)
    assert merges[0] == ("e", "s")
    assert merges[1] == ("es", "t")
    assert merges[2] == ("est", "</w>")
    # next: 'l o' (7) beats 'n e'/'w est</w>' (6)
    assert merges[3] == ("l", "o")


def test_segment_word_round_trip_and_unseen():
    counts = [("low", 5), ("lower", 2), ("newest", 6), ("widest", 3)]
    merges = bpe.train_bpe(counts, 8)
    ranks = {p: i for i, p in enumerate(merges)}
    for w in ["low", "lower", "newest", "widest", "lowest", "wide", "zzz"]:
        segs = bpe.segment_word(w, ranks)
        assert "".join(segs).replace(bpe.END, "") == w
    # 8 merges fully absorb the most frequent word; with only the
    # first 3 the suffix merge stops at est</w>
    assert bpe.segment_word("newest", ranks) == ["newest</w>"]
    ranks3 = {p: i for i, p in enumerate(merges[:3])}
    assert bpe.segment_word("newest", ranks3)[-1] == "est</w>"


def test_zero_merges_yield_characters():
    segs = bpe.segment_word("abc", {})
    assert segs == ["a", "b", "c", bpe.END]


def test_distributed_word_counts_match_duckdb(spark, duck, sf_dir):
    """The one corpus-scale pass cross-checked against an independent
    engine: training on Spark's word counts and on DuckDB's must give
    the identical merge list (pure function of the vocabulary)."""
    docs = read_table(spark, sf_dir, "documents")
    spark_merges = bpe.train_bpe_distributed(docs, n_merges=12)
    rows = duck.execute(
        r"""
        SELECT w AS word, COUNT(*) AS cnt FROM (
            SELECT unnest(list_filter(
                string_split_regex(lower(trim(text)), '\s+'),
                x -> x <> '')) AS w
            FROM documents
        ) GROUP BY w
        """
    ).fetchall()
    duck_merges = bpe.train_bpe([(w, c) for w, c in rows], 12)
    assert spark_merges == duck_merges
    assert len(spark_merges) == 12


def test_bpe_tokenize_matches_driver_and_is_monotone(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").limit(50)
    merges_few = bpe.train_bpe_distributed(docs, n_merges=3)
    merges_many = bpe.train_bpe_distributed(docs, n_merges=15)
    few = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in bpe.bpe_tokenize(docs, merges_few).collect()
    }
    out = bpe.bpe_tokenize(docs, merges_many)
    got = {r["doc_id"]: (list(r["bpe_tokens"]), r["n_bpe_tokens"]) for r in out.collect()}
    ranks = {p: i for i, p in enumerate(merges_many)}
    for r in docs.select("doc_id", "text").collect():
        expect: list[str] = []
        for w in (r["text"] or "").lower().split():
            expect.extend(bpe.segment_word(w, ranks))
        toks, n = got[r["doc_id"]]
        assert toks == expect
        assert n == len(expect)
        assert n <= few[r["doc_id"]]  # more merges never add tokens


def test_vocab_and_encode_ids_round_trip(spark, sf_dir):
    """Vocabulary layout is deterministic (base symbols then merges);
    decoding ids through the reverse vocab reconstructs the
    segmentation; unk accounting is exact for out-of-vocab symbols."""
    docs = read_table(spark, sf_dir, "documents").limit(40)
    merges = bpe.train_bpe_distributed(docs, n_merges=10)
    vocab = bpe.vocab_from_merges(merges)
    # base ASCII block is stable and merges extend it in order
    assert vocab["a"] == ord("a") - 32
    assert vocab[bpe.END] == 95
    assert len(vocab) <= 96 + 10
    rev = {i: s for s, i in vocab.items()}
    ranks = {p: i for i, p in enumerate(merges)}
    out = {
        r["doc_id"]: (list(r["token_ids"]), r["n_tokens"], r["n_unk"])
        for r in bpe.bpe_encode_ids(docs, merges).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        ids, n, nu = out[r["doc_id"]]
        assert n == len(ids)
        assert nu == sum(1 for t in ids if t == -1)
        expect: list[str] = []
        for w in (r["text"] or "").lower().split():
            expect.extend(bpe.segment_word(w, ranks))
        got_syms = [rev.get(t, "<unk>") for t in ids]
        # ascii corpus: nothing is unk, and symbols round-trip
        assert nu == 0
        assert got_syms == expect


def test_encode_ids_marks_unknown_symbols(spark):
    df = spark.createDataFrame(
        [(1, "abc $unicodeé$")], "doc_id long, text string"
    )
    out = bpe.bpe_encode_ids(df, merges=[]).first()
    # é is outside the base ASCII vocab -> exactly one unk
    assert out["n_unk"] == 1
    assert out["token_ids"].count(-1) == 1


def test_unbounded_vocab_guard_fires(spark, sf_dir):
    """Explicit top_words=None opts into the full vocabulary; the
    loud max_vocab_rows guard must fail before the driver collect."""
    import pytest

    docs = read_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="max_vocab_rows"):
        bpe.train_bpe_distributed(
            docs, n_merges=2, top_words=None, max_vocab_rows=5
        )
