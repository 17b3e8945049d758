"""BPE tokenizer training and application (Sennrich et al. 2016).

The tokenizer-training step of an LLM data pipeline, Spark-first:

* **`word_frequencies` is the only corpus-scale pass** — one
  heavily-combinable groupBy from N documents down to the bounded
  word vocabulary. This mirrors how production trainers work
  (HF tokenizers / sentencepiece train on the word-count table, not
  the raw corpus): at 100 TB the corpus scan is distributed and the
  vocabulary that reaches the driver is millions of rows, not
  billions (cap it with ``min_count`` / ``top_words``).
* **The merge loop is driver-side over the vocab dict** — pure
  Python on (word, count) pairs, deterministic tie-break
  (max pair count, then lexicographically smallest pair), exactly
  the reference algorithm from the paper.
* **Application is embarrassingly parallel** — `bpe_tokenize` runs
  the learned merge ranks over documents via Arrow-batched
  `mapInPandas` (Python is unavoidable for the greedy merge loop;
  the batch transfer keeps it off the row-at-a-time slow path), with
  a per-batch word cache so each distinct word is segmented once per
  batch, not once per occurrence.

`bpe_merge_pairs` (plans/queries.py) oracle-checks the distributed
pair-counting shape; the trainer itself is verified against the
paper's worked example and by structural properties in
tests/test_bpe.py (the loop is not SQL-expressible — SURVEY §2.12
policy).
"""

from __future__ import annotations

from collections import Counter
from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.dedup import tokens

END = "</w>"  # end-of-word marker so merges can span the boundary


def word_frequencies(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 1,
    top_words: int | None = None,
) -> DataFrame:
    """(word, cnt) over the corpus — one explode + one combinable
    shuffle. ``min_count``/``top_words`` bound what reaches the
    driver at scale (frequency-capped vocabularies are standard)."""
    wf = (
        df.select(F.explode(tokens(text_col)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .where(F.col("cnt") >= min_count)
    )
    if top_words is not None:
        wf = wf.orderBy(F.desc("cnt"), F.asc("word")).limit(top_words)
    return wf


def train_bpe(
    word_counts: list[tuple[str, int]], n_merges: int
) -> list[tuple[str, str]]:
    """Learn ``n_merges`` merges from a (word, count) vocabulary —
    the Sennrich algorithm verbatim: repeatedly count adjacent symbol
    pairs weighted by word frequency, merge the most frequent pair.
    Deterministic: ties break to the lexicographically smallest pair,
    so the merge list is a pure function of the vocabulary."""
    vocab: dict[tuple[str, ...], int] = {
        tuple(list(w) + [END]): c for w, c in word_counts if w
    }
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        pairs: Counter[tuple[str, str]] = Counter()
        for syms, c in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pairs[(a, b)] += c
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        merged = best[0] + best[1]
        new_vocab: dict[tuple[str, ...], int] = {}
        for syms, c in vocab.items():
            out: list[str] = []
            i = 0
            while i < len(syms):
                if (
                    i + 1 < len(syms)
                    and syms[i] == best[0]
                    and syms[i + 1] == best[1]
                ):
                    out.append(merged)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
        vocab = new_vocab
    return merges


def train_bpe_distributed(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 1,
    top_words: int | None = 262_144,
    max_vocab_rows: int = 4_000_000,
) -> list[tuple[str, str]]:
    """Corpus scan distributed, merge loop on the collected vocab.

    .. note:: **BEHAVIOR CHANGE (r7)** — ``top_words`` used to default
       to ``None`` (full vocabulary). It now defaults to 256k, which
       can change merge sequences in the long tail for corpora with
       larger vocabularies; when the cap actually truncates, a
       ``UserWarning`` is emitted so the change is never silent.
       Pass ``top_words=None`` to restore the old behavior.

    Scale contract: the (word, count) vocabulary is driver-collected
    for the serial Sennrich merge loop, so it must be bounded.
    ``top_words`` defaults to 256k (frequency-capped vocabularies are
    standard for tokenizer training and change merges only in the
    long tail); passing ``top_words=None`` explicitly opts into the
    full vocabulary, which at open-vocabulary 100 TB scale is
    data-sized — guarded by a loud ``max_vocab_rows`` check rather
    than a silent driver OOM, checked before the collect."""
    wf = word_frequencies(
        df, text_col=text_col, min_count=min_count, top_words=top_words
    )
    if top_words is None:
        n_vocab = wf.count()
        if n_vocab > max_vocab_rows:
            raise ValueError(
                f"train_bpe_distributed: full vocabulary has {n_vocab} "
                f"rows > max_vocab_rows={max_vocab_rows}; collecting it "
                "would OOM the driver. Pass top_words (frequency cap) "
                "or raise min_count to bound the vocabulary."
            )
    counts = [(r["word"], r["cnt"]) for r in wf.collect()]
    if top_words is not None and len(counts) >= top_words:
        import warnings

        warnings.warn(
            f"train_bpe_distributed: vocabulary truncated to "
            f"top_words={top_words}; merges may differ in the long "
            "tail vs full-vocabulary training (pre-r7 default). Pass "
            "top_words=None for the uncapped behavior.",
            UserWarning,
            stacklevel=2,
        )
    return train_bpe(counts, n_merges)


def segment_word(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy rank-ordered application (the GPT-2 scheme): always
    merge the pair with the LOWEST learned rank next — reproduces the
    trainer's segmentation for any word, seen or unseen."""
    syms = list(word) + [END]
    while len(syms) > 1:
        ranked = [
            (ranks[(a, b)], i)
            for i, (a, b) in enumerate(zip(syms, syms[1:]))
            if (a, b) in ranks
        ]
        if not ranked:
            break
        _, i = min(ranked)
        syms[i : i + 2] = [syms[i] + syms[i + 1]]
    return syms


def bpe_tokenize(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, bpe_tokens array<string>, n_bpe_tokens) per document.

    Arrow-batched `mapInPandas`; the merge table ships once per task
    in the closure (kilobytes), and a per-batch cache segments each
    distinct word once. No shuffle — pure projection parallelism.
    """
    ranks = {p: i for i, p in enumerate(merges)}
    out_schema = f"{id_col} long, bpe_tokens array<string>, n_bpe_tokens int"

    def run(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        cache: dict[str, list[str]] = {}

        def seg(word: str) -> list[str]:
            got = cache.get(word)
            if got is None:
                got = cache[word] = segment_word(word, ranks)
            return got

        for pdf in batches:
            toks = []
            for text in pdf[text_col]:
                words = (text or "").lower().split()
                doc: list[str] = []
                for w in words:
                    doc.extend(seg(w))
                toks.append(doc)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "bpe_tokens": toks,
                    "n_bpe_tokens": [len(t) for t in toks],
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)


def vocab_from_merges(merges: list[tuple[str, str]]) -> dict[str, int]:
    """Deterministic token→id table: byte-ish base symbols (sorted
    printable ASCII + the end marker) first, then merged symbols in
    merge order — the GPT-2 vocabulary layout, a pure function of the
    merge list so every engine/run agrees."""
    base = [chr(c) for c in range(32, 127)] + [END]
    vocab: dict[str, int] = {}
    for s in base:
        vocab[s] = len(vocab)
    for a, b in merges:
        m = a + b
        if m not in vocab:
            vocab[m] = len(vocab)
    return vocab


def bpe_encode_ids(
    df: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    unk_id: int = -1,
) -> DataFrame:
    """(id, token_ids array<int>, n_tokens, n_unk): the
    tokenize-to-ids step models actually consume — segmentation via
    the learned merge ranks, then vocabulary lookup (symbols outside
    the deterministic vocab map to ``unk_id``). Same Arrow-batched
    shape and per-batch word cache as `bpe_tokenize`; pairs with
    `pack_token_budget` for shard assembly."""
    ranks = {p: i for i, p in enumerate(merges)}
    vocab = vocab_from_merges(merges)
    out_schema = (
        f"{id_col} long, token_ids array<int>, n_tokens int, n_unk int"
    )

    def run(batches: Iterator["object"]) -> Iterator["object"]:
        import pandas as pd

        cache: dict[str, list[int]] = {}

        def ids(word: str) -> list[int]:
            got = cache.get(word)
            if got is None:
                got = cache[word] = [
                    vocab.get(s, unk_id)
                    for s in segment_word(word, ranks)
                ]
            return got

        for pdf in batches:
            col, nt, nu = [], [], []
            for text in pdf[text_col]:
                doc: list[int] = []
                for w in (text or "").lower().split():
                    doc.extend(ids(w))
                col.append(doc)
                nt.append(len(doc))
                nu.append(sum(1 for t in doc if t == unk_id))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "token_ids": col,
                    "n_tokens": nt,
                    "n_unk": nu,
                }
            )

    return df.select(id_col, text_col).mapInPandas(run, schema=out_schema)
